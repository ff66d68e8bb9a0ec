package graft.operators

import org.apache.spark.sql.functions._
import graft.{Functions, QueryDef, Tables}

/** Pipeline coverage batch 28 — fine-grained curation: sub-document
  * quality surgery, event-stream repair, and label-noise mining.
  *
  *  - p108 block-level LM trim: instead of dropping whole documents on a
  *    perplexity score (p107), score every 10-token block under the
  *    corpus unigram LM and trim the blocks under the corpus P10 — the
  *    within-document analogue of CCNet filtering that saves documents
  *    whose prose is fine except for an embedded junk run.
  *
  *  - p109 event dedup within the hour: at-least-once delivery repair —
  *    events identical in (user, type) inside one hour bucket collapse
  *    to the earliest, the batch twin of
  *    `dropDuplicatesWithinWatermark` (streaming/DocumentStreams.scala).
  *
  *  - p110 centroid outlier screen: per-label embedding outliers by
  *    cosine-to-centroid z-score — the standard mislabeled-example /
  *    poisoned-batch triage pass before contrastive training. Centroid
  *    and moments ride the p43 DECIMAL grid so both engines derive
  *    bitwise-identical thresholds.
  */
object PipelineQueries28 {

  /** p108: block width (tokens) and trim percentile. */
  private val BlockW = 10
  private val TrimP = 0.10

  /** p110: z-score cut (σ below the label mean). */
  private val ZCut = 2.5

  val defs: Seq[QueryDef] = Seq(

    // ----------------------- block-level LM trim (p108)

    // Scale shape: tokens are scored map-side against the BROADCAST
    // top-1000 vocabulary (p25's shape — the corpus is never shuffled by
    // token); block scores are one (doc, block) partial-aggregated
    // groupBy; the global P10 cutoff is an ExactPercentile over the
    // 6dp-ROUNDED block scores (bounded histogram state), broadcast back
    // so the keep decision is map-only. Rounding before the quantile
    // means both engines interpolate bitwise-identical inputs — a block
    // can never land between the two engines' cutoffs.
    QueryDef("p108_block_lm_trim", Some("""
      WITH tt AS (
        SELECT doc_id, t[1:len(t) - len(t) % 10] AS t FROM (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
          FROM documents) x
        WHERE len(t) >= 10),
      pt AS (
        SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(t) + 1),
                        i -> {'pos': i, 'tok': t[i]})) AS u
          FROM tt) y),
      tf AS (SELECT tok, count(*) AS c FROM pt GROUP BY tok),
      tot AS (SELECT sum(c) AS n FROM tf),
      top AS (SELECT tok, c FROM (
        SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rn FROM tf) t
        WHERE rn <= 1000),
      blk AS (
        SELECT pt.doc_id, CAST(floor((pt.pos - 1) / 10) AS BIGINT) AS blk,
               round(avg(ln(coalesce(top.c, 0.5) / tot.n)), 6) AS score
        FROM pt LEFT JOIN top ON pt.tok = top.tok CROSS JOIN tot
        GROUP BY pt.doc_id, floor((pt.pos - 1) / 10)),
      cut AS (SELECT quantile_cont(score, 0.10) AS cut FROM blk)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(count(*) FILTER (WHERE score >= cut) AS BIGINT) AS kept_blocks,
             round(CAST(count(*) FILTER (WHERE score >= cut) AS DOUBLE)
                   / count(*), 6) AS retained_fraction
      FROM blk CROSS JOIN cut
      GROUP BY doc_id ORDER BY doc_id""")) { (s, dir) =>
      val tt = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("t"))
        .filter(size(col("t")) >= BlockW)
        .select(col("doc_id"),
          slice(col("t"), lit(1), size(col("t")) - (size(col("t")) % BlockW)).as("t"))
      val pt = tt.select(col("doc_id"), posexplode(col("t")))
        .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
      val tf = pt.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val tot = tf.agg(sum(col("c")).as("n"))
      val top = tf.orderBy(col("c").desc, col("tok")).limit(1000)
      val blk = pt.join(broadcast(top), Seq("tok"), "left")
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"),
          floor((col("pos") - 1) / BlockW).cast("long").as("blk"))
        .agg(round(avg(log(coalesce(col("c"), lit(0.5)) / col("n"))), 6).as("score"))
      val cut = ExactPercentile.percentiles(
        blk.withColumn("__g", lit(1)), "__g", col("score"), Seq(TrimP -> "cut"))
        .drop("__g")
      val kept = count(when(col("score") >= col("cut"), 1))
      blk.crossJoin(broadcast(cut))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          kept.as("kept_blocks"),
          round(kept.cast("double") / count(lit(1)), 6).as("retained_fraction"))
        .orderBy(col("doc_id"))
    },

    // ----------------- event dedup within the hour (p109)

    // Scale shape: ONE partial-aggregated groupBy on (user, type, hour)
    // — retry storms collapse map-side because duplicates share the
    // grouping key — then an event_type-bounded rollup. The streaming
    // twin keeps the same key with a watermark instead of the hour bucket
    // (dropDuplicatesWithinWatermark). The payload `value` is NOT part of
    // the identity: delivery retries re-jitter payload floats, which is
    // exactly why production dedup keys on the logical identity.
    QueryDef.sql("p109_event_window_dedup", """
      WITH k AS (
        SELECT user_id, event_type, date_trunc('hour', ts) AS hb,
               min(ts) AS first_ts, count(*) AS c
        FROM events GROUP BY user_id, event_type, date_trunc('hour', ts))
      SELECT event_type,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_kept,
             CAST(sum(c) - count(*) AS BIGINT) AS n_removed,
             round(CAST(sum(c) - count(*) AS DOUBLE) / sum(c), 6) AS dup_rate
      FROM k GROUP BY event_type ORDER BY event_type"""),

    // ------------------ centroid outlier screen (p110)

    // Scale shape: centroids are a (label, dim) partial-aggregated
    // groupBy on the p43 DECIMAL grid, re-assembled label-wise and
    // BROADCAST; scoring is map-only. The per-label moments (mean, σ of
    // the 9dp-gridded cosine) come from exact DECIMAL sums — Σd as
    // DECIMAL(38,9), Σd² as DECIMAL(18,9)×DECIMAL(18,9)=DECIMAL(36,18),
    // exact in both engines — so the µ−2.5σ threshold is derived from
    // bitwise-identical doubles and a vector can never straddle the two
    // engines' flags. sqrt is IEEE-exact; no libm variance.
    QueryDef("p110_centroid_outliers", Some("""
      WITH u AS (
        SELECT label, vec_id,
               unnest(list_transform(range(1, CAST(len(embedding) AS BIGINT) + 1),
                 x -> CAST(x AS BIGINT))) AS dim,
               embedding
        FROM embeddings),
      uv AS (SELECT label, vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS val FROM u),
      cent AS (
        SELECT label, dim,
               CAST(sum(CAST(round(val, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS m
        FROM uv GROUP BY label, dim),
      cvec AS (SELECT label, list(m ORDER BY dim) AS cv FROM cent GROUP BY label),
      c AS (
        SELECT e.label, e.vec_id,
               round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cv), 9) AS d
        FROM embeddings e JOIN cvec ON e.label = cvec.label),
      mom AS (
        SELECT label, count(*) AS n,
               CAST(sum(CAST(d AS DECIMAL(38,9))) AS DOUBLE) AS s1,
               CAST(sum(CAST(d AS DECIMAL(18,9)) * CAST(d AS DECIMAL(18,9)))
                    AS DOUBLE) AS s2
        FROM c GROUP BY label),
      thr AS (
        SELECT label, s1 / n AS mu,
               sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) AS sigma
        FROM mom)
      SELECT c.label, c.vec_id,
             round(c.d, 6) AS cos_centroid,
             round((c.d - thr.mu) / thr.sigma, 4) AS z
      FROM c JOIN thr ON c.label = thr.label
      WHERE c.d < thr.mu - 2.5 * thr.sigma
      ORDER BY c.label, c.vec_id""")) { (s, dir) =>
      val e = Tables.df(s, dir, "embeddings")
      val cvec = Kit.centroids(e, Seq("label"), col("embedding"))
      val c = e.join(broadcast(cvec), Seq("label"))
        .select(col("label"), col("vec_id"),
          round(Functions.cosineSimilarity(col("embedding"), col("cv")), 9).as("d"))
      val mom = c.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          Kit.dsum(col("d"), 9).as("s1"),
          sum(col("d").cast("decimal(18,9)") * col("d").cast("decimal(18,9)"))
            .cast("double").as("s2"))
      val thr = mom.select(col("label"), (col("s1") / col("n")).as("mu"),
        sqrt(greatest(col("s2") / col("n") -
          (col("s1") / col("n")) * (col("s1") / col("n")), lit(0.0))).as("sigma"))
      c.join(broadcast(thr), Seq("label"))
        .filter(col("d") < col("mu") - lit(ZCut) * col("sigma"))
        .select(col("label"), col("vec_id"),
          round(col("d"), 6).as("cos_centroid"),
          round((col("d") - col("mu")) / col("sigma"), 4).as("z"))
        .orderBy(col("label"), col("vec_id"))
    }
  )
}
