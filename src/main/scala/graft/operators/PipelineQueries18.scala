package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 18 — incremental ingest dedup, ensemble quality
  * scoring, and embedding feature statistics:
  *
  *  - p84 incremental MinHash dedup: a new crawl shard screened against an
  *    existing corpus snapshot — LSH candidates restricted to CROSS-split
  *    pairs (new×old only), each candidate exact-verified, every new doc
  *    getting a keep/drop verdict. This is the shape production dedup
  *    actually runs (nobody re-dedups the whole corpus per ingest; p26's
  *    bloom tier is the exact-hash analogue of the same asymmetry).
  *  - p85 quality-ensemble deciles: several row-local quality signals
  *    fused into one weighted score, decile boundaries computed exactly
  *    (bounded-domain histogram), corpus profiled per decile — the
  *    FineWeb/DCLM-style filter-calibration table.
  *  - p86 embedding dimension stats: per-dimension mean/variance/extrema
  *    on an exact fixed-point grid — the normalization pass that feeds
  *    whitening/quantization, order-independent by construction.
  */
object PipelineQueries18 {

  /** p84: docs with doc_id % 10 >= `SplitMod` form the incoming shard. */
  private val SplitMod = 8
  private val DupThreshold = 0.5

  /** p85: ensemble weights (sum to 1) over the three signals. */
  private val WDistinct = 0.4
  private val WStop = 0.4
  private val WLen = 0.2
  private val Stopwords = Seq("a", "the")

  /** The p85 ensemble score over a token-array column — factored out so
    * p96's dedup-quality interaction provably scores with the same kernel.
    * [[ensembleScoreSql]] is the DuckDB spelling over a list column `$w`. */
  private[operators] def ensembleScore(w: Column): Column = {
    val stopArr = array(Stopwords.map(lit(_)): _*)
    round(
      lit(WDistinct) * (size(array_distinct(w)).cast("double") / size(w))
        + lit(WStop) * (lit(1.0) -
          size(filter(w, x => array_contains(stopArr, x))).cast("double") / size(w))
        + lit(WLen) * least(size(w).cast("double") / 100.0, lit(1.0)),
      2)
  }

  private[operators] def ensembleScoreSql(w: String): String =
    s"""round($WDistinct * (CAST(len(list_distinct($w)) AS DOUBLE) / len($w))
       + $WStop * (1.0 - CAST(len(list_filter($w,
           x -> x IN (${Stopwords.map("'" + _ + "'").mkString(", ")}))) AS DOUBLE) / len($w))
       + $WLen * least(CAST(len($w) AS DOUBLE) / 100.0, 1.0), 2)"""

  val defs: Seq[QueryDef] = Seq(

    // ------------------ incremental MinHash dedup (p84)

    // Scale shape: the snapshot side's band table is the thing a real
    // pipeline persists between ingests; both sides band independently
    // (one scan each), the candidate join is (band,bucket)-keyed with the
    // NEW side always the small probe, and exact verification touches only
    // candidate pairs (shingle join bounded by candidate volume, never
    // corpus×corpus). The verdict ledger left-joins back so clean docs
    // report n_cand = 0.
    QueryDef("p84_incremental_minhash", Some(s"""
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS shingle FROM (
          SELECT doc_id, list_transform(
                   range(1, greatest(len(t) - 2, 0) + 1),
                   i -> array_to_string(t[i:i+2], ' ')) AS sh
          FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
                FROM documents) x) y),
      mh AS (
        SELECT doc_id, h,
               min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
        FROM sh, range(0, 8) hs(h)
        GROUP BY doc_id, h),
      bands AS (
        SELECT doc_id, h // 2 AS band,
               md5(string_agg(minhash, '|' ORDER BY h)) AS bucket
        FROM mh GROUP BY doc_id, h // 2),
      cand AS (
        SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        FROM bands n JOIN bands o
          ON n.band = o.band AND n.bucket = o.bucket
        WHERE n.doc_id % 10 >= $SplitMod AND o.doc_id % 10 < $SplitMod),
      sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
      verified AS (
        SELECT c.new_id, c.old_id,
               CAST(count(*) AS DOUBLE) / (sa.ns + sb.ns - count(*)) AS j
        FROM cand c
        JOIN sh a ON a.doc_id = c.new_id
        JOIN sh b ON b.doc_id = c.old_id AND b.shingle = a.shingle
        JOIN sizes sa ON sa.doc_id = c.new_id
        JOIN sizes sb ON sb.doc_id = c.old_id
        GROUP BY c.new_id, c.old_id, sa.ns, sb.ns)
      SELECT d.doc_id,
             CAST(count(v.old_id) AS BIGINT) AS n_cand,
             round(max(v.j), 6) AS best_j,
             coalesce(max(v.j) >= $DupThreshold, FALSE) AS is_dup
      FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= $SplitMod) d
      LEFT JOIN verified v ON v.new_id = d.doc_id
      GROUP BY d.doc_id ORDER BY d.doc_id""")) { (s, dir) =>
      val docs = Tables.dfSpread(s, dir, "documents")
      val sh = Kit.shingleRows(docs)
      // banding kernel shared with the streaming twin
      // (graft.streaming.DocumentStreams.minhashCandidates)
      val bands = graft.streaming.DocumentStreams.bandTable(docs)
      val newBands = bands.filter(col("doc_id") % 10 >= SplitMod)
        .select(col("doc_id").as("new_id"), col("band"), col("bucket"))
      val oldBands = bands.filter(col("doc_id") % 10 < SplitMod)
        .select(col("doc_id").as("old_id"), col("band"), col("bucket"))
      val cand = newBands.join(oldBands, Seq("band", "bucket"))
        .select(col("new_id").as("doc_a"), col("old_id").as("doc_b")).distinct()
      val verified = Kit.sizeJoin(Kit.pairOverlap(cand, sh), Kit.setSizes(sh))
        .select(col("doc_a").as("doc_id"), col("doc_b").as("old_id"),
          Kit.jaccard(col("i"), col("na"), col("nb")).as("j"))
      docs.filter(col("doc_id") % 10 >= SplitMod).select(col("doc_id"))
        .join(verified, Seq("doc_id"), "left")
        .groupBy(col("doc_id"))
        .agg(count(col("old_id")).as("n_cand"),
          round(max(col("j")), 6).as("best_j"),
          coalesce(max(col("j")) >= DupThreshold, lit(false)).as("is_dup"))
        .orderBy(col("doc_id"))
    },

    // ------------------ quality-ensemble deciles (p85)

    // Three row-local signals (lexical diversity, stopword density, length
    // saturation) fused with fixed weights into a score rounded to a
    // 2-decimal grid — a BOUNDED value domain, so the decile boundaries
    // come from ExactPercentile's one-level histogram (state ∝ 101
    // buckets, never rows) and broadcast back. One corpus scan for the
    // signals, one bounded reduce for the boundaries, one ≤(langs×10)-row
    // rollup.
    QueryDef("p85_quality_ensemble", Some(s"""
      WITH sig AS (
        SELECT doc_id, lang, ${ensembleScoreSql("w")} AS score
        FROM (SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS w
              FROM documents) t),
      q AS (
        SELECT quantile_cont(score, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM sig),
      dd AS (
        SELECT lang,
               1 + len(list_filter(qs, b -> score > b)) AS decile,
               score
        FROM sig, q)
      SELECT lang, CAST(decile AS INTEGER) AS decile,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CAST(score AS DECIMAL(38,2))) AS DOUBLE) AS sum_score
      FROM dd GROUP BY lang, decile ORDER BY lang, decile""")) { (s, dir) =>
      val w = Kit.words(col("text"))
      val sig = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), col("lang"), ensembleScore(w).as("score"))
      val qs = (1 to 9).map(i => i / 10.0 -> s"q$i")
      val bounds = ExactPercentile.percentiles(
        sig.withColumn("g", lit(1)), "g", col("score"), qs).drop("g")
      val decile = qs.map { case (_, n) =>
        when(col("score") > col(n), 1).otherwise(0)
      }.reduce(_ + _) + 1
      sig.crossJoin(broadcast(bounds))
        .select(col("lang"), decile.cast("int").as("decile"), col("score"))
        .groupBy(col("lang"), col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          Kit.dsum(col("score"), 2).as("sum_score"))
        .orderBy(col("lang"), col("decile"))
    },

    // ----------------- embedding dimension stats (p86)

    // Per-dimension moments on an exact µ-grid: each float is floored to
    // millionths (identical IEEE double steps in both engines → identical
    // BIGINT), so the sums — and therefore mean and variance — are
    // integer-exact and order-independent, with no libm or summation-order
    // hazard. One posexplode (row-local), one (dim)-keyed reduce with
    // map-side partial aggregation; 64 output rows.
    QueryDef("p86_embed_dim_stats", Some("""
      WITH v AS (
        SELECT i AS dim,
               CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) * 1000000) AS BIGINT) AS micro
        FROM embeddings CROSS JOIN range(1, 65) t(i)),
      a AS (
        SELECT dim, count(*) AS n, sum(micro) AS sm, sum(micro * micro) AS sq,
               min(micro) AS mn, max(micro) AS mx
        FROM v GROUP BY dim)
      SELECT CAST(dim AS INTEGER) AS dim,
             round(CAST(sm AS DOUBLE) / 1e6 / n, 6) AS mean,
             round((CAST(sq AS DOUBLE) / 1e12
                    - (CAST(sm AS DOUBLE) / 1e6) * (CAST(sm AS DOUBLE) / 1e6) / n)
                   / (n - 1), 6) AS variance,
             round(CAST(mn AS DOUBLE) / 1e6, 6) AS min_v,
             round(CAST(mx AS DOUBLE) / 1e6, 6) AS max_v
      FROM a ORDER BY dim""")) { (s, dir) =>
      val v = Tables.dfSpread(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("pos", "x")))
        .select((col("pos") + 1).as("dim"),
          floor(col("x").cast("double") * 1000000).cast("bigint").as("micro"))
      v.groupBy(col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("micro")).as("sm"),
          sum(col("micro") * col("micro")).as("sq"),
          min(col("micro")).as("mn"), max(col("micro")).as("mx"))
        .select(col("dim").cast("int").as("dim"),
          round(col("sm").cast("double") / 1e6 / col("n"), 6).as("mean"),
          round((col("sq").cast("double") / 1e12
            - (col("sm").cast("double") / 1e6) * (col("sm").cast("double") / 1e6) / col("n"))
            / (col("n") - 1), 6).as("variance"),
          round(col("mn").cast("double") / 1e6, 6).as("min_v"),
          round(col("mx").cast("double") / 1e6, 6).as("max_v"))
        .orderBy(col("dim"))
    }
  )
}
