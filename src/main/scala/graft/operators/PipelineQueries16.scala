package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 16 — retrieval evaluation, source screening,
  * LSH design tuning, and behavioral segmentation:
  *
  *  - p75 ANN recall: recall@5 of the IVF index (p15's probe path)
  *    against exact brute-force truth — the evaluation loop that decides
  *    probe counts and centroid budgets before a production rollout.
  *  - p76 blocklist screen: source- and phrase-blocklist filtering with a
  *    per-language keep/drop ledger (the robots/safety screen every crawl
  *    ingest runs first).
  *  - p77 LSH band tuning: the same 8 minhashes regrouped as 8×1 / 4×2 /
  *    2×4 bands — candidate volume vs precision per configuration, the
  *    table that picks a production band shape.
  *  - p78 RFM segmentation: recency/frequency/monetary quartile scoring of
  *    users (classic behavioral segmentation) with exact quartile
  *    boundaries from ExactPercentile over integer-valued domains.
  */
object PipelineQueries16 {

  /** p75: query-set size, probe count, and k (mirrors p15's gate shape). */
  private val NQueries = 5
  private val Probes = 4
  private val K = 5

  /** p76: blocklists (values chosen to hit the synthetic corpus). */
  private val BlockedSources = Seq("src3", "src7", "src11")
  private val BlockedPhrases = Seq("slow merge", "fast join")

  /** p77: band shapes over the 8-hash signature: (bands, rowsPerBand). */
  private val BandConfigs = Seq((8, 1), (4, 2), (2, 4))
  private val JTruth = 0.4

  val defs: Seq[QueryDef] = Seq(

    // ------------------------- ANN recall evaluation (p75)

    // Scale shape: truth is the p06 broadcast-query brute-force tier
    // (bounded by the FIXED query set — never corpus×corpus); the IVF side
    // is p15's probe plan; the comparison joins two k·|queries|-row
    // frames. The recall table is what justifies probe/centroid budgets.
    QueryDef("p75_ann_recall", Some(s"""
      WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings WHERE vec_id < 16),
      assign AS (
        SELECT vec_id, cent_id FROM (
          SELECT e.vec_id, c.cent_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
                            c.cent_id) AS rn
          FROM embeddings e, cents c) t WHERE rn = 1),
      probes AS (
        SELECT q_id, cent_id FROM (
          SELECT q.vec_id AS q_id, c.cent_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
                            c.cent_id) AS rn
          FROM embeddings q, cents c WHERE q.vec_id < $NQueries) t WHERE rn <= $Probes),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN assign a ON a.cent_id = p.cent_id
        WHERE a.vec_id <> p.q_id),
      ivf AS (
        SELECT q_id, n_id FROM (
          SELECT c.q_id, c.n_id,
                 row_number() OVER (PARTITION BY c.q_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                            c.n_id) AS rn
          FROM cand c
          JOIN embeddings q ON q.vec_id = c.q_id
          JOIN embeddings n ON n.vec_id = c.n_id) t
        WHERE rn <= $K),
      truth AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rn
          FROM (SELECT * FROM embeddings WHERE vec_id < $NQueries) q
          JOIN embeddings c ON q.vec_id <> c.vec_id) t
        WHERE rn <= $K)
      SELECT t.q_id, CAST(count(i.n_id) AS BIGINT) AS n_hits,
             round(CAST(count(i.n_id) AS DOUBLE) / $K, 6) AS recall_at_k
      FROM truth t LEFT JOIN ivf i ON i.q_id = t.q_id AND i.n_id = t.n_id
      GROUP BY t.q_id ORDER BY t.q_id""")) { (s, dir) =>
      val e = Tables.dfSpread(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
      val ivf = IvfIndex.ivfTopK(e, cents, col("vec_id") < NQueries,
        probes = Probes, topK = K).select(col("q_id"), col("n_id"))
      val truth = IvfIndex.exactTopK(e, col("vec_id") < NQueries, K)
      val iv2 = ivf.select(col("q_id").as("iq"), col("n_id").as("hit"))
      truth.join(iv2, col("q_id") === col("iq") && col("n_id") === col("hit"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("hit")).as("n_hits"),
          round(count(col("hit")).cast("double") / K, 6).as("recall_at_k"))
        .orderBy(col("q_id"))
    },

    // --------------------------- blocklist screen (p76)

    // Row-local screening (map-only at any scale): the source blocklist is
    // a broadcast-sized inline set, phrase checks are substring kernels on
    // the row. The per-language ledger reports both drop reasons
    // separately — a screen that cannot explain its drops cannot be
    // audited.
    QueryDef.sql("p76_blocklist_screen", s"""
      WITH f AS (
        SELECT lang,
               source IN (${BlockedSources.map("'" + _ + "'").mkString(", ")}) AS bad_src,
               (${BlockedPhrases.map(p => s"contains(text, '$p')").mkString(" OR ")}) AS bad_phrase
        FROM documents)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN bad_src THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked_source,
             CAST(sum(CASE WHEN bad_phrase AND NOT bad_src THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked_phrase,
             CAST(sum(CASE WHEN NOT bad_src AND NOT bad_phrase THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM f GROUP BY lang ORDER BY lang"""),

    // ---------------------------- LSH band tuning (p77)

    // The same 8 minhashes regrouped into each band shape; per shape:
    // candidate-pair volume and precision against exact shingle Jaccard.
    // More rows per band → fewer, higher-precision candidates (the
    // AND-amplification); the table quantifies that tradeoff on THIS
    // corpus. Scale shape: per config one (band,bucket) grouping with
    // row-local pair emission (the p02 spelling); the shared-shingle truth
    // tier is p17's class (df-bounded on Zipf corpora — a production
    // audit adds p17's document-frequency cap), and every banded
    // candidate pair shares ≥1 shingle by construction, so the one truth
    // join covers all three configs.
    QueryDef("p77_band_tuning", Some {
      def cfg(nb: Int, r: Int) = s"""
      bands_${nb}_$r AS (
        SELECT doc_id, h // $r AS band,
               md5(string_agg(minhash, '|' ORDER BY h)) AS bucket
        FROM mh GROUP BY doc_id, h // $r),
      pairs_${nb}_$r AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands_${nb}_$r a JOIN bands_${nb}_$r b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
      sum_${nb}_$r AS (
        SELECT $nb AS bands, $r AS rows_per_band,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN CAST(coalesce(i.i, 0) AS DOUBLE)
                                  / (ca.ns + cb.ns - coalesce(i.i, 0)) >= $JTruth
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_true
        FROM pairs_${nb}_$r p
        LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
        JOIN cnt ca ON ca.doc_id = p.doc_a
        JOIN cnt cb ON cb.doc_id = p.doc_b)"""
      s"""
      WITH ${PipelineQueries3.pairsCte},
      cnt AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
      allp AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
      inter AS (
        SELECT p.doc_a, p.doc_b, count(*) AS i
        FROM allp p
        JOIN sh a ON a.doc_id = p.doc_a
        JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
        GROUP BY p.doc_a, p.doc_b),
      ${BandConfigs.map { case (nb, r) => cfg(nb, r) }.mkString(",")}
      SELECT bands, rows_per_band, n_pairs, n_true,
             round(CASE WHEN n_pairs > 0 THEN CAST(n_true AS DOUBLE) / n_pairs END, 6) AS prec
      FROM (${BandConfigs.map { case (nb, r) => s"SELECT * FROM sum_${nb}_$r" }
        .mkString(" UNION ALL ")}) u
      ORDER BY rows_per_band"""
    }) { (s, dir) =>
      // AUDIT op, bounded by contract (r17): the band-tuning ground truth
      // is the UNBLOCKED shared-shingle self-join — strictly more work
      // than p17's rare-capped blocking, whose 100x DNF was measured in
      // r15. Band sweeps at production scale are tuned on a bounded
      // subsample; past the bound use the prefix-filtered exact pair set.
      val docs = TruthTier.guard(s, dir, "documents",
        "p77_band_tuning", "p191_jaccard_prefix_filter + p74_minhash_calibration",
        "the prefix-filtered exact pair set as truth, with minhash " +
          "calibration on a bounded tuning sample")
      // NOTE: no localCheckpoint here, deliberately — the three band
      // configs reference IDENTICAL sh/inter/sig subtrees, and Spark's
      // ReuseExchange already deduplicates identical exchange subtrees
      // within the one plan (measured: checkpointing these was 26% SLOWER
      // at 10x than letting the reuse rule share them). p61's frame needed
      // the checkpoint because its consumers sit in SEPARATE plans after
      // the broadcast boundary; these don't.
      val sh = Kit.shingleRows(docs)
      // r19 OPTIMIZATION (guide §2.5): pin the shingle-keyed exchange under
      // the unblocked truth self-join (AQE coalesced the fan-out stage onto
      // 1-2 of 32 cores — the p17-class finding); one exchange, both sides
      // reuse it. Bounded by the TruthTier guard above.
      val shG = Kit.pin(sh, "shingle")
      // shared-shingle candidate superset: every banded config's pair set
      // is a subset, so ONE truth join covers all three
      val inter = Kit.sharedCounts(shG)
      val sig = Kit.signatures(docs)
      val summaries = BandConfigs.map { case (nb, r) =>
        val pairs = Kit.bucketPairs(Kit.bands(sig, nb, r))
        val truth = Kit.jaccard(coalesce(col("i"), lit(0L)), col("na"), col("nb")) >= JTruth
        Kit.sizeJoin(pairs.join(inter, Seq("doc_a", "doc_b"), "left"), Kit.setSizes(sh))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(truth, 1L).otherwise(0L)).as("n_true"))
          .select(lit(nb).as("bands"), lit(r).as("rows_per_band"),
            col("n_pairs"), col("n_true"))
      }
      summaries.reduce(_ unionAll _)
        .select(col("bands"), col("rows_per_band"), col("n_pairs"), col("n_true"),
          round(when(col("n_pairs") > 0,
            col("n_true").cast("double") / col("n_pairs")), 6).as("prec"))
        .orderBy(col("rows_per_band"))
    },

    // -------------------------- RFM segmentation (p78)

    // Recency/frequency/monetary quartile scores per user with EXACT
    // boundaries — recency and frequency are integer-valued and monetary
    // is rounded to whole units, so each ExactPercentile histogram is
    // value-domain-bounded (the decision rule its scaladoc prescribes).
    // Scale shape: one user-keyed reduce builds the RFM frame; three
    // bounded-histogram quantile passes produce 1-row boundary frames that
    // broadcast back; the segment rollup is ≤64 codes.
    QueryDef("p78_rfm_segments", Some("""
      WITH u AS (
        SELECT user_id,
               max(CAST(ts AS DATE)) AS last_d,
               count(*) AS freq,
               CAST(sum(CAST(round(value, 2) AS DECIMAL(38,2))) AS DOUBLE) AS mon
        FROM events GROUP BY user_id),
      mx AS (SELECT max(last_d) AS corpus_d FROM u),
      r AS (
        SELECT user_id, date_diff('day', last_d, corpus_d) AS rec, freq,
               round(mon, 0) AS monr, mon
        FROM u, mx),
      q AS (
        SELECT quantile_cont(rec, 0.25) AS r1, quantile_cont(rec, 0.5) AS r2,
               quantile_cont(rec, 0.75) AS r3,
               quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2,
               quantile_cont(freq, 0.75) AS f3,
               quantile_cont(monr, 0.25) AS m1, quantile_cont(monr, 0.5) AS m2,
               quantile_cont(monr, 0.75) AS m3
        FROM r),
      sc AS (
        SELECT user_id, mon,
               4 - (CASE WHEN rec > r1 THEN 1 ELSE 0 END + CASE WHEN rec > r2 THEN 1 ELSE 0 END
                    + CASE WHEN rec > r3 THEN 1 ELSE 0 END) AS rs,
               1 + CASE WHEN freq > f1 THEN 1 ELSE 0 END + CASE WHEN freq > f2 THEN 1 ELSE 0 END
                 + CASE WHEN freq > f3 THEN 1 ELSE 0 END AS fs,
               1 + CASE WHEN monr > m1 THEN 1 ELSE 0 END + CASE WHEN monr > m2 THEN 1 ELSE 0 END
                 + CASE WHEN monr > m3 THEN 1 ELSE 0 END AS ms
        FROM r, q)
      SELECT CAST(rs * 100 + fs * 10 + ms AS INTEGER) AS rfm_code,
             CAST(count(*) AS BIGINT) AS n_users,
             round(CAST(sum(CAST(round(mon, 2) AS DECIMAL(38,2))) AS DOUBLE) / count(*), 2) AS avg_monetary
      FROM sc GROUP BY 1 ORDER BY rfm_code""")) { (s, dir) =>
      val u = Tables.df(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(col("ts").cast("date")).as("last_d"),
          count(lit(1)).as("freq"),
          Kit.rsum(col("value"), 2).as("mon"))
      val mx = u.agg(max(col("last_d")).as("corpus_d"))
      val r = u.crossJoin(broadcast(mx))
        .select(col("user_id"), datediff(col("corpus_d"), col("last_d")).as("rec"),
          col("freq"), round(col("mon"), 0).as("monr"), col("mon"))
      def quart(v: String, pre: String): DataFrame =
        ExactPercentile.percentiles(r.withColumn("g", lit(1)), "g",
          col(v).cast("double"),
          Seq(0.25 -> s"${pre}1", 0.5 -> s"${pre}2", 0.75 -> s"${pre}3")).drop("g")
      def steps(v: Column, qs: Seq[String]): Column =
        qs.map(q => when(v > col(q), 1).otherwise(0)).reduce(_ + _)
      val sc = r.crossJoin(broadcast(quart("rec", "r")))
        .crossJoin(broadcast(quart("freq", "f")))
        .crossJoin(broadcast(quart("monr", "m")))
        .select(col("mon"),
          (lit(4) - steps(col("rec"), Seq("r1", "r2", "r3"))).as("rs"),
          (lit(1) + steps(col("freq"), Seq("f1", "f2", "f3"))).as("fs"),
          (lit(1) + steps(col("monr"), Seq("m1", "m2", "m3"))).as("ms"))
      sc.groupBy((col("rs") * 100 + col("fs") * 10 + col("ms")).cast("int").as("rfm_code"))
        .agg(count(lit(1)).as("n_users"),
          round(Kit.rsum(col("mon"), 2)
            / count(lit(1)), 2).as("avg_monetary"))
        .orderBy(col("rfm_code"))
    }
  )
}
