package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 23 — ingest-quality monitoring and ANN index
  * tuning:
  *
  *  - p98 quality drift: per-source least-squares slope (and correlation)
  *    of the p85 ensemble score against ingest order — the "is this crawl
  *    degrading over time" monitor. All sums are integer/decimal-exact,
  *    so the regression statistics are order-independent doubles.
  *  - p99 IVF probe sweep: recall@5 at 1/2/4 probes against brute-force
  *    truth — the probe-budget tuning curve (p75 evaluates ONE config;
  *    this is the table the config is chosen from).
  */
object PipelineQueries23 {

  /** p99 sweep parameters (p75's gate shape, swept over probe counts). */
  private val NQueries = 5
  private val K = 5
  private val ProbeCounts = Seq(1, 2, 4)

  val defs: Seq[QueryDef] = Seq(

    // -------------------- ingest-quality drift (p98)

    // Scale shape: one corpus scan computes the row-local score; one
    // source-keyed reduce accumulates the five regression sums as exact
    // DECIMALs (doc_id and the 2-dp score grid are both exact, so Σx, Σy,
    // Σxy, Σx², Σy² carry no float accumulation); slope/corr are then a
    // fixed-order double formula over per-group scalars. Degenerate
    // sources (zero x-variance) report NULL slope in both engines.
    QueryDef("p98_quality_drift", Some(s"""
      WITH q AS (
        SELECT doc_id, source, ${PipelineQueries18.ensembleScoreSql("w")} AS score
        FROM (SELECT doc_id, source, string_split_regex(lower(text), '\\s+') AS w
              FROM documents) t),
      a AS (
        SELECT source, count(*) AS n,
               sum(CAST(doc_id AS DECIMAL(38,0))) AS sx,
               sum(CAST(score AS DECIMAL(38,2))) AS sy,
               sum(CAST(doc_id AS DECIMAL(38,0)) * CAST(score AS DECIMAL(38,2))) AS sxy,
               sum(CAST(doc_id AS DECIMAL(38,0)) * CAST(doc_id AS DECIMAL(38,0))) AS sxx,
               sum(CAST(score AS DECIMAL(38,2)) * CAST(score AS DECIMAL(38,2))) AS syy
        FROM q GROUP BY source)
      SELECT source, CAST(n AS BIGINT) AS n_docs,
             round(CASE WHEN n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
               THEN (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END, 9) AS slope,
             round(CASE WHEN (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
               THEN (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END, 6) AS corr_xy
      FROM a ORDER BY source""")) { (s, dir) =>
      val q = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          PipelineQueries18.ensembleScore(
            Kit.words(col("text"))).as("score"))
      val dx = col("doc_id").cast("decimal(38,0)")
      val dy = col("score").cast("decimal(38,2)")
      val a = q.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(dx).as("sx"), sum(dy).as("sy"),
          sum(dx * dy).as("sxy"), sum(dx * dx).as("sxx"), sum(dy * dy).as("syy"))
      val (n, sx, sy, sxy, sxx, syy) = (col("n"), col("sx").cast("double"),
        col("sy").cast("double"), col("sxy").cast("double"),
        col("sxx").cast("double"), col("syy").cast("double"))
      val varX = n * sxx - sx * sx
      val varY = n * syy - sy * sy
      val cov = n * sxy - sx * sy
      a.select(col("source"), n.as("n_docs"),
        round(when(varX > 0, cov / varX), 9).as("slope"),
        round(when(varX * varY > 0, cov / sqrt(varX * varY)), 6).as("corr_xy"))
        .orderBy(col("source"))
    },

    // ---------------------- IVF probe sweep (p99)

    // The p75 evaluation repeated per probe budget, sharing ONE brute-force
    // truth tier (the expensive side — broadcast fixed query set, never
    // corpus×corpus); each IVF tier is the p15 probe plan at its budget.
    // The curve is |ProbeCounts| rows: recall must be nondecreasing in
    // probes (asserted in the batch spec), and the table is what justifies
    // a production probe budget.
    QueryDef("p99_ivf_probe_sweep", Some {
      def ivfCte(p: Int) = s"""
      probes_$p AS (
        SELECT q_id, cent_id FROM (
          SELECT q.vec_id AS q_id, c.cent_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
                            c.cent_id) AS rn
          FROM embeddings q, cents c WHERE q.vec_id < $NQueries) t WHERE rn <= $p),
      cand_$p AS (
        SELECT DISTINCT pr.q_id, a.vec_id AS n_id
        FROM probes_$p pr JOIN assign a ON a.cent_id = pr.cent_id
        WHERE a.vec_id <> pr.q_id),
      ivf_$p AS (
        SELECT q_id, n_id FROM (
          SELECT c.q_id, c.n_id,
                 row_number() OVER (PARTITION BY c.q_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                            c.n_id) AS rn
          FROM cand_$p c
          JOIN embeddings q ON q.vec_id = c.q_id
          JOIN embeddings n ON n.vec_id = c.n_id) t
        WHERE rn <= $K),
      sum_$p AS (
        SELECT $p AS probes, CAST(count(i.n_id) AS BIGINT) AS n_hits,
               round(CAST(count(i.n_id) AS DOUBLE) / ($NQueries * $K), 6) AS mean_recall
        FROM truth t LEFT JOIN ivf_$p i ON i.q_id = t.q_id AND i.n_id = t.n_id)"""
      s"""
      WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings WHERE vec_id < 16),
      assign AS (
        SELECT vec_id, cent_id FROM (
          SELECT e.vec_id, c.cent_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
                            c.cent_id) AS rn
          FROM embeddings e, cents c) t WHERE rn = 1),
      truth AS (
        SELECT q_id, n_id FROM (
          SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                            c.vec_id) AS rn
          FROM (SELECT * FROM embeddings WHERE vec_id < $NQueries) q
          JOIN embeddings c ON q.vec_id <> c.vec_id) t
        WHERE rn <= $K),
      ${ProbeCounts.map(ivfCte).mkString(",")}
      SELECT probes, n_hits, mean_recall
      FROM (${ProbeCounts.map(p => s"SELECT * FROM sum_$p").mkString(" UNION ALL ")}) u
      ORDER BY probes"""
    }) { (s, dir) =>
      val e = Tables.dfSpread(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
      val truth = IvfIndex.exactTopK(e, col("vec_id") < NQueries, K)
      val curves = ProbeCounts.map { p =>
        val hits = IvfIndex.ivfTopK(e, cents, col("vec_id") < NQueries,
          probes = p, topK = K)
          .select(col("q_id").as("iq"), col("n_id").as("hit"))
        truth.join(hits, col("q_id") === col("iq") && col("n_id") === col("hit"), "left")
          .agg(count(col("hit")).as("n_hits"))
          .select(lit(p).as("probes"), col("n_hits"),
            round(col("n_hits").cast("double") / (NQueries * K), 6).as("mean_recall"))
      }
      curves.reduce(_ unionAll _).orderBy(col("probes"))
    }
  )
}
