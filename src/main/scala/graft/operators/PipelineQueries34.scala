package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 34 — operational audits of the dedup/sketch tier
  * itself: the checks a pipeline owner runs on the MACHINERY (LSH tables,
  * precedence policies, projection sketches) rather than on the corpus.
  *
  *  - p128 LSH bucket-skew audit: per MinHash band (p02's exact 3-shingle →
  *    8-hash → 4-band scheme), the bucket-size distribution that determines
  *    candidate-pair cost: bucket count, singleton share, the largest
  *    bucket, the implied candidate-pair mass Σ s(s−1)/2, and max/mean
  *    bucket skew. THE capacity-planning query for a 100-TB LSH pass — a
  *    hot bucket here is tomorrow's straggler task, and the pair mass is
  *    the exact row count the downstream verify join will see.
  *
  *  - p129 source-precedence dedup flow: duplicate groups resolved by an
  *    explicit precedence policy (lexicographic (source, doc_id) here —
  *    the policy hook a real pipeline configures, e.g. "curated > crawl"),
  *    reported as the loser→winner flow matrix: how many documents each
  *    source loses and to whom. The keep-best companion to p01's
  *    keep-first; the matrix is what a licensing/attribution review reads.
  *    The canonical key is a 128-char-prefix digest (the synthetic corpus
  *    has near-dups but no byte-exact dups); a real pipeline swaps in its
  *    exact digest or near-dup cluster id — the flow semantics are the op.
  *
  *  - p130 random-projection sketch (Johnson–Lindenstrauss): 64-dim
  *    embeddings projected to 16 dims through a deterministic ±1 matrix
  *    (md5-parity signs — reproducible on any engine with no stored state),
  *    audited by the distance-preservation ratio ‖proj(a)−proj(b)‖ /
  *    ‖a−b‖ over the deterministic (2k, 2k+1) pair sample, bucketed into a
  *    ratio histogram. The cheap pre-check before committing an ANN tier to
  *    a projected index; the sign matrix is 64×16 and broadcast, the
  *    projection is one partial-agg pass.
  *
  * Determinism: the p62/p45 conventions (6dp feature grid, re-gridded
  * products, DECIMAL sums, IEEE sqrt on identical doubles); the ±1 signs
  * come from an md5-hex test spelled identically on both engines.
  */
object PipelineQueries34 {

  /** ±1 sign from an md5 hex digit — identical SQL text on both engines. */
  private val SignSql =
    "CASE WHEN instr('01234567', substr(md5(CAST(i AS STRING) || '_' || " +
      "CAST(j AS STRING)), 1, 1)) > 0 THEN -1.0 ELSE 1.0 END"

  val defs: Seq[QueryDef] = Seq(

    // ----------------------------------------- LSH bucket-skew audit (p128)
    QueryDef("p128_lsh_bucket_skew", Some(s"""
      WITH ${PipelineQueries3.pairsCte},
      bs AS (
        SELECT band, bucket, count(*) AS s FROM bands GROUP BY band, bucket)
      SELECT band,
             CAST(sum(s) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singletons,
             CAST(max(s) AS BIGINT) AS max_bucket,
             CAST(CAST(sum(s * (s - 1)) AS BIGINT) / 2 AS BIGINT) AS est_pairs,
             round(CAST(max(s) AS DOUBLE) * count(*) / sum(s), 6) AS skew
      FROM bs GROUP BY band ORDER BY band""")) { (s, dir) =>
      // p02's exact signature pipeline (Kit.minhashPairs), cut at the bands
      // stage: the audit reads the LSH table, not the pairs
      val bands = Kit.bands(Kit.signatures(Tables.dfSpread(s, dir, "documents")), 4, 2)
      val bs = bands.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("s"))
      bs.groupBy(col("band"))
        .agg(sum(col("s")).cast("bigint").as("n_docs"),
          count(lit(1)).as("n_buckets"),
          sum(when(col("s") === 1, 1).otherwise(0)).cast("bigint").as("singletons"),
          max(col("s")).cast("bigint").as("max_bucket"),
          (sum(col("s") * (col("s") - 1)).cast("bigint") / 2).cast("bigint")
            .as("est_pairs"),
          round(max(col("s")).cast("double") * count(lit(1)) / sum(col("s")), 6)
            .as("skew"))
        .orderBy(col("band"))
    },

    // ------------------------------- source-precedence dedup flow (p129)
    QueryDef.sql("p129_dedup_source_precedence", """
      WITH d AS (
        SELECT doc_id, source, md5(substr(text, 1, 128)) AS dg FROM documents),
      r AS (
        SELECT doc_id, source, dg,
               row_number() OVER (PARTITION BY dg ORDER BY source, doc_id) AS rn
        FROM d),
      k AS (SELECT dg, source AS winner_source FROM r WHERE rn = 1)
      SELECT r.source AS loser_source, k.winner_source,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM r JOIN k USING (dg) WHERE r.rn > 1
      GROUP BY r.source, k.winner_source
      ORDER BY loser_source, winner_source"""),

    // ------------------------ Johnson–Lindenstrauss sketch audit (p130)
    QueryDef("p130_rp_sketch", Some(s"""
      WITH sgn AS (
        SELECT i, j, $SignSql AS sg
        FROM range(0, 64) ri(i), range(0, 16) rj(j)),
      exr AS (
        SELECT vec_id, unnest(xs) AS x, generate_subscripts(xs, 1) - 1 AS i
        FROM (SELECT vec_id,
                     list_transform(embedding, e -> round(CAST(e AS DOUBLE), 6)) AS xs
              FROM embeddings)),
      proj AS (
        SELECT e.vec_id, s.j,
               CAST(sum(CAST(round(e.x * s.sg, 6) AS DECIMAL(38,6))) AS DOUBLE) / 4.0 AS y
        FROM exr e JOIN sgn s ON e.i = s.i GROUP BY e.vec_id, s.j),
      pd AS (
        SELECT a.vec_id AS pa,
               CAST(sum(CAST(round((a.y - b.y) * (a.y - b.y), 12) AS DECIMAL(38,12))) AS DOUBLE) AS d2p
        FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1 AND a.j = b.j
        WHERE a.vec_id % 2 = 0 GROUP BY a.vec_id),
      td AS (
        SELECT a.vec_id AS pa,
               CAST(sum(CAST(round((a.x - b.x) * (a.x - b.x), 12) AS DECIMAL(38,12))) AS DOUBLE) AS d2t
        FROM exr a JOIN exr b ON b.vec_id = a.vec_id + 1 AND a.i = b.i
        WHERE a.vec_id % 2 = 0 GROUP BY a.vec_id),
      rt AS (
        SELECT pd.pa, round(sqrt(pd.d2p / td.d2t), 6) AS ratio
        FROM pd JOIN td USING (pa) WHERE td.d2t > 0)
      SELECT CAST(floor(ratio * 10.0) AS INTEGER) AS bucket,
             CAST(count(*) AS BIGINT) AS n_pairs,
             round(CAST(sum(CAST(ratio AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6)
               AS mean_ratio
      FROM rt GROUP BY 1 ORDER BY bucket""")) { (s, dir) =>
      val sgn = s.range(0, 64).toDF("i").crossJoin(s.range(0, 16).toDF("j"))
        .withColumn("sg", expr(SignSql))
      val exr = Tables.dfSpread(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(transform(col("embedding"), e => round(e.cast("double"), 6)))
            .as(Seq("i", "x")))
        .localCheckpoint() // consumed by the projection AND the true-distance leg
      val proj = exr.join(broadcast(sgn), "i")
        .groupBy(col("vec_id"), col("j"))
        .agg((Kit.rsum(col("x") * col("sg"), 6) / lit(4.0)).as("y"))
      val pd = proj.as("a").filter(col("a.vec_id") % 2 === 0)
        .join(proj.as("b"),
          col("b.vec_id") === col("a.vec_id") + 1 && col("a.j") === col("b.j"))
        .groupBy(col("a.vec_id").as("pa"))
        .agg(Kit.rsum((col("a.y") - col("b.y")) * (col("a.y") - col("b.y")), 12).as("d2p"))
      val td = exr.as("a").filter(col("a.vec_id") % 2 === 0)
        .join(exr.as("b"),
          col("b.vec_id") === col("a.vec_id") + 1 && col("a.i") === col("b.i"))
        .groupBy(col("a.vec_id").as("pa"))
        .agg(Kit.rsum((col("a.x") - col("b.x")) * (col("a.x") - col("b.x")), 12).as("d2t"))
      val rt = pd.join(td, "pa").filter(col("d2t") > 0)
        .select(round(sqrt(col("d2p") / col("d2t")), 6).as("ratio"))
      rt.groupBy(floor(col("ratio") * lit(10.0)).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          round(Kit.dsum(col("ratio"), 6)
            / count(lit(1)), 6).as("mean_ratio"))
        .orderBy(col("bucket"))
    })
}
