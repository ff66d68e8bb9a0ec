package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 15 — embedding hygiene, near-dup graph
  * structure, and estimator calibration:
  *
  *  - p72 embedding-norm outliers: L2-norm distribution checks (the
  *    degenerate-vector screen run before any cosine-based stage — a
  *    zero/huge-norm vector poisons similarity search silently).
  *  - p73 near-dup graph triangles: triangle count + global clustering
  *    coefficient of the LSH candidate graph — near-dup graphs should be
  *    clique-like (high transitivity); a low coefficient means the
  *    blocking emits chains, which inflates component diameter and breaks
  *    the p18 "diameter ~2-3" assumption.
  *  - p74 minhash calibration: precision/recall of the 8-hash minhash
  *    similarity ESTIMATE against exact shingle Jaccard, swept over
  *    agreement thresholds — the audit that decides how many hashes a
  *    production dedup needs.
  */
object PipelineQueries15 {

  /** p72: z-score beyond which a norm counts as an outlier. */
  private val ZOut = 2.0

  /** p74: estimate thresholds swept, and the exact-Jaccard truth bar. */
  private val Thresholds = Seq(0.25, 0.5, 0.75, 1.0)
  private val JTruth = 0.4

  val defs: Seq[QueryDef] = Seq(

    // ------------------- embedding-norm outliers (p72)

    // Scale shape: the norm is a row-local kernel (map-only); the global
    // moment frame is ONE 1-row aggregate broadcast back; the per-label
    // rollup is |label|-bounded. All float reductions are DECIMAL sums of
    // rounded terms; mean/std derive from those exact sums through one
    // fixed IEEE expression, so both engines z-score identical doubles.
    QueryDef("p72_embed_norms", Some(s"""
      WITH nr AS (
        SELECT vec_id, label,
               sqrt(CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE)) AS nrm
        FROM (SELECT vec_id, label, unnest(list_transform(embedding,
                       e -> round(CAST(e AS DOUBLE), 6))) AS x
              FROM embeddings) t
        GROUP BY vec_id, label),
      st AS (
        SELECT count(*) AS n,
               CAST(sum(CAST(round(nrm, 9) AS DECIMAL(38,9))) AS DOUBLE) AS s1,
               CAST(sum(CAST(round(nrm * nrm, 9) AS DECIMAL(38,9))) AS DOUBLE) AS s2
        FROM nr),
      z AS (
        SELECT label, nrm,
               (nrm - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)) AS zs
        FROM nr, st)
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             round(CAST(sum(CAST(round(nrm, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS mean_norm,
             round(min(nrm), 6) AS min_norm, round(max(nrm), 6) AS max_norm,
             CAST(sum(CASE WHEN abs(zs) > $ZOut THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM z GROUP BY label ORDER BY label""")) { (s, dir) =>
      val nr = Tables.dfSpread(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          explode(transform(col("embedding"), e => round(e.cast("double"), 6))).as("x"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sqrt(Kit.rsum(col("x") * col("x"), 9)).as("nrm"))
      val st = nr.agg(count(lit(1)).as("n"),
        Kit.rsum(col("nrm"), 9).as("s1"),
        Kit.rsum(col("nrm") * col("nrm"), 9).as("s2"))
      val zs = (col("nrm") - col("s1") / col("n")) /
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
      nr.crossJoin(broadcast(st))
        .select(col("label"), col("nrm"), zs.as("zs"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(Kit.rsum(col("nrm"), 9)
            / count(lit(1)), 6).as("mean_norm"),
          round(min(col("nrm")), 6).as("min_norm"),
          round(max(col("nrm")), 6).as("max_norm"),
          sum(when(abs(col("zs")) > ZOut, 1L).otherwise(0L)).as("n_outliers"))
        .orderBy(col("label"))
    },

    // ---------------- near-dup graph triangle census (p73)

    // Scale shape: edges are already ORIENTED (doc_a < doc_b — the
    // degree-bounding orientation distributed triangle counting uses), so
    // the wedge join a<b<c enumerates each triangle once; both joins are
    // vertex-keyed equi-joins whose fan-out is bounded by per-vertex
    // out-degree, and the degree/wedge rollup is node-sized. No all-pairs
    // stage anywhere.
    QueryDef("p73_dupgraph_triangles", Some(s"""
      WITH ${PipelineQueries3.pairsCte},
      deg AS (
        SELECT v, count(*) AS d FROM (
          SELECT doc_a AS v FROM pairs UNION ALL SELECT doc_b AS v FROM pairs) e
        GROUP BY v),
      wed AS (SELECT sum(d * (d - 1) / 2) AS w, count(*) AS n_nodes FROM deg),
      tri AS (
        SELECT count(*) AS t FROM pairs ab
        JOIN pairs bc ON bc.doc_a = ab.doc_b
        JOIN pairs ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b),
      ne AS (SELECT count(*) AS m FROM pairs)
      SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(m AS BIGINT) AS n_edges,
             CAST(w AS BIGINT) AS n_wedges, CAST(t AS BIGINT) AS n_triangles,
             round(CASE WHEN w > 0 THEN 3.0 * t / w END, 6) AS clustering_coef
      FROM wed, tri, ne""")) { (s, dir) =>
      val pairs = Kit.minhashPairs(s, dir)
      val deg = pairs.select(col("doc_a").as("v"))
        .unionAll(pairs.select(col("doc_b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      val wed = deg.agg(sum(col("d") * (col("d") - 1) / 2).as("w"),
        count(lit(1)).as("n_nodes"))
      val ab = pairs
      val bc = pairs.select(col("doc_a").as("b2"), col("doc_b").as("c2"))
      val ac = pairs.select(col("doc_a").as("a3"), col("doc_b").as("c3"))
      val tri = ab.join(bc, col("b2") === col("doc_b"))
        .join(ac, col("a3") === col("doc_a") && col("c3") === col("c2"))
        .agg(count(lit(1)).as("t"))
      val ne = pairs.agg(count(lit(1)).as("m"))
      wed.crossJoin(tri).crossJoin(ne)
        .select(col("n_nodes"), col("m").as("n_edges"),
          col("w").cast("bigint").as("n_wedges"), col("t").as("n_triangles"),
          round(when(col("w") > 0, lit(3.0) * col("t") / col("w")), 6)
            .as("clustering_coef"))
    },

    // ---------------- minhash estimator calibration (p74)

    // Precision/recall of the 8-hash agreement estimate vs exact shingle
    // Jaccard, over the LSH candidate pairs only (the population a
    // production audit samples — all-pairs truth is p04's tier). Scale
    // shape: signatures are row-local; both per-pair measures are
    // pair-keyed joins bounded by the candidate count; the sweep rollup is
    // |Thresholds|-bounded.
    QueryDef("p74_minhash_calibration", Some(s"""
      WITH ${PipelineQueries3.pairsCte},
      cnt AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
      inter AS (
        SELECT p.doc_a, p.doc_b, count(*) AS i
        FROM pairs p
        JOIN sh a ON a.doc_id = p.doc_a
        JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
        GROUP BY p.doc_a, p.doc_b),
      est AS (
        SELECT p.doc_a, p.doc_b,
               CAST(sum(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) AS DOUBLE) / 8 AS est
        FROM pairs p
        JOIN mh ma ON ma.doc_id = p.doc_a
        JOIN mh mb ON mb.doc_id = p.doc_b AND mb.h = ma.h
        GROUP BY p.doc_a, p.doc_b),
      m AS (
        SELECT e.est,
               CAST(coalesce(i.i, 0) AS DOUBLE)
                 / (ca.ns + cb.ns - coalesce(i.i, 0)) >= $JTruth AS pos
        FROM est e
        LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
        JOIN cnt ca ON ca.doc_id = e.doc_a
        JOIN cnt cb ON cb.doc_id = e.doc_b),
      th AS (SELECT unnest([${Thresholds.mkString(", ")}]) AS threshold)
      SELECT threshold,
             CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(sum(CASE WHEN est >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
             CAST(sum(CASE WHEN est >= threshold AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             round(CASE WHEN sum(CASE WHEN est >= threshold THEN 1 ELSE 0 END) > 0
                        THEN CAST(sum(CASE WHEN est >= threshold AND pos THEN 1 ELSE 0 END) AS DOUBLE)
                             / sum(CASE WHEN est >= threshold THEN 1 ELSE 0 END) END, 6) AS prec,
             round(CASE WHEN sum(CASE WHEN pos THEN 1 ELSE 0 END) > 0
                        THEN CAST(sum(CASE WHEN est >= threshold AND pos THEN 1 ELSE 0 END) AS DOUBLE)
                             / sum(CASE WHEN pos THEN 1 ELSE 0 END) END, 6) AS recall
      FROM m, th GROUP BY threshold ORDER BY threshold""")) { (s, dir) =>
      val docs = Tables.dfSpread(s, dir, "documents")
      val sh = Kit.shingleRows(docs)
      val sig = Kit.signatures(docs)
      val pairs = Kit.minhashPairs(s, dir)
      val inter = Kit.pairOverlap(pairs, sh)
      val est = pairs
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b))
            .cast("double") / 8).as("est"))
      val m = Kit.sizeJoin(est.join(inter, Seq("doc_a", "doc_b"), "left"), Kit.setSizes(sh))
        .select(col("est"),
          (Kit.jaccard(coalesce(col("i"), lit(0L)), col("na"), col("nb")) >= JTruth).as("pos"))
      val th = s.range(1).select(explode(array(Thresholds.map(lit(_)): _*)).as("threshold"))
      val pred = sum(when(col("est") >= col("threshold"), 1L).otherwise(0L))
      val tp = sum(when(col("est") >= col("threshold") && col("pos"), 1L).otherwise(0L))
      val pos = sum(when(col("pos"), 1L).otherwise(0L))
      m.crossJoin(broadcast(th))
        .groupBy(col("threshold"))
        .agg(count(lit(1)).as("n_candidates"),
          pred.as("n_pred"), tp.as("tp"),
          round(when(pred > 0, tp.cast("double") / pred), 6).as("prec"),
          round(when(pos > 0, tp.cast("double") / pos), 6).as("recall"))
        .orderBy(col("threshold"))
    }
  )
}
