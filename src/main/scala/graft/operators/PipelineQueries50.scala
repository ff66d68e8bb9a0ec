package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 50 — cluster cohesion, calibrated prediction
  * intervals, embedding geometry, count modeling, curation economics, and
  * hierarchical smoothing:
  *
  *  - p193 label-cohesion silhouette: simplified (centroid-based)
  *    silhouette per embedding label — a = distance to own centroid, b =
  *    nearest other centroid, s = (b−a)/max(a,b). Centroids broadcast; the
  *    per-vector work is map-only over |labels|·dims cells. Complements
  *    p43 (within-label cosine cohesion) with the BETWEEN-label contrast
  *    that decides whether labels are separable at all.
  *
  *  - p194 split-conformal coverage: per-event-type mean predictors fit on
  *    the even-event_id half, the 90% residual quantile taken over the
  *    calibration half (bucketed two-phase ExactPercentile — never a
  *    group-buffering exact agg), and empirical coverage measured on the
  *    held-out half. The distribution-free PI machinery a pipeline uses
  *    to ship "value will be within ±q" guarantees; distinct from p135's
  *    bootstrap (CI for a MEAN) — this calibrates per-ROW intervals.
  *
  *  - p195 embedding isotropy audit: mean cosine over deterministic
  *    XOR-paired vectors, norm concentration, and the anisotropy ratio
  *    ||mean vector|| / mean ||vector|| — the cheap whole-corpus screen
  *    for collapsed/anisotropic embedding spaces before ANN indexing.
  *
  *  - p196 user-activity overdispersion: per-user event counts per type,
  *    index of dispersion var/mean over active users — the Poisson-vs-
  *    negative-binomial decision input for traffic modeling. Integer
  *    count sums are exact at any scale.
  *
  *  - p197 curation Pareto curve: sources ranked by en-stopword density
  *    (the p08/p09 quality-proxy family), cumulative token share along the
  *    ranking — how much of the corpus survives at each quality bar; the
  *    quality-vs-quantity frontier (p39 allocates a fixed budget, p31
  *    derives sampling weights — this one shows the tradeoff curve those
  *    decisions read). The window runs over the SOURCE-level frame.
  *
  *  - p198 empirical-Bayes group shrinkage: per-source mean doc length
  *    shrunk toward the grand mean with the moment-estimated
  *    between-group variance (random-effects τ²) — the smoothing every
  *    per-domain quality score needs before thresholding sparse domains.
  *
  * Determinism: DECIMAL sums of integers or 9dp-rounded terms, exact
  * two-phase percentile selection, XOR pairing keyed on vec_id, ordered
  * outputs, 6dp-rounded ratios.
  */
object PipelineQueries50 {

  private val enStops = Seq("the", "a", "and", "of", "to", "in", "is")
  private val enStopsSql = enStops.map("'" + _ + "'").mkString(", ")

  val defs: Seq[QueryDef] = Seq(

    // --------------------- label-cohesion silhouette (p193)
    QueryDef("p193_label_silhouette", Some("""
      WITH uv AS (
        SELECT label, vec_id,
               unnest(list_transform(range(1, CAST(len(embedding) AS BIGINT) + 1),
                 x -> CAST(x AS BIGINT))) AS dim,
               embedding
        FROM embeddings),
      vals AS (
        SELECT label, vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS val
        FROM uv),
      cent AS (
        SELECT label AS clabel, dim,
               CAST(sum(CAST(round(val, 9) AS DECIMAL(38,9))) AS DOUBLE)
                 / count(*) AS m
        FROM vals GROUP BY label, dim),
      dist AS (
        SELECT v.vec_id, v.label, c.clabel,
               sqrt(CAST(sum(CAST(round((v.val - c.m) * (v.val - c.m), 9)
                 AS DECIMAL(38,9))) AS DOUBLE)) AS dd
        FROM vals v JOIN cent c ON v.dim = c.dim
        GROUP BY v.vec_id, v.label, c.clabel),
      ab AS (
        SELECT vec_id, label,
               min(CASE WHEN clabel = label THEN dd END) AS a,
               min(CASE WHEN clabel <> label THEN dd END) AS b
        FROM dist GROUP BY vec_id, label),
      sil AS (
        SELECT label,
               CAST(round((b - a) / greatest(a, b), 9) AS DECIMAL(38,9)) AS s
        FROM ab)
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS mean_sil
      FROM sil GROUP BY label ORDER BY label""")) { (s, dir) =>
      // r18 OPTIMIZATION (guide §2.4, the p62 rewrite class): centroids are
      // |labels|×dims of MODEL state — collect them to the driver (same
      // discipline as p62's 65-cell gradients) and make the whole distance
      // pass MAP-ONLY per vector: dd(v,c) folds over the embedding array
      // against a literal centroid. The old shape exploded the corpus to a
      // (vec, dim) frame, shuffled it twice (centroid agg + per-(vec,
      // clabel) distance reduce) and fanned it ×|labels| through a join.
      // All reductions are exact DECIMAL sums (order-free) and the mean is
      // the same IEEE double division, so results are bit-identical
      // (re-verified vs DuckDB at sf0.001/sf0.01).
      // r19 (ADVICE #2/#3): the element_at fold relies on every row carrying
      // a non-null, uniform-width embedding — enforce it instead of assuming
      // it (a null array would zero out of the old exploded shape but feed
      // nulls into the fold), and guard the empty table (head() on an empty
      // frame threw where the old fully-engine-side shape returned empty).
      val e0 = Tables.df(s, dir, "embeddings")
        .filter(col("embedding").isNotNull)
        .select(col("label"), col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("xs"))
        .localCheckpoint() // two passes: centroid agg + distance scan
      val dimRow = e0.select(size(col("xs")).as("d")).limit(1).collect().headOption
      if (dimRow.isEmpty) {
        e0.select(col("label"), lit(0L).as("n_vecs"),
          lit(null).cast("double").as("mean_sil")).limit(0).orderBy(col("label"))
      } else {
      val dim = dimRow.get.getInt(0)
      // uniform-width assertion: a ragged corpus must fail loudly, not
      // silently mis-fold (assert_true is dead code on well-formed data —
      // verified hash-identical vs the oracle at both test SFs)
      val e = e0.filter(assert_true(size(col("xs")) === dim,
        concat(lit("p193: ragged embedding width, expected "), lit(dim),
          lit(", got "), size(col("xs")).cast("string"))).isNull)
      val sumExprs = (0 until dim).map(i =>
        sum(Kit.rdec(element_at(col("xs"), i + 1), 9))
          .as(s"s$i"))
      val centRows = e.groupBy(col("label"))
        .agg(count(lit(1)).as("cnt"), sumExprs: _*)
        .collect()
      // m = DECIMAL sum → double, / n: the same cast-then-divide the old
      // engine-side centroid projection performed
      val cents: Seq[(Int, Array[Double])] = centRows.map { r =>
        val n = r.getLong(1).toDouble
        (r.getInt(0),
          (0 until dim).map(i => r.getDecimal(i + 2).doubleValue() / n).toArray)
      }.toSeq.sortBy(_._1)
      def ddCol(m: Array[Double]): Column = sqrt(aggregate(
        zip_with(col("xs"), array(m.map(lit(_)): _*),
          (x, mm) => round((x - mm) * (x - mm), 9).cast("decimal(25,9)")),
        lit(0).cast("decimal(37,9)"),
        (acc, t) => (acc + t).cast("decimal(37,9)")).cast("double"))
      val withDd = e.select(col("label") +:
        cents.zipWithIndex.map { case ((_, m), i) => ddCol(m).as(s"dd$i") }: _*)
      val aCol = cents.zipWithIndex
        .map { case ((l, _), i) => when(col("label") === lit(l), col(s"dd$i")) }
        .reduce(coalesce(_, _))
      val bCands = cents.zipWithIndex
        .map { case ((l, _), i) => when(col("label") =!= lit(l), col(s"dd$i")) }
      val bCol =
        if (bCands.size == 1) lit(null).cast("double") else least(bCands: _*)
      val sil = withDd.select(col("label"),
        Kit.rdec((bCol - aCol) / greatest(aCol, bCol), 9).as("s"))
      sil.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(sum(col("s")).cast("double") / count(lit(1)), 6).as("mean_sil"))
        .orderBy(col("label"))
      }
    },

    // --------------------- split-conformal coverage (p194)
    QueryDef("p194_conformal_coverage", Some("""
      WITH calib AS (
        SELECT event_type, value FROM events WHERE event_id % 2 = 0),
      test AS (
        SELECT event_type, value FROM events WHERE event_id % 2 = 1),
      pred AS (
        SELECT event_type,
               CAST(sum(CAST(round(value, 2) AS DECIMAL(38,2))) AS DOUBLE)
                 / count(*) AS mu
        FROM calib GROUP BY event_type),
      resid AS (
        SELECT abs(c.value - p.mu) AS r
        FROM calib c JOIN pred p ON c.event_type = p.event_type),
      q AS (SELECT quantile_cont(r, 0.9) AS q90 FROM resid)
      SELECT t.event_type,
             CAST(count(*) AS BIGINT) AS n_test,
             round(min(q.q90), 6) AS q90,
             round(CAST(sum(CASE WHEN abs(t.value - p.mu) <= q.q90
               THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS coverage
      FROM test t JOIN pred p ON t.event_type = p.event_type, q
      GROUP BY t.event_type ORDER BY t.event_type""")) { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
      val calib = ev.filter(col("event_id") % 2 === 0)
        .select(col("event_type"), col("value"))
      val test = ev.filter(col("event_id") % 2 === 1)
        .select(col("event_type"), col("value"))
      val pred = calib.groupBy(col("event_type")).agg(
        (Kit.rsum(col("value"), 2) /
          count(lit(1))).as("mu"))
      val resid = calib.join(broadcast(pred), "event_type")
        .select(lit(0L).as("k"), abs(col("value") - col("mu")).as("r"))
      // exact 90th percentile by bucketed two-phase selection (p156's
      // shape): constant bucket state, never a group-buffering percentile
      val q = ExactPercentile.refined(resid, "k", col("r"),
        Seq(0.9 -> "q90"), bucket = x => floor(x)).select(col("q90"))
      test.join(broadcast(pred), "event_type")
        .crossJoin(broadcast(q))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_test"),
          round(min(col("q90")), 6).as("q90"),
          round(sum(when(abs(col("value") - col("mu")) <= col("q90"), 1L)
            .otherwise(0L)).cast("double") / count(lit(1)), 6).as("coverage"))
        .orderBy(col("event_type"))
    },

    // --------------------- embedding isotropy audit (p195)
    QueryDef("p195_embedding_isotropy", Some("""
      WITH norms AS (
        SELECT vec_id,
               sqrt(CAST((SELECT sum(CAST(round(x * x, 9) AS DECIMAL(38,9)))
                 FROM unnest(CAST(embedding AS DOUBLE[])) AS u(x)) AS DOUBLE))
                 AS nrm
        FROM embeddings),
      pairs AS (
        SELECT a.vec_id,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                 CAST(b.embedding AS DOUBLE[])) AS cos
        FROM embeddings a JOIN embeddings b ON b.vec_id = xor(a.vec_id, 1)
        WHERE a.vec_id < b.vec_id),
      ud AS (
        SELECT unnest(list_transform(range(1, CAST(len(embedding) AS BIGINT) + 1),
                 x -> CAST(x AS BIGINT))) AS dim,
               embedding
        FROM embeddings),
      cent AS (
        SELECT dim,
               CAST(sum(CAST(round(CAST(embedding[dim] AS DOUBLE), 9)
                 AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS m
        FROM ud GROUP BY dim),
      cn AS (
        SELECT sqrt(CAST(sum(CAST(round(m * m, 9) AS DECIMAL(38,9))) AS DOUBLE))
          AS center_norm FROM cent),
      mn AS (
        SELECT CAST(sum(CAST(round(nrm, 9) AS DECIMAL(38,9))) AS DOUBLE)
          / count(*) AS mean_norm FROM norms)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs,
             round((SELECT CAST(sum(CAST(round(cos, 9) AS DECIMAL(38,9)))
               AS DOUBLE) / count(*) FROM pairs), 6) AS mean_pair_cos,
             round(mean_norm, 6) AS mean_norm,
             round(center_norm, 6) AS center_norm,
             round(center_norm / mean_norm, 6) AS anisotropy
      FROM mn, cn""")) { (s, dir) =>
      val e = Tables.df(s, dir, "embeddings")
      val vals = e.select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).as("dim"),
          col("col").cast("double").as("val"))
      val norms = vals.groupBy(col("vec_id")).agg(
        sqrt(Kit.rsum(col("val") * col("val"), 9)).as("nrm"))
      // deterministic pairing: vec 2k with 2k+1 — one equi-join, no
      // quadratic pair space anywhere
      val pairs = e.alias("a").join(e.alias("b"),
          col("b.vec_id") === expr("a.vec_id ^ 1") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(graft.Functions.cosineSimilarity(
          col("a.embedding"), col("b.embedding")).as("cos"))
      val cent = vals.groupBy(col("dim")).agg(
        (Kit.rsum(col("val"), 9) /
          count(lit(1))).as("m"))
      val cn = cent.agg(sqrt(Kit.rsum(col("m") * col("m"), 9)).as("center_norm"))
      val mn = norms.agg((Kit.rsum(col("nrm"), 9) / count(lit(1))).as("mean_norm"))
      val pc = pairs.agg(count(lit(1)).as("n_pairs"),
        (Kit.rsum(col("cos"), 9) /
          count(lit(1))).as("mpc"))
      pc.crossJoin(broadcast(mn)).crossJoin(broadcast(cn))
        .select(col("n_pairs"), round(col("mpc"), 6).as("mean_pair_cos"),
          round(col("mean_norm"), 6).as("mean_norm"),
          round(col("center_norm"), 6).as("center_norm"),
          round(col("center_norm") / col("mean_norm"), 6).as("anisotropy"))
    },

    // --------------------- user-activity overdispersion (p196)
    QueryDef.sql("p196_overdispersion", """
      WITH uc AS (
        SELECT event_type, user_id, count(*) AS c
        FROM events GROUP BY event_type, user_id),
      m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(c) AS BIGINT) AS sc,
               CAST(sum(c * c) AS BIGINT) AS scc
        FROM uc GROUP BY event_type)
      SELECT event_type, n_users,
             round(CAST(sc AS DOUBLE) / n_users, 6) AS mean_c,
             round((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n_users)
               / (n_users - 1), 6) AS var_c,
             round(((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n_users)
               / (n_users - 1)) / (CAST(sc AS DOUBLE) / n_users), 4)
               AS dispersion
      FROM m ORDER BY event_type"""),

    // --------------------- curation Pareto curve (p197)
    QueryDef("p197_quality_pareto", Some(s"""
      WITH t AS (
        SELECT source, string_split_regex(lower(text), '\\s+') AS toks
        FROM documents),
      src AS (
        SELECT source,
               CAST(sum(len(toks)) AS BIGINT) AS n_toks,
               round(CAST(sum(len(list_filter(toks,
                   x -> x IN ($enStopsSql)))) AS DOUBLE)
                 / sum(len(toks)), 6) AS q
        FROM t GROUP BY source),
      ranked AS (
        SELECT source, n_toks, q,
               sum(n_toks) OVER (ORDER BY q DESC, source
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks,
               (SELECT sum(n_toks) FROM src) AS tot
        FROM src)
      SELECT source, n_toks, q,
             round(CAST(cum_toks AS DOUBLE) / tot, 6) AS cum_token_share
      FROM ranked ORDER BY q DESC, source""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), Kit.words(col("text")).as("toks"))
      val src = t.groupBy(col("source")).agg(
        sum(size(col("toks"))).cast("bigint").as("n_toks"),
        round(sum(size(filter(col("toks"),
            x => x.isin(enStops.map(lit(_)): _*)))).cast("double") /
          sum(size(col("toks"))), 6).as("q"))
      // window over the SOURCE-level frame: bounded by the source
      // vocabulary, not the corpus
      val w = Window.orderBy(col("q").desc, col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = src.agg(sum(col("n_toks")).as("tot"))
      src.withColumn("cum_toks", sum(col("n_toks")).over(w))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_toks"), col("q"),
          round(col("cum_toks").cast("double") / col("tot"), 6)
            .as("cum_token_share"))
        .orderBy(col("q").desc, col("source"))
    },

    // --------------------- empirical-Bayes group shrinkage (p198)
    QueryDef.sql("p198_eb_shrinkage", """
      WITH g AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS sx,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
        FROM documents GROUP BY source),
      gm AS (
        SELECT source, n,
               CAST(sx AS DOUBLE) / n AS mean_g,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                 / (n - 1) AS var_g
        FROM g),
      gl AS (
        SELECT count(*) AS k,
               CAST(sum(CAST(round(mean_g, 9) AS DECIMAL(38,9))) AS DOUBLE)
                 / count(*) AS grand,
               CAST(sum(CAST(round(var_g / n, 9) AS DECIMAL(38,9))) AS DOUBLE)
                 / count(*) AS vbar,
               (CAST(sum(CAST(round(mean_g * mean_g, 9) AS DECIMAL(38,9)))
                   AS DOUBLE)
                 - CAST(sum(CAST(round(mean_g, 9) AS DECIMAL(38,9))) AS DOUBLE)
                   * CAST(sum(CAST(round(mean_g, 9) AS DECIMAL(38,9)))
                     AS DOUBLE) / count(*))
                 / (count(*) - 1) AS between_v
        FROM gm)
      SELECT gm.source, gm.n, round(gm.mean_g, 6) AS raw_mean,
             round(greatest(0, between_v - vbar)
               / (greatest(0, between_v - vbar) + gm.var_g / gm.n), 6)
               AS shrink_b,
             round(grand + greatest(0, between_v - vbar)
               / (greatest(0, between_v - vbar) + gm.var_g / gm.n)
               * (gm.mean_g - grand), 6) AS eb_mean
      FROM gm, gl ORDER BY gm.source"""))
}
