package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 38 — distribution-comparison tier: the
  * nonparametric drift and association tests that complement batch 37's
  * parametric ones. Same scale stance: the corpus-sized work is a partial
  * agg; every window runs on a value-domain-bounded frame.
  *
  *  - p140 two-sample Kolmogorov–Smirnov: D = max |ECDF₀ − ECDF₁| of the
  *    EN-stopword score between the even/odd source halves, computed on the
  *    4dp-quantized distinct-score frame (≤ 10^4+1 rows at ANY corpus size —
  *    the p133 window class), with the α=0.05 critical value
  *    1.358·√((n₀+n₁)/(n₀·n₁)) and the reject flag.
  *
  *  - p141 Spearman rank correlation between the EN-stopword score and
  *    document length: average ranks derived on each variable's bounded
  *    distinct-value frame (midrank = cum-below + (count+1)/2 — exact .5
  *    multiples), broadcast-joined back to the corpus, then Pearson on the
  *    ranks from DECIMAL sufficient sums. The ties-correct Spearman, with
  *    no corpus-sized sort anywhere.
  *
  *  - p142 randomization (permutation) test for the even/odd mean gap:
  *    B=200 label reassignments drawn map-side from md5 uniforms (the p135
  *    machinery — each (doc, replicate) flips a fair coin), null diffs from
  *    one partial agg over (replicate, side), and the add-one p-value
  *    p = (1 + #{|d_b| ≥ |d_obs|}) / (B+1). Distribution-free inference in
  *    one pass — no Φ, no t CDF, engine-exact.
  *
  * Determinism: integer count mass, 6dp-rounded scores in DECIMAL sums,
  * midranks exact at .5 granularity, md5-derived uniforms spelled
  * identically on both engines, final statistics rounded 6dp.
  */
object PipelineQueries38 {

  val defs: Seq[QueryDef] = Seq(

    // ---------------------- two-sample Kolmogorov-Smirnov test (p140)
    QueryDef("p140_ks_test", Some(s"""
      WITH sc AS (
        SELECT CAST(substr(source, 4) AS INTEGER) % 2 AS grp,
               ${Kit.enRatioSql(4)} AS q
        FROM (SELECT source, string_split_regex(lower(text), '\\s+') AS ws
              FROM documents) t),
      g AS (
        SELECT q,
               CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM sc GROUP BY q),
      e AS (
        SELECT sum(c0) OVER (ORDER BY q
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e0,
               sum(c1) OVER (ORDER BY q
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e1
        FROM g),
      tot AS (
        SELECT CAST(max(e0) AS BIGINT) AS n0, CAST(max(e1) AS BIGINT) AS n1
        FROM e),
      a AS (
        SELECT max(abs(CAST(e.e0 AS DOUBLE) / tot.n0
                       - CAST(e.e1 AS DOUBLE) / tot.n1)) AS d_raw
        FROM e CROSS JOIN tot)
      SELECT n0, n1, round(d_raw, 6) AS ks_d,
             round(1.358 * sqrt(CAST(n0 + n1 AS DOUBLE) / (n0 * n1)), 6)
               AS crit_05,
             CASE WHEN d_raw > 1.358 * sqrt(CAST(n0 + n1 AS DOUBLE) / (n0 * n1))
                  THEN 1 ELSE 0 END AS rejected
      FROM tot CROSS JOIN a""")) { (s, dir) =>
      val sc = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), Kit.words(col("text")).as("ws"))
        .select((substring(col("source"), 4, 10).cast("int") % 2).as("grp"),
          Kit.enRatio(col("ws"), 4).as("q"))
      val g = sc.groupBy(col("q"))
        .agg(sum(when(col("grp") === 0, 1).otherwise(0)).cast("bigint").as("c0"),
          sum(when(col("grp") === 1, 1).otherwise(0)).cast("bigint").as("c1"))
      val cum = Window.orderBy(col("q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val e = g.select(sum(col("c0")).over(cum).as("e0"),
        sum(col("c1")).over(cum).as("e1"))
      // totals via the final cumulative value (max over the bounded frame)
      val tot = e.agg(max(col("e0")).cast("bigint").as("n0"),
        max(col("e1")).cast("bigint").as("n1"))
      val dRaw = e.crossJoin(broadcast(tot))
        .agg(max(abs(col("e0").cast("double") / col("n0")
          - col("e1").cast("double") / col("n1"))).as("d_raw"))
      tot.crossJoin(broadcast(dRaw))
        .select(col("n0"), col("n1"), round(col("d_raw"), 6).as("ks_d"),
          round(lit(1.358) * sqrt((col("n0") + col("n1")).cast("double")
            / (col("n0") * col("n1"))), 6).as("crit_05"),
          when(col("d_raw") > lit(1.358)
            * sqrt((col("n0") + col("n1")).cast("double")
              / (col("n0") * col("n1"))), 1).otherwise(0).as("rejected"))
    },

    // --------------------------- Spearman rank correlation (p141)
    QueryDef("p141_spearman_corr", Some(s"""
      WITH sc AS (
        SELECT ${Kit.enRatioSql(4)} AS q, len(text) AS y
        FROM (SELECT text, string_split_regex(lower(text), '\\s+') AS ws
              FROM documents) t),
      qv AS (SELECT q, CAST(count(*) AS BIGINT) AS c FROM sc GROUP BY q),
      qr AS (
        SELECT q,
               coalesce(sum(c) OVER (ORDER BY q
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + (c + 1) / 2.0 AS rx
        FROM qv),
      yv AS (SELECT y, CAST(count(*) AS BIGINT) AS c FROM sc GROUP BY y),
      yr AS (
        SELECT y,
               coalesce(sum(c) OVER (ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + (c + 1) / 2.0 AS ry
        FROM yv),
      rk AS (
        SELECT qr.rx, yr.ry
        FROM sc JOIN qr ON sc.q = qr.q JOIN yr ON sc.y = yr.y),
      a AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(rx AS DECIMAL(38,1))) AS DOUBLE) AS sx,
               CAST(sum(CAST(ry AS DECIMAL(38,1))) AS DOUBLE) AS sy,
               CAST(sum(CAST(rx AS DECIMAL(19,1)) * CAST(ry AS DECIMAL(19,1)))
                    AS DOUBLE) AS sxy,
               CAST(sum(CAST(rx AS DECIMAL(19,1)) * CAST(rx AS DECIMAL(19,1)))
                    AS DOUBLE) AS sxx,
               CAST(sum(CAST(ry AS DECIMAL(19,1)) * CAST(ry AS DECIMAL(19,1)))
                    AS DOUBLE) AS syy
        FROM rk)
      SELECT n,
             round((n * sxy - sx * sy)
                   / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS spearman_rho
      FROM a""")) { (s, dir) =>
      val sc = Tables.dfSpread(s, dir, "documents")
        .select(col("text"), Kit.words(col("text")).as("ws"))
        .select(Kit.enRatio(col("ws"), 4).as("q"), length(col("text")).as("y"))
      val qr = Kit.midranks(sc, "q", "rx")
      val yr = Kit.midranks(sc, "y", "ry")
      val rk = sc.join(broadcast(qr), "q").join(broadcast(yr), "y")
        .select(col("rx"), col("ry"))
      val a = rk.agg(count(lit(1)).cast("bigint").as("n"),
        Kit.dsum(col("rx"), 1).as("sx"),
        Kit.dsum(col("ry"), 1).as("sy"),
        sum(col("rx").cast("decimal(19,1)") * col("ry").cast("decimal(19,1)"))
          .cast("double").as("sxy"),
        sum(col("rx").cast("decimal(19,1)") * col("rx").cast("decimal(19,1)"))
          .cast("double").as("sxx"),
        sum(col("ry").cast("decimal(19,1)") * col("ry").cast("decimal(19,1)"))
          .cast("double").as("syy"))
      a.select(col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            * (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("spearman_rho"))
    },

    // --------------------- randomization / permutation test (p142)
    QueryDef("p142_permutation_test", Some(s"""
      WITH sc AS (
        SELECT doc_id, CAST(substr(source, 4) AS INTEGER) % 2 AS grp,
               ${Kit.enRatioSql(6)} AS x
        FROM (SELECT doc_id, source,
                     string_split_regex(lower(text), '\\s+') AS ws
              FROM documents) t),
      obs AS (
        SELECT round(CAST(sum(CASE WHEN grp = 0
                   THEN CAST(x AS DECIMAL(38,6)) END) AS DOUBLE)
                 / sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END), 6)
               - round(CAST(sum(CASE WHEN grp = 1
                   THEN CAST(x AS DECIMAL(38,6)) END) AS DOUBLE)
                 / sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END), 6) AS d_obs
        FROM sc),
      fl AS (
        SELECT b.range AS b,
               CASE WHEN (CAST(('0x' || substr(md5(CAST(sc.doc_id AS STRING)
                      || '_' || CAST(b.range AS STRING)), 1, 8)) AS BIGINT)
                    / 4294967296.0) < 0.5 THEN 0 ELSE 1 END AS g,
               sc.x
        FROM sc CROSS JOIN range(0, 200) b),
      nd AS (
        SELECT b,
               round(CAST(sum(CASE WHEN g = 0
                   THEN CAST(x AS DECIMAL(38,6)) END) AS DOUBLE)
                 / sum(CASE WHEN g = 0 THEN 1 ELSE 0 END), 6)
               - round(CAST(sum(CASE WHEN g = 1
                   THEN CAST(x AS DECIMAL(38,6)) END) AS DOUBLE)
                 / sum(CASE WHEN g = 1 THEN 1 ELSE 0 END), 6) AS d
        FROM fl GROUP BY b
        HAVING sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) > 0
           AND sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) > 0)
      SELECT round(obs.d_obs, 6) AS d_obs,
             CAST(count(*) AS BIGINT) AS n_reps,
             round(CAST(1 + sum(CASE WHEN abs(nd.d) >= abs(obs.d_obs)
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                   / (count(*) + 1), 6) AS p_perm
      FROM nd CROSS JOIN obs GROUP BY obs.d_obs""")) { (s, dir) =>
      val sc = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), col("source"), Kit.words(col("text")).as("ws"))
        .select(col("doc_id"),
          (substring(col("source"), 4, 10).cast("int") % 2).as("grp"),
          Kit.enRatio(col("ws"), 6).as("x"))
      def meanDiff(g: Column): Column = {
        round(sum(when(g === 0, col("x").cast("decimal(38,6)"))).cast("double")
          / sum(when(g === 0, 1).otherwise(0)), 6) -
          round(sum(when(g === 1, col("x").cast("decimal(38,6)"))).cast("double")
            / sum(when(g === 1, 1).otherwise(0)), 6)
      }
      val obs = sc.agg(meanDiff(col("grp")).as("d_obs"))
      val u = conv(substring(md5(concat(col("doc_id").cast("string"), lit("_"),
        col("b").cast("string"))), 1, 8), 16, 10).cast("bigint") / 4294967296.0
      val fl = sc.withColumn("b", explode(sequence(lit(0), lit(199))))
        .withColumn("g", when(u < 0.5, 0).otherwise(1))
      val nd = fl.groupBy(col("b"))
        .agg(meanDiff(col("g")).as("d"),
          sum(when(col("g") === 0, 1).otherwise(0)).as("k0"),
          sum(when(col("g") === 1, 1).otherwise(0)).as("k1"))
        .filter(col("k0") > 0 && col("k1") > 0)
        .select(col("b"), col("d"))
      nd.crossJoin(broadcast(obs))
        .groupBy(col("d_obs"))
        .agg(count(lit(1)).cast("bigint").as("n_reps"),
          round((lit(1) + sum(when(abs(col("d")) >= abs(col("d_obs")), 1)
            .otherwise(0))).cast("double") / (count(lit(1)) + 1), 6)
            .as("p_perm"))
        .select(round(col("d_obs"), 6).as("d_obs"), col("n_reps"), col("p_perm"))
    })
}
