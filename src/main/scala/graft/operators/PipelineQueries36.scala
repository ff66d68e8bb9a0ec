package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 36 — corpus-statistics inference: the audits that
  * attach uncertainty and attribution to pipeline decisions before they gate
  * a 100-TB corpus.
  *
  *  - p134 group-fairness audit of a gating score: per source, selection
  *    rate (demographic parity), TPR and FPR against the lang='en' label at
  *    a fixed data-independent threshold, plus each group's gap to the
  *    pooled rates. ONE partial-agg pass + a broadcast 1-row pooled frame —
  *    the standard pre-deployment disparity readout for a quality gate.
  *
  *  - p135 Poisson bootstrap CI for a corpus mean — THE scalable bootstrap:
  *    instead of resampling n rows B times (impossible distributed), each
  *    (doc, replicate) draws a Poisson(1) weight from a deterministic
  *    md5-derived uniform, so all B=200 replicates accumulate in one
  *    map-side pass and the only shuffle is B partial-agg cells per
  *    partition. CI from exact percentiles over the 200-replicate frame
  *    (ExactPercentile one-level histogram — the frame IS 200 rows), the
  *    bootstrap SE from closed-form decimal sums. (Poisson truncated at 6 —
  *    P(X>6) < 1e-4 — identically on both engines.)
  *
  *  - p136 mutual-information feature ranking: I(word-presence; lang) per
  *    word from (word, lang) document counts, densified over the broadcast
  *    5-language marginals (absent cells enter through the complement term),
  *    top-20 by MI. The classic filter-method feature selector, shaped as
  *    one vocab-bounded partial agg — the companion to p131's NB model and
  *    p126's stump search.
  *
  * Determinism: the repo's standard conventions — per-cell doubles rounded
  * (6/9/12dp) before DECIMAL summation, integer count mass everywhere else,
  * final divisions rounded, ties broken lexicographically.
  */
object PipelineQueries36 {

  /** Fixed data-independent gating threshold for p134 (1/16). */
  private val Tau = 0.0625

  /** Truncated Poisson(1) inverse CDF over a 32-bit md5 uniform — identical
    * CASE ladder on both engines; cumulative e^-1 masses, tail folded into 6. */
  private def poissonLadderSql(u: String): String =
    s"CASE WHEN $u < 0.3678794412 THEN 0 WHEN $u < 0.7357588823 THEN 1" +
      s" WHEN $u < 0.9196986029 THEN 2 WHEN $u < 0.9810118431 THEN 3" +
      s" WHEN $u < 0.9963401532 THEN 4 WHEN $u < 0.9994058152 THEN 5" +
      " ELSE 6 END"

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------- group-fairness audit (p134)
    QueryDef("p134_fairness_audit", Some(s"""
      WITH sc AS (
        SELECT source,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
               CASE WHEN ${Kit.enRatioSql(6)} >= $Tau THEN 1 ELSE 0 END AS sel
        FROM (SELECT source, lang,
                     string_split_regex(lower(text), '\\s+') AS ws
              FROM documents) t),
      grp AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               round(CAST(sum(sel) AS DOUBLE) / count(*), 6) AS sel_rate,
               round(CASE WHEN sum(pos) > 0 THEN
                 CAST(sum(sel * pos) AS DOUBLE) / sum(pos) END, 6) AS tpr,
               round(CASE WHEN sum(1 - pos) > 0 THEN
                 CAST(sum(sel * (1 - pos)) AS DOUBLE) / sum(1 - pos) END, 6)
                 AS fpr
        FROM sc GROUP BY source),
      pooled AS (
        SELECT round(CAST(sum(sel) AS DOUBLE) / count(*), 6) AS p_sel,
               round(CAST(sum(sel * pos) AS DOUBLE) / sum(pos), 6) AS p_tpr
        FROM sc)
      SELECT source, n_docs, sel_rate, tpr, fpr,
             round(sel_rate - p_sel, 6) AS sel_gap,
             round(tpr - p_tpr, 6) AS tpr_gap
      FROM grp CROSS JOIN pooled ORDER BY source""")) { (s, dir) =>
      val sc = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), col("lang"), Kit.words(col("text")).as("ws"))
        .select(col("source"),
          (col("lang") === "en").cast("int").as("pos"),
          (Kit.enRatio(col("ws"), 6) >= Tau).cast("int").as("sel"))
      val grp = sc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("sel")).cast("double") / count(lit(1)), 6).as("sel_rate"),
          round(when(sum(col("pos")) > 0,
            sum(col("sel") * col("pos")).cast("double") / sum(col("pos"))), 6)
            .as("tpr"),
          round(when(sum(lit(1) - col("pos")) > 0,
            sum(col("sel") * (lit(1) - col("pos"))).cast("double")
              / sum(lit(1) - col("pos"))), 6).as("fpr"))
      val pooled = sc.agg(
        round(sum(col("sel")).cast("double") / count(lit(1)), 6).as("p_sel"),
        round(sum(col("sel") * col("pos")).cast("double") / sum(col("pos")), 6)
          .as("p_tpr"))
      grp.crossJoin(broadcast(pooled))
        .select(col("source"), col("n_docs"), col("sel_rate"), col("tpr"),
          col("fpr"),
          round(col("sel_rate") - col("p_sel"), 6).as("sel_gap"),
          round(col("tpr") - col("p_tpr"), 6).as("tpr_gap"))
        .orderBy(col("source"))
    },

    // -------------------------------------- Poisson bootstrap CI (p135)
    QueryDef("p135_poisson_bootstrap", Some(s"""
      WITH x AS (
        SELECT doc_id, ${Kit.enRatioSql(6)} AS x
        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
              FROM documents) t),
      w AS (
        SELECT b.range AS b, x.x,
               ${poissonLadderSql(
                 "(CAST(('0x' || substr(md5(CAST(x.doc_id AS STRING) || '_' || " +
                 "CAST(b.range AS STRING)), 1, 8)) AS BIGINT) / 4294967296.0)")} AS wt
        FROM x CROSS JOIN range(0, 200) b),
      reps AS (
        SELECT b,
               round(CAST(sum(CAST(round(wt * x, 6) AS DECIMAL(38,6)))
                          AS DOUBLE) / sum(wt), 6) AS m
        FROM w GROUP BY b HAVING sum(wt) > 0),
      ci AS (SELECT quantile_cont(m, [0.025, 0.975]) AS qs FROM reps),
      se AS (
        SELECT CAST(count(*) AS BIGINT) AS n_reps,
               round(sqrt((CAST(sum(CAST(round(m * m, 12) AS DECIMAL(38,12)))
                                AS DOUBLE)
                 - CAST(sum(CAST(m AS DECIMAL(38,6))) AS DOUBLE)
                   * CAST(sum(CAST(m AS DECIMAL(38,6))) AS DOUBLE) / count(*))
                 / (count(*) - 1)), 6) AS se_boot
        FROM reps),
      pt AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               round(CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
                     / count(*), 6) AS mean_x
        FROM x)
      SELECT pt.n_docs, se.n_reps, pt.mean_x, se.se_boot,
             round(ci.qs[1], 6) AS ci_lo, round(ci.qs[2], 6) AS ci_hi
      FROM pt CROSS JOIN se CROSS JOIN ci""")) { (s, dir) =>
      val x = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("ws"))
        .select(col("doc_id"), Kit.enRatio(col("ws"), 6).as("x"))
      // all B=200 replicates in ONE map-side pass: the explode is local to
      // each task and the only shuffle is the 200-cell partial agg
      val u = conv(substring(md5(concat(col("doc_id").cast("string"), lit("_"),
        col("b").cast("string"))), 1, 8), 16, 10).cast("bigint") / 4294967296.0
      val ladder = when(u < 0.3678794412, 0).when(u < 0.7357588823, 1)
        .when(u < 0.9196986029, 2).when(u < 0.9810118431, 3)
        .when(u < 0.9963401532, 4).when(u < 0.9994058152, 5).otherwise(6)
      val wt = x.withColumn("b", explode(sequence(lit(0), lit(199))))
        .withColumn("wt", ladder)
      val reps = wt.groupBy(col("b"))
        .agg((Kit.rsum(col("wt") * col("x"), 6) / sum(col("wt"))).as("m0"), sum(col("wt")).as("sw"))
        .filter(col("sw") > 0)
        .select(col("b"), round(col("m0"), 6).as("m"))
      val ci = ExactPercentile.percentiles(
        reps.withColumn("g", lit(1)), "g", col("m"),
        Seq(0.025 -> "q_lo", 0.975 -> "q_hi")).drop("g")
      val se = reps.agg(count(lit(1)).cast("bigint").as("n_reps"),
        round(sqrt((Kit.rsum(col("m") * col("m"), 12)
          - Kit.dsum(col("m"), 6)
            * Kit.dsum(col("m"), 6) / count(lit(1)))
          / (count(lit(1)) - 1)), 6).as("se_boot"))
      val pt = x.agg(count(lit(1)).cast("bigint").as("n_docs"),
        round(Kit.dsum(col("x"), 6)
          / count(lit(1)), 6).as("mean_x"))
      pt.crossJoin(broadcast(se)).crossJoin(broadcast(ci))
        .select(col("n_docs"), col("n_reps"), col("mean_x"), col("se_boot"),
          round(col("q_lo"), 6).as("ci_lo"), round(col("q_hi"), 6).as("ci_hi"))
    },

    // ------------------------- mutual-information feature ranking (p136)
    QueryDef("p136_mutual_information", Some("""
      WITH pres AS (
        SELECT DISTINCT doc_id, lang, w
        FROM (SELECT doc_id, lang, unnest(ws) AS w
              FROM (SELECT doc_id, lang,
                           string_split_regex(lower(text), '\s+') AS ws
                    FROM documents) t0) t),
      cell AS (SELECT w, lang, CAST(count(*) AS BIGINT) AS n_wl
               FROM pres GROUP BY 1, 2),
      marg AS (SELECT w, CAST(sum(n_wl) AS BIGINT) AS n_w
               FROM cell GROUP BY 1),
      lstat AS (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_l
                FROM pres GROUP BY 1),
      tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM pres),
      grid AS (
        SELECT m.w, m.n_w, l.lang, l.n_l, tot.n,
               coalesce(c.n_wl, 0) AS n_wl
        FROM marg m CROSS JOIN lstat l CROSS JOIN tot
        LEFT JOIN cell c ON c.w = m.w AND c.lang = l.lang),
      terms AS (
        SELECT w, n_w,
               round(
                 (CASE WHEN n_wl > 0 THEN
                    (CAST(n_wl AS DOUBLE) / n)
                    * ln(CAST(n_wl AS DOUBLE) * n
                         / (CAST(n_w AS DOUBLE) * n_l)) ELSE 0.0 END)
                 + (CASE WHEN n_l - n_wl > 0 THEN
                    (CAST(n_l - n_wl AS DOUBLE) / n)
                    * ln(CAST(n_l - n_wl AS DOUBLE) * n
                         / (CAST(n - n_w AS DOUBLE) * n_l)) ELSE 0.0 END),
                 9) AS t
        FROM grid),
      mi AS (
        SELECT w AS word, CAST(max(n_w) AS BIGINT) AS df,
               round(CAST(sum(CAST(t AS DECIMAL(38,9))) AS DOUBLE), 6) AS mi
        FROM terms WHERE n_w >= 2 GROUP BY w)
      SELECT word, df, mi FROM mi
      ORDER BY mi DESC, word LIMIT 20""")) { (s, dir) =>
      val pres = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(Kit.words(col("text")))).as("w"))
        .distinct()
      val cell = pres.groupBy(col("w"), col("lang"))
        .agg(count(lit(1)).cast("bigint").as("n_wl"))
      val marg = cell.groupBy(col("w"))
        .agg(sum(col("n_wl")).cast("bigint").as("n_w"))
      val lstat = pres.groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).cast("bigint").as("n_l"))
      val tot = pres.agg(countDistinct(col("doc_id")).cast("bigint").as("n"))
      // densify: absent (word, lang) cells enter via the complement term
      val grid = marg.crossJoin(broadcast(lstat)).crossJoin(broadcast(tot))
        .join(cell.withColumnRenamed("w", "cw").withColumnRenamed("lang", "cl"),
          col("cw") === col("w") && col("cl") === col("lang"), "left")
        .select(col("w"), col("n_w"), col("lang"), col("n_l"), col("n"),
          coalesce(col("n_wl"), lit(0L)).as("n_wl"))
      val t1 = when(col("n_wl") > 0,
        (col("n_wl").cast("double") / col("n"))
          * log(col("n_wl").cast("double") * col("n")
            / (col("n_w").cast("double") * col("n_l")))).otherwise(0.0)
      val n0 = col("n_l") - col("n_wl")
      val t2 = when(n0 > 0,
        (n0.cast("double") / col("n"))
          * log(n0.cast("double") * col("n")
            / ((col("n") - col("n_w")).cast("double") * col("n_l"))))
        .otherwise(0.0)
      val terms = grid.select(col("w"), col("n_w"), round(t1 + t2, 9).as("t"))
      terms.filter(col("n_w") >= 2)
        .groupBy(col("w").as("word"))
        .agg(max(col("n_w")).cast("bigint").as("df"),
          round(Kit.dsum(col("t"), 9), 6).as("mi"))
        .orderBy(col("mi").desc, col("word"))
        .limit(20)
    })
}
