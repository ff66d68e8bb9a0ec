package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 54 — distribution drift as transport cost,
  * cluster validity, closed-form linear modeling, ranking agreement,
  * decomposable concentration, and nonparametric trend:
  *
  *  - p217 Wasserstein-1 drift: earth-mover distance between each
  *    source's document-length distribution and the corpus distribution,
  *    computed as the integral of |CDF_source − CDF_corpus| over the
  *    integer n_chars grid. Adds the transport metric to the drift family
  *    (PSI p154, KS p140, CVM p162, JS p127): unlike sup- or bin-based
  *    statistics it weights HOW FAR mass moved. The grid is the
  *    value-domain-bounded distinct-length frame (the p141 class); every
  *    window is partitioned by source.
  *
  *  - p218 Calinski–Harabasz: variance-ratio validity of the embedding
  *    label grouping — between-label dispersion over within-label
  *    dispersion across all 64 dimensions. Complements silhouette (p193,
  *    geometry of individual points) with the global ANOVA-style index;
  *    sufficient statistics are |labels|×64 integer micro-unit cells
  *    (the p86 convention), so the corpus is scanned once and never
  *    shuffled by row.
  *
  *  - p219 ridge regression via normal equations: closed-form 2-feature
  *    ridge (token count + distinct-token count → n_chars) from integer
  *    sufficient sums and an explicit 2×2 inverse with literal λ. THE
  *    scalable linear-model fit: one map-side pass to nine sums, algebra
  *    on the driver-sized aggregate — no gradient iterations (contrast
  *    p62's logistic GD), no data movement.
  *
  *  - p220 Kendall tau-b rank stability: do sources rank the same by
  *    quality (mean doc length) as by English share? Exact concordant/
  *    discordant/tie counting over the ≤|sources|² pair frame, computed
  *    directly on the statistic values (rank-free — no global window
  *    anywhere; doc count is constant per source in the fixture, so the
  *    second axis is the lang mix). The ranking-agreement complement of
  *    p141's row-level Spearman.
  *
  *  - p221 Theil index decomposition: token-volume inequality across
  *    documents, decomposed ADDITIVELY into between-source and
  *    within-source components — the property Gini/HHI (p87) lack, and
  *    the reason Theil is the curation metric for "is concentration
  *    driven by a few sources, or by a few documents inside each
  *    source?". Per-document terms are map-side against broadcast
  *    per-source totals; the identity T = T_between + Σ share·T_within
  *    is spec-pinned.
  *
  *  - p222 Mann–Kendall trend test: nonparametric monotone-trend
  *    statistic over daily event counts with the tie-corrected variance
  *    and continuity-corrected z. Completes the time-series family
  *    (CUSUM p150 finds a changepoint, ACF p201 measures memory; MK
  *    answers "is there a trend at all"). The pair space is the
  *    date-span-bounded day frame squared — constant at any corpus size.
  *
  * Determinism: integer micro-units and integer pair counts, DECIMAL
  * per-cell/per-doc terms before every multi-row float sum, literal λ/z
  * constants, mirrored left-assoc double chains, 6dp-rounded outputs,
  * ordered results.
  */
object PipelineQueries54 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- Wasserstein-1 length drift (p217)
    QueryDef.sql("p217_wasserstein_drift", """
      WITH vals AS (SELECT DISTINCT n_chars AS v FROM documents),
      srcs AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
      tot AS (SELECT count(*) AS n_all FROM documents),
      gcnt AS (SELECT n_chars AS v, count(*) AS c_all FROM documents GROUP BY 1),
      scnt AS (SELECT source, n_chars AS v, count(*) AS c_s
               FROM documents GROUP BY source, n_chars),
      grid AS (
        SELECT s.source, s.n_s, vals.v,
               coalesce(sc.c_s, 0) AS c_s, g.c_all
        FROM srcs s CROSS JOIN vals
        JOIN gcnt g ON g.v = vals.v
        LEFT JOIN scnt sc ON sc.source = s.source AND sc.v = vals.v),
      cdf AS (
        SELECT source, n_s, v,
               sum(c_s) OVER (PARTITION BY source ORDER BY v) AS cum_s,
               sum(c_all) OVER (PARTITION BY source ORDER BY v) AS cum_all,
               lead(v) OVER (PARTITION BY source ORDER BY v) AS v_next
        FROM grid),
      seg AS (
        SELECT source,
               CAST(round(abs(CAST(cum_s AS DOUBLE) / n_s
                   - CAST(cum_all AS DOUBLE) / (SELECT n_all FROM tot))
                 * (v_next - v), 9) AS DECIMAL(38,9)) AS piece
        FROM cdf WHERE v_next IS NOT NULL)
      SELECT source, round(CAST(sum(piece) AS DOUBLE), 6) AS w1
      FROM seg GROUP BY source ORDER BY source"""),

    // --------------------- Calinski-Harabasz index (p218)
    QueryDef("p218_calinski_harabasz", Some("""
      WITH v AS (
        SELECT label, i AS dim,
               CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                 * 1000000) AS BIGINT) AS m
        FROM embeddings CROSS JOIN range(1, 65) t(i)),
      cell AS (
        SELECT label, dim, count(*) AS n,
               CAST(sum(m) AS DECIMAL(18,0)) AS sm,
               CAST(sum(m * m) AS DECIMAL(38,0)) AS sq
        FROM v GROUP BY label, dim),
      cterm AS (
        SELECT label, dim, n, sq,
               CAST(round(CAST(sm * sm AS DOUBLE) / n, 6)
                 AS DECIMAL(38,6)) AS s2n,
               sm
        FROM cell),
      dim_tot AS (
        SELECT dim, sum(n) AS n_all, sum(sm) AS sm_all, sum(sq) AS sq_all,
               sum(s2n) AS s2n_all
        FROM cterm GROUP BY dim),
      dterm AS (
        SELECT dim,
               CAST(round(CAST(sq_all AS DOUBLE)
                 - CAST(sm_all AS DOUBLE) * CAST(sm_all AS DOUBLE) / n_all, 6)
                 AS DECIMAL(38,6)) AS ss_tot,
               CAST(round(CAST(sq_all AS DOUBLE) - CAST(s2n_all AS DOUBLE), 6)
                 AS DECIMAL(38,6)) AS ss_within
        FROM dim_tot),
      kn AS (SELECT count(DISTINCT label) AS k, count(*) AS n FROM embeddings),
      agg AS (SELECT sum(ss_tot) AS sst, sum(ss_within) AS ssw FROM dterm)
      SELECT CAST(kn.k AS BIGINT) AS k_labels, CAST(kn.n AS BIGINT) AS n_vecs,
             round((CAST(agg.sst AS DOUBLE) - CAST(agg.ssw AS DOUBLE)) / 1e12, 6)
               AS ss_between,
             round(CAST(agg.ssw AS DOUBLE) / 1e12, 6) AS ss_within,
             round(((CAST(agg.sst AS DOUBLE) - CAST(agg.ssw AS DOUBLE)) / (kn.k - 1))
               / (CAST(agg.ssw AS DOUBLE) / (kn.n - kn.k)), 6) AS ch_index
      FROM agg, kn""")) { (s, dir) =>
      val e = Tables.dfSpread(s, dir, "embeddings")
      val v = e.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("label"), (col("pos") + 1).as("dim"),
          floor(col("x").cast("double") * 1000000).cast("bigint").as("m"))
      val cell = v.groupBy(col("label"), col("dim")).agg(
        count(lit(1)).as("n"),
        sum(col("m")).cast("decimal(18,0)").as("sm"),
        // the square accumulates in DECIMAL so the sum can never wrap a
        // long at any corpus size (DuckDB's hugeint never wraps)
        sum((col("m") * col("m")).cast("decimal(20,0)"))
          .cast("decimal(38,0)").as("sq"))
      // (Σm)² as an exact DECIMAL(37,0) product, then ONE double division,
      // rounded into DECIMAL before any multi-cell sum (the p215 pattern)
      val cterm = cell.withColumn("s2n",
        Kit.rdec((col("sm") * col("sm")).cast("double") / col("n"), 6))
      val dimTot = cterm.groupBy(col("dim")).agg(
        sum(col("n")).as("n_all"), sum(col("sm")).as("sm_all"),
        sum(col("sq")).as("sq_all"), sum(col("s2n")).as("s2n_all"))
      val dterm = dimTot.select(
        Kit.rdec(col("sq_all").cast("double")
          - col("sm_all").cast("double") * col("sm_all").cast("double") / col("n_all"),
          6).as("ss_tot"),
        Kit.rdec(col("sq_all").cast("double") - col("s2n_all").cast("double"), 6).as("ss_within"))
      val kn = e.agg(countDistinct(col("label")).as("k"), count(lit(1)).as("n"))
      val agg = dterm.agg(sum(col("ss_tot")).as("sst"), sum(col("ss_within")).as("ssw"))
      agg.crossJoin(broadcast(kn))
        .select(col("k").as("k_labels"), col("n").as("n_vecs"),
          round((col("sst").cast("double") - col("ssw").cast("double")) / 1e12, 6)
            .as("ss_between"),
          round(col("ssw").cast("double") / 1e12, 6).as("ss_within"),
          round(((col("sst").cast("double") - col("ssw").cast("double")) / (col("k") - 1))
            / (col("ssw").cast("double") / (col("n") - col("k"))), 6).as("ch_index"))
    },

    // --------------------- ridge regression, normal equations (p219)
    QueryDef("p219_ridge_normal_eq", Some("""
      WITH f AS (
        SELECT doc_id, n_chars AS y,
               len(string_split_regex(lower(text), '\s+')) AS x1,
               len(list_distinct(string_split_regex(lower(text), '\s+'))) AS x2
        FROM documents),
      s AS (
        SELECT count(*) AS n,
               sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
               sum(x1 * x1) AS s11, sum(x2 * x2) AS s22,
               sum(x1 * x2) AS s12,
               sum(x1 * y) AS s1y, sum(x2 * y) AS s2y,
               sum(y * y) AS syy
        FROM f),
      c AS (
        SELECT n,
               CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS c11,
               CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS c22,
               CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS c12,
               CAST(s1y AS DOUBLE) - CAST(s1 AS DOUBLE) * sy / n AS c1y,
               CAST(s2y AS DOUBLE) - CAST(s2 AS DOUBLE) * sy / n AS c2y,
               CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy,
               CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS m2,
               CAST(sy AS DOUBLE) / n AS my
        FROM s),
      b AS (
        SELECT n, c11, c22, c12, c1y, c2y, cyy, m1, m2, my,
               ((c22 + 1000.0) * c1y - c12 * c2y)
                 / ((c11 + 1000.0) * (c22 + 1000.0) - c12 * c12) AS b1,
               ((c11 + 1000.0) * c2y - c12 * c1y)
                 / ((c11 + 1000.0) * (c22 + 1000.0) - c12 * c12) AS b2
        FROM c)
      SELECT CAST(n AS BIGINT) AS n,
             round(b1, 6) AS beta_ntoks,
             round(b2, 6) AS beta_distinct,
             round(my - b1 * m1 - b2 * m2, 6) AS intercept,
             round(1 - (cyy - 2 * (b1 * c1y + b2 * c2y)
                 + b1 * b1 * c11 + 2 * b1 * b2 * c12 + b2 * b2 * c22) / cyy, 6)
               AS r2
      FROM b""")) { (s, dir) =>
      val lam = lit(1000.0)
      // features deliberately NOT an identity of y: token count and
      // distinct-token count (vocabulary breadth) predicting char length
      val f = Tables.dfSpread(s, dir, "documents").select(
        col("n_chars").as("y"),
        size(Kit.words(col("text"))).as("x1"),
        size(array_distinct(Kit.words(col("text")))).as("x2"))
      val sums = f.agg(
        count(lit(1)).as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"), sum(col("y")).as("sy"),
        sum(col("x1") * col("x1")).as("s11"), sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x1") * col("y")).as("s1y"), sum(col("x2") * col("y")).as("s2y"),
        sum(col("y") * col("y")).as("syy"))
      val c = sums.select(col("n"),
        (col("s11").cast("double") - col("s1").cast("double") * col("s1") / col("n")).as("c11"),
        (col("s22").cast("double") - col("s2").cast("double") * col("s2") / col("n")).as("c22"),
        (col("s12").cast("double") - col("s1").cast("double") * col("s2") / col("n")).as("c12"),
        (col("s1y").cast("double") - col("s1").cast("double") * col("sy") / col("n")).as("c1y"),
        (col("s2y").cast("double") - col("s2").cast("double") * col("sy") / col("n")).as("c2y"),
        (col("syy").cast("double") - col("sy").cast("double") * col("sy") / col("n")).as("cyy"),
        (col("s1").cast("double") / col("n")).as("m1"),
        (col("s2").cast("double") / col("n")).as("m2"),
        (col("sy").cast("double") / col("n")).as("my"))
      val det = (col("c11") + lam) * (col("c22") + lam) - col("c12") * col("c12")
      val b = c.select(col("n"), col("c11"), col("c22"), col("c12"),
        col("c1y"), col("c2y"), col("cyy"), col("m1"), col("m2"), col("my"),
        (((col("c22") + lam) * col("c1y") - col("c12") * col("c2y")) / det).as("b1"),
        (((col("c11") + lam) * col("c2y") - col("c12") * col("c1y")) / det).as("b2"))
      b.select(col("n"),
        round(col("b1"), 6).as("beta_ntoks"),
        round(col("b2"), 6).as("beta_distinct"),
        round(col("my") - col("b1") * col("m1") - col("b2") * col("m2"), 6)
          .as("intercept"),
        round(lit(1) - (col("cyy") - lit(2) * (col("b1") * col("c1y")
            + col("b2") * col("c2y"))
          + col("b1") * col("b1") * col("c11")
          + lit(2) * col("b1") * col("b2") * col("c12")
          + col("b2") * col("b2") * col("c22")) / col("cyy"), 6).as("r2"))
    },

    // --------------------- Kendall tau-b rank stability (p220)
    QueryDef.sql("p220_kendall_rank_stability", """
      WITH s AS (
        SELECT source, count(*) AS n_docs, sum(n_chars) AS tot_chars,
               sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS en_cnt
        FROM documents GROUP BY source),
      q AS (
        SELECT source,
               CAST(tot_chars AS DOUBLE) / n_docs AS qual,
               CAST(en_cnt AS DOUBLE) / n_docs AS en_share
        FROM s),
      pairs AS (
        SELECT
          CASE WHEN (a.qual - b.qual) * (a.en_share - b.en_share) > 0
               THEN 1 ELSE 0 END AS conc,
          CASE WHEN (a.qual - b.qual) * (a.en_share - b.en_share) < 0
               THEN 1 ELSE 0 END AS disc,
          CASE WHEN a.qual = b.qual THEN 1 ELSE 0 END AS tie_q,
          CASE WHEN a.en_share = b.en_share THEN 1 ELSE 0 END AS tie_v
        FROM q a JOIN q b ON a.source < b.source),
      agg AS (
        SELECT count(*) AS n_pairs, sum(conc) AS c, sum(disc) AS d,
               sum(tie_q) AS tq, sum(tie_v) AS tv
        FROM pairs)
      SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
             CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
             CAST(tq AS BIGINT) AS ties_quality, CAST(tv AS BIGINT) AS ties_enshare,
             round(CASE WHEN tq = n_pairs OR tv = n_pairs THEN 0.0
               ELSE (CAST(c AS DOUBLE) - d)
                 / sqrt((CAST(n_pairs AS DOUBLE) - tq)
                   * (CAST(n_pairs AS DOUBLE) - tv)) END, 6) AS tau_b
      FROM agg"""),

    // --------------------- Theil index decomposition (p221)
    QueryDef("p221_theil_decomposition", Some("""
      WITH x AS (
        SELECT source,
               len(string_split_regex(lower(text), '\s+')) AS x
        FROM documents),
      g AS (
        SELECT source, count(*) AS n_g, sum(x) AS x_g
        FROM x GROUP BY source),
      tot AS (SELECT sum(n_g) AS n, sum(x_g) AS xt FROM g),
      within_terms AS (
        SELECT x.source,
               CAST(round((CAST(x.x AS DOUBLE) / g.x_g)
                 * ln((CAST(x.x AS DOUBLE) * g.n_g) / g.x_g), 9)
                 AS DECIMAL(38,9)) AS term
        FROM x JOIN g ON x.source = g.source WHERE x.x > 0),
      t_within AS (
        SELECT source, CAST(sum(term) AS DOUBLE) AS t_g
        FROM within_terms GROUP BY source)
      SELECT g.source, CAST(g.n_g AS BIGINT) AS n_docs,
             round(CAST(g.x_g AS DOUBLE) / tot.xt, 6) AS token_share,
             round(t_within.t_g, 6) AS t_within,
             round((CAST(g.x_g AS DOUBLE) / tot.xt)
               * ln((CAST(g.x_g AS DOUBLE) / g.n_g)
                 / (CAST(tot.xt AS DOUBLE) / tot.n)), 6) AS t_between_term
      FROM g JOIN t_within ON g.source = t_within.source, tot
      ORDER BY g.source""")) { (s, dir) =>
      val x = Tables.dfSpread(s, dir, "documents").select(col("source"),
        size(Kit.words(col("text"))).as("x"))
      val g = x.groupBy(col("source")).agg(count(lit(1)).as("n_g"),
        sum(col("x")).as("x_g"))
      val tot = g.agg(sum(col("n_g")).as("n"), sum(col("x_g")).as("xt"))
      val withinTerms = x.join(broadcast(g), "source").filter(col("x") > 0)
        .select(col("source"),
          Kit.rdec((col("x").cast("double") / col("x_g"))
            * log((col("x").cast("double") * col("n_g")) / col("x_g")), 9).as("term"))
      val tWithin = withinTerms.groupBy(col("source"))
        .agg(sum(col("term")).cast("double").as("t_g"))
      g.join(tWithin, "source").crossJoin(broadcast(tot))
        .select(col("source"), col("n_g").as("n_docs"),
          round(col("x_g").cast("double") / col("xt"), 6).as("token_share"),
          round(col("t_g"), 6).as("t_within"),
          round((col("x_g").cast("double") / col("xt"))
            * log((col("x_g").cast("double") / col("n_g"))
              / (col("xt").cast("double") / col("n"))), 6).as("t_between_term"))
        .orderBy(col("source"))
    },

    // --------------------- Mann-Kendall trend test (p222)
    QueryDef("p222_mann_kendall_trend", Some("""
      WITH dc AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      s AS (
        SELECT CAST(sum(CASE WHEN b.c > a.c THEN 1
                             WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        FROM dc a JOIN dc b ON a.d < b.d),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM dc),
      ties AS (
        SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS tie_corr
        FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM dc GROUP BY c) g
        WHERE t > 1),
      v AS (
        SELECT (CAST(n.n_days AS DOUBLE) * (n.n_days - 1) * (2 * n.n_days + 5)
                - ties.tie_corr) / 18 AS var_s
        FROM n, ties)
      SELECT n.n_days, s.s_stat, round(v.var_s, 6) AS var_s,
             round(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1) / sqrt(v.var_s)
                        WHEN s.s_stat < 0 THEN (s.s_stat + 1) / sqrt(v.var_s)
                        ELSE 0.0 END, 6) AS z
      FROM s, n, v""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val a = dc.alias("a"); val b = dc.alias("b")
      val sStat = a.join(b, col("a.d") < col("b.d"))
        .agg(sum(when(col("b.c") > col("a.c"), 1L)
          .when(col("b.c") < col("a.c"), -1L).otherwise(0L)).as("s_stat"))
      val n = dc.agg(count(lit(1)).as("n_days"))
      val ties = dc.groupBy(col("c")).agg(count(lit(1)).as("t"))
        .filter(col("t") > 1)
        .agg(coalesce(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)),
          lit(0L)).as("tie_corr"))
      val v = broadcast(n).crossJoin(broadcast(ties))
        .select(col("n_days"),
          ((col("n_days").cast("double") * (col("n_days") - 1)
            * (lit(2) * col("n_days") + 5) - col("tie_corr")) / 18).as("var_s"))
      broadcast(sStat).crossJoin(broadcast(v))
        .select(col("n_days"), col("s_stat"),
          round(col("var_s"), 6).as("var_s"),
          round(when(col("s_stat") > 0,
              (col("s_stat") - 1) / sqrt(col("var_s")))
            .when(col("s_stat") < 0,
              (col("s_stat") + 1) / sqrt(col("var_s")))
            .otherwise(0.0), 6).as("z"))
    },
  )
}
