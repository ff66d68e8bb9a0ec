package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 56 — ordered-proportion trend, ranked-list
  * agreement, standardized effect size, sequence randomness, corpus
  * dispersion, and stratified confounding control:
  *
  *  - p229 Cochran–Armitage trend test: does the English share TREND
  *    across ordered document-length buckets (fixed 140-char buckets, so
  *    the bucket axis is data-independent)? The ordered-alternative
  *    complement of p137's unordered chi-square — CA gains power by
  *    spending its single degree of freedom on monotone trend. Integer
  *    per-bucket sufficient counts; one groupBy.
  *
  *  - p230 rank-biased overlap (RBO): how similar are the English and
  *    non-English top-20 token rankings? Webber et al.'s top-weighted
  *    overlap at p=0.9 — the ranking-agreement metric for indefinite
  *    rankings, complementing NDCG (p216, graded single ranking) and
  *    Kendall tau-b (p220, full permutations). Ranks are integer-count
  *    ordered with a token tie-break (no float ordering anywhere); the
  *    depth frame is LITERAL 1..20 so the weighted sum runs over a
  *    constant 20-row frame in DECIMAL.
  *
  *  - p231 Cohen's d / Hedges' g: the standardized en-vs-rest length
  *    effect size that turns p138's "significant?" and p225's ordinal
  *    delta into "how many pooled standard deviations?" — with the
  *    small-sample Hedges correction. Two integer sufficient-sum rows.
  *
  *  - p232 Wald–Wolfowitz runs test: is the daily event-count sequence
  *    random around its median, or does it cluster? The randomness
  *    complement of CUSUM (p150, changepoint) and Mann–Kendall (p222,
  *    trend). The lag/sign machinery runs over the per-DAY frame —
  *    bounded by the date span at ANY corpus size.
  *
  *  - p233 Gries' deviation of proportions (DP): per-token dispersion
  *    across sources — 0.5·Σ|observed source share − expected share| —
  *    the corpus-linguistics standard for "is this token everywhere or
  *    concentrated?", sharper than raw document frequency (p61's idf)
  *    because it weighs HOW unevenly occurrences spread. Token×source
  *    cells with per-cell DECIMAL terms; output over the bounded
  *    vocabulary.
  *
  *  - p234 Mantel–Haenszel common odds ratio: the lang-stratified
  *    association between long documents and high mean token length,
  *    next to the crude (pooled) odds ratio — the classic
  *    confounding-control estimator that p206's Simpson's audit
  *    motivates. Integer-exact 2×2 predicates (the p214 convention);
  *    per-stratum DECIMAL terms before the k-row reduce.
  *
  * Determinism: integer sufficient statistics everywhere, DECIMAL
  * round-before-sum for every multi-row float reduce, literal constants
  * CAST AS DOUBLE on the oracle side, integer-exact threshold predicates,
  * mirrored left-assoc double chains, 6dp-rounded outputs, ordered
  * results.
  */
object PipelineQueries56 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- Cochran-Armitage trend test (p229)
    QueryDef.sql("p229_cochran_armitage", """
      WITH b AS (
        SELECT least(CAST(floor(n_chars / 140) AS BIGINT), 3) AS s,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en
        FROM documents),
      g AS (
        SELECT s, CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(en) AS BIGINT) AS r_b
        FROM b GROUP BY s),
      a AS (
        SELECT CAST(sum(n_b) AS BIGINT) AS n, CAST(sum(r_b) AS BIGINT) AS r,
               CAST(sum(s * r_b) AS BIGINT) AS sr,
               CAST(sum(s * n_b) AS BIGINT) AS sn,
               CAST(sum(s * s * n_b) AS BIGINT) AS ssn
        FROM g),
      t AS (
        SELECT n, r,
               CAST(sr AS DOUBLE) - CAST(sn AS DOUBLE) * r / n AS t_stat,
               (CAST(r AS DOUBLE) / n) * (CAST(1.0 AS DOUBLE) - CAST(r AS DOUBLE) / n)
                 * (CAST(ssn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / n) AS var_t
        FROM a)
      SELECT n AS n_docs, r AS n_en,
             round(t_stat, 6) AS t_stat, round(var_t, 6) AS var_t,
             round(t_stat / sqrt(var_t), 6) AS ca_z
      FROM t"""),

    // --------------------- rank-biased overlap of token rankings (p230)
    QueryDef("p230_rbo_token_ranks", Some("""
      WITH tok AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
               unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents),
      ce AS (
        SELECT w, count(*) AS c FROM tok WHERE is_en = 1 AND w <> ''
        GROUP BY w),
      co AS (
        SELECT w, count(*) AS c FROM tok WHERE is_en = 0 AND w <> ''
        GROUP BY w),
      re AS (
        SELECT w, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rk
        FROM ce QUALIFY rk <= 20),
      ro AS (
        SELECT w, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rk
        FROM co QUALIFY rk <= 20),
      d AS (SELECT CAST(unnest(range(1, 21)) AS BIGINT) AS depth),
      ov AS (
        SELECT d.depth,
               CAST(count(p.ra) AS BIGINT) AS agree
        FROM d LEFT JOIN (
          SELECT re.rk AS ra, ro.rk AS rb
          FROM re JOIN ro ON re.w = ro.w) p
          ON p.ra <= d.depth AND p.rb <= d.depth
        GROUP BY d.depth),
      terms AS (
        SELECT depth,
               CAST(round(pow(CAST(0.9 AS DOUBLE), depth - 1)
                 * agree / depth, 9) AS DECIMAL(38,9)) AS term
        FROM ov)
      SELECT CAST(20 AS BIGINT) AS k,
             round(CAST(0.1 AS DOUBLE) * CAST(sum(term) AS DOUBLE), 6)
               AS rbo_trunc
      FROM terms""")) { (s, dir) =>
      val tok = Tables.dfSpread(s, dir, "documents")
        .select(when(col("lang") === "en", 1).otherwise(0).as("is_en"),
          explode(Kit.words(col("text"))).as("w"))
        .filter(col("w") =!= "")
      // Partial top-k, then re-rank (r17 VERDICT #7): a global top-20 token
      // is necessarily in its shuffle partition's top-20 (each token lands
      // in exactly one partition after the groupBy), so rank per partition
      // first — the corpus-wide vocabulary never passes through a
      // single-partition sort; the final window sees <= 20 * P rows
      // (P = shuffle partitions), a configuration bound, not a data bound.
      def top20(isEn: Int) = {
        val counts = tok.filter(col("is_en") === isEn)
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
        val local = counts
          .withColumn("pid", spark_partition_id())
          .withColumn("lrk", row_number().over(
            Window.partitionBy(col("pid")).orderBy(col("c").desc, col("w"))))
          .filter(col("lrk") <= 20)
        local.select(col("w"), row_number()
          .over(Window.orderBy(col("c").desc, col("w"))).cast("bigint").as("rk"))
          .filter(col("rk") <= 20)
      }
      val re = top20(1).select(col("w"), col("rk").as("ra"))
      val ro = top20(0).select(col("w"), col("rk").as("rb"))
      val p = re.join(ro, "w").select(col("ra"), col("rb"))
      val d = s.range(1, 21).select(col("id").as("depth"))
      val ov = d.join(p, col("ra") <= col("depth") && col("rb") <= col("depth"),
          "left")
        .groupBy(col("depth")).agg(count(col("ra")).cast("bigint").as("agree"))
      val terms = ov.select(col("depth"),
        Kit.rdec(pow(lit(0.9), col("depth") - 1) * col("agree") / col("depth"), 9).as("term"))
      terms.agg(lit(20L).as("k"),
        round(lit(0.1) * sum(col("term")).cast("double"), 6).as("rbo_trunc"))
    },

    // --------------------- Cohen's d / Hedges' g (p231)
    QueryDef.sql("p231_cohens_d", """
      WITH g AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS sx,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
        FROM documents GROUP BY 1),
      w AS (
        SELECT max(CASE WHEN en = 1 THEN n END) AS n1,
               max(CASE WHEN en = 0 THEN n END) AS n2,
               max(CASE WHEN en = 1 THEN CAST(sx AS DOUBLE) / n END) AS m1,
               max(CASE WHEN en = 0 THEN CAST(sx AS DOUBLE) / n END) AS m2,
               max(CASE WHEN en = 1 THEN
                 (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1) END) AS v1,
               max(CASE WHEN en = 0 THEN
                 (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1) END) AS v2
        FROM g),
      e AS (
        SELECT n1, n2, m1, m2,
               (m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
                 AS d
        FROM w)
      SELECT CAST(n1 AS BIGINT) AS n_en, CAST(n2 AS BIGINT) AS n_other,
             round(m1, 6) AS mean_en, round(m2, 6) AS mean_other,
             round(d, 6) AS cohens_d,
             round(d * (CAST(1.0 AS DOUBLE)
               - CAST(3.0 AS DOUBLE) / (4 * (n1 + n2) - 9)), 6) AS hedges_g
      FROM e"""),

    // --------------------- Wald-Wolfowitz runs test (p232)
    QueryDef.sql("p232_runs_test", """
      WITH dc AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      med AS (SELECT median(c) AS m FROM dc),
      sgn AS (
        SELECT d, CASE WHEN CAST(c AS DOUBLE) > med.m THEN 1 ELSE 0 END AS up
        FROM dc, med WHERE CAST(c AS DOUBLE) <> med.m),
      lagged AS (
        SELECT up, lag(up) OVER (ORDER BY d) AS prev FROM sgn),
      a AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(up) AS BIGINT) AS n1,
               CAST(sum(1 - up) AS BIGINT) AS n2,
               CAST(1 + sum(CASE WHEN prev IS NOT NULL AND up <> prev
                 THEN 1 ELSE 0 END) AS BIGINT) AS runs
        FROM lagged),
      z AS (
        SELECT n, n1, n2, runs,
               CAST(2.0 AS DOUBLE) * n1 * n2 / n + 1 AS mu,
               (CAST(2.0 AS DOUBLE) * n1 * n2
                 * (CAST(2.0 AS DOUBLE) * n1 * n2 - n))
                 / (CAST(n AS DOUBLE) * n * (n - 1)) AS var_r
        FROM a)
      SELECT n AS n_days_used, n1 AS n_above, n2 AS n_below, runs,
             round(mu, 6) AS expected_runs,
             round(CASE WHEN var_r <= 0 THEN 0.0
               ELSE (runs - mu) / sqrt(var_r) END, 6) AS runs_z
      FROM z"""),

    // --------------------- Gries' deviation of proportions (p233)
    QueryDef("p233_gries_dp", Some("""
      WITH tok AS (
        SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents),
      cell AS (
        SELECT w, source, CAST(count(*) AS BIGINT) AS v
        FROM tok WHERE w <> '' GROUP BY w, source),
      st AS (SELECT source, CAST(sum(v) AS BIGINT) AS s_tot FROM cell
             GROUP BY source),
      tt AS (SELECT CAST(sum(s_tot) AS BIGINT) AS n_all FROM st),
      f AS (SELECT w, CAST(sum(v) AS BIGINT) AS fw FROM cell GROUP BY w),
      term AS (
        SELECT cell.w,
               CAST(round(abs(CAST(cell.v AS DOUBLE) / f.fw
                 - CAST(st.s_tot AS DOUBLE) / tt.n_all), 9)
                 AS DECIMAL(38,9)) AS t,
               CAST(st.s_tot AS DOUBLE) / tt.n_all AS share
        FROM cell JOIN f ON cell.w = f.w
        JOIN st ON cell.source = st.source, tt),
      miss AS (
        -- sources where the token never occurs contribute |0 - share|
        SELECT f.w,
               CAST(round(CAST(st.s_tot AS DOUBLE) / tt.n_all, 9)
                 AS DECIMAL(38,9)) AS t
        FROM f CROSS JOIN st CROSS JOIN tt
        WHERE NOT EXISTS (
          SELECT 1 FROM cell WHERE cell.w = f.w AND cell.source = st.source)),
      allt AS (
        SELECT w, t FROM term UNION ALL SELECT w, t FROM miss)
      SELECT allt.w AS token, f.fw AS freq,
             round(CAST(0.5 AS DOUBLE) * CAST(sum(allt.t) AS DOUBLE), 6)
               AS gries_dp
      FROM allt JOIN f ON allt.w = f.w
      GROUP BY allt.w, f.fw ORDER BY token""")) { (s, dir) =>
      val tok = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), explode(Kit.words(col("text"))).as("w"))
        .filter(col("w") =!= "")
      val cell = tok.groupBy(col("w"), col("source"))
        .agg(count(lit(1)).cast("bigint").as("v"))
      val st = cell.groupBy(col("source"))
        .agg(sum(col("v")).cast("bigint").as("s_tot"))
      val tt = st.agg(sum(col("s_tot")).cast("bigint").as("n_all"))
      val f = cell.groupBy(col("w")).agg(sum(col("v")).cast("bigint").as("fw"))
      // dense (token x source) grid so absent cells contribute |0 - share|:
      // the grid is |vocab| x |sources| — bounded at ANY corpus size
      val grid = f.select(col("w"), col("fw"))
        .crossJoin(st.crossJoin(broadcast(tt)))
      val dense = grid.join(cell, Seq("w", "source"), "left")
        .select(col("w"), col("fw"),
          Kit.rdec(abs(coalesce(col("v"), lit(0L)).cast("double") / col("fw")
            - col("s_tot").cast("double") / col("n_all")), 9).as("t"))
      dense.groupBy(col("w").as("token"), col("fw").as("freq"))
        .agg(round(lit(0.5) * sum(col("t")).cast("double"), 6).as("gries_dp"))
        .orderBy(col("token"))
    },

    // --------------------- Mantel-Haenszel common odds ratio (p234)
    QueryDef("p234_mantel_haenszel", Some("""
      WITH h AS (
        SELECT lang,
               CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS x,
               CASE WHEN 2 * n_chars >
                 11 * len(string_split_regex(lower(text), '\s+'))
                 THEN 1 ELSE 0 END AS y
        FROM documents),
      s AS (
        SELECT lang,
               CAST(sum(x * y) AS BIGINT) AS a,
               CAST(sum(x * (1 - y)) AS BIGINT) AS b,
               CAST(sum((1 - x) * y) AS BIGINT) AS c,
               CAST(sum((1 - x) * (1 - y)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM h GROUP BY lang),
      term AS (
        SELECT lang, a, b, c, d,
               CAST(round(CAST(a AS DOUBLE) * d / n, 9) AS DECIMAL(38,9)) AS ad_n,
               CAST(round(CAST(b AS DOUBLE) * c / n, 9) AS DECIMAL(38,9)) AS bc_n
        FROM s),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
               CAST(sum(c) AS BIGINT) AS sc, CAST(sum(d) AS BIGINT) AS sd,
               CAST(sum(ad_n) AS DOUBLE) AS s_ad, CAST(sum(bc_n) AS DOUBLE) AS s_bc
        FROM term)
      SELECT k AS k_strata,
             sa AS n11, sb AS n10, sc AS n01, sd AS n00,
             round(CAST(sa AS DOUBLE) * sd / (CAST(sb AS DOUBLE) * sc), 6)
               AS or_crude,
             round(s_ad / s_bc, 6) AS or_mh
      FROM tot""")) { (s, dir) =>
      val nToks = size(Kit.words(col("text")))
      val h = Tables.dfSpread(s, dir, "documents").select(col("lang"),
        when(col("n_chars") > 300, 1L).otherwise(0L).as("x"),
        when(lit(2) * col("n_chars") > lit(11) * nToks, 1L).otherwise(0L).as("y"))
      val st = h.groupBy(col("lang")).agg(
        sum(col("x") * col("y")).cast("bigint").as("a"),
        sum(col("x") * (lit(1L) - col("y"))).cast("bigint").as("b"),
        sum((lit(1L) - col("x")) * col("y")).cast("bigint").as("c"),
        sum((lit(1L) - col("x")) * (lit(1L) - col("y"))).cast("bigint").as("d"),
        count(lit(1)).cast("bigint").as("n"))
      val term = st.select(col("a"), col("b"), col("c"), col("d"),
        Kit.rdec(col("a").cast("double") * col("d") / col("n"), 9).as("ad_n"),
        Kit.rdec(col("b").cast("double") * col("c") / col("n"), 9).as("bc_n"))
      val tot = term.agg(count(lit(1)).cast("bigint").as("k"),
        sum(col("a")).cast("bigint").as("sa"), sum(col("b")).cast("bigint").as("sb"),
        sum(col("c")).cast("bigint").as("sc"), sum(col("d")).cast("bigint").as("sd"),
        sum(col("ad_n")).cast("double").as("s_ad"),
        sum(col("bc_n")).cast("double").as("s_bc"))
      tot.select(col("k").as("k_strata"),
        col("sa").as("n11"), col("sb").as("n10"),
        col("sc").as("n01"), col("sd").as("n00"),
        round(col("sa").cast("double") * col("sd")
          / (col("sb").cast("double") * col("sc")), 6).as("or_crude"),
        round(col("s_ad") / col("s_bc"), 6).as("or_mh"))
    },
  )
}
