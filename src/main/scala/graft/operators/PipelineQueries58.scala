package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 58 — inequality profiling, blocked and ordered
  * nonparametric tests, the omnibus k-sample distribution comparison,
  * extreme-value fitting, and rank-based changepoint detection:
  *
  *  - p241 Gini / Lorenz: per-source document-length inequality from the
  *    exact rank-sum identity G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n, computed
  *    on the value-domain frame (distinct lengths × counts — never a
  *    corpus-wide sort): with F₋(v) docs below value v, the doubled rank
  *    sum is Σᵥ v·c·(2F₋ + c + 1), an exact DECIMAL integer. Plus the
  *    Lorenz checkpoint: the char share held by the shortest ⌊n/2⌋ docs.
  *    The concentration audit for "is this source a few giant documents?"
  *    (p87 measures concentration ACROSS units; this is inequality WITHIN
  *    a source). Gini (1912), Lorenz (1905).
  *
  *  - p242 Friedman test + Kendall's W: do the event types keep the same
  *    daily-volume ranking across days? Blocks = days, treatments = event
  *    types, midranks within each day block on the dense day×type grid
  *    (missing cells are 0-count cells, not absent rows). Doubled midranks
  *    (2r = 2·#less + #tied + 1) keep every sufficient statistic integer;
  *    the tie-robust ANOVA-on-ranks form Q = (k−1)·Σⱼ(R₂ⱼ − n(k+1))² /
  *    Σᵢⱼ(r₂ᵢⱼ − (k+1))² needs no tie-correction constant because the /4
  *    factors cancel. Friedman (1937), Kendall & Babington Smith (1939).
  *
  *  - p243 Jonckheere–Terpstra: the ORDERED-alternative version of
  *    Kruskal–Wallis (p223 asks "do sources differ?", JT asks "do doc
  *    lengths trend monotonically across ordered sources?"). Pair counts
  *    come from value-domain cumulative sums (the p225 Cliff's-delta
  *    class): 2·JT = Σ_{g<h} Σᵥ c_h(v)·(2F₋g(v) + c_g(v)) — never the
  *    n_g×n_h pair space. Null mean (n²−Σn_g²)/4 and the FULL
  *    tie-corrected variance (three-term Hollander–Wolfe form) from
  *    integer group/tie spectra. Jonckheere (1954), Terpstra (1952).
  *
  *  - p244 k-sample Anderson–Darling (Scholz–Stephens A²akN, the
  *    tie-adjusted midrank version): the omnibus "did ANY language's
  *    length distribution drift?" test, weighting tail deviations where
  *    KS (p140) saturates and CvM (p162) underweights. Doubling the
  *    half-integer mid-cumulatives (B₂ = 2B₋ + l, M₂ = 2M₋ + m) makes
  *    the per-cell term the exact rational l·d²/(N·(B₂(2N−B₂)−N·l)) with
  *    d = N·M₂ − nᵢ·B₂ an exact DECIMAL — per-cell 12dp rounding before
  *    the reduce. Per-language components are emitted (they localize the
  *    drift); the T_kN standardization needs the O(N²) harmonic constant
  *    g, which is a scalar postprocess, not a distributed statistic —
  *    A²akN and its null mean (k−1) are the distributed deliverables.
  *    Scholz & Stephens (1987).
  *
  *  - p245 Gumbel block maxima: method-of-moments EVT fit on per-day
  *    maximum event value (β̂ = s√6/π, μ̂ = x̄ − γβ̂) with 30-day and
  *    365-day return levels μ − β·ln(−ln(1−1/T)) — "how big a daily spike
  *    should we provision for?", the parametric complement of p164's Hill
  *    tail index. Daily maxima are exact order statistics; moments from
  *    6dp-DECIMAL-rounded maxima. Gumbel (1958).
  *
  *  - p246 Pettitt changepoint: rank-based (distribution-free) single
  *    changepoint on daily event counts via U_t = Σ_{i≤t} V_i with
  *    V_i = Σ_j sgn(cᵢ−cⱼ) — the antisymmetry identity collapses the
  *    textbook O(T³) double sum per split to one O(T²) day-pair pass plus
  *    a prefix sum over the date-span-bounded day frame. K = max|U_t|,
  *    earliest-date tiebreak, p ≈ 2·exp(−6K²/(T³+T²)). The
  *    location-finding complement of p150's CUSUM (which assumes a
  *    parametric mean shift). Pettitt (1979).
  *
  * Determinism: integer/DECIMAL sufficient statistics throughout
  * (doubled ranks and mid-cumulatives stay integer; products are
  * width-managed so DuckDB's strict decimal-multiply bind rules accept
  * the same expressions Spark runs), per-row DECIMAL rounding before
  * every multi-row float reduce, mirrored left-assoc double chains,
  * CAST-to-DOUBLE on every fractional literal (DuckDB types bare
  * decimals as DECIMAL), 6dp-rounded outputs, ordered results.
  */
object PipelineQueries58 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- Gini / Lorenz length inequality (p241)
    QueryDef.sql("p241_gini_lorenz", """
      WITH vc AS (
        SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY source, n_chars),
      w AS (
        SELECT source, v, c,
               CAST(sum(c) OVER (PARTITION BY source ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS f,
               CAST(sum(CAST(v AS DECIMAL(9,0)) * CAST(c AS DECIMAL(12,0)))
                 OVER (PARTITION BY source ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS DECIMAL(30,0)) AS cumt
        FROM vc),
      tot AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(n_chars AS DECIMAL(9,0))) AS DECIMAL(38,0)) AS t
        FROM documents GROUP BY source),
      s2 AS (
        SELECT source,
               CAST(sum(CAST(v AS DECIMAL(9,0)) * CAST(c AS DECIMAL(12,0))
                 * CAST(2 * (f - c) + c + 1 AS DECIMAL(13,0)))
                 AS DECIMAL(38,0)) AS s2
        FROM w GROUP BY source),
      tk AS (
        SELECT source, n, t,
               CAST(floor(CAST(n AS DOUBLE) / 2) AS BIGINT) AS k
        FROM tot),
      lz AS (
        SELECT tk.source,
               CAST(w.cumt - CAST(w.v AS DECIMAL(9,0)) * CAST(w.c AS DECIMAL(12,0))
                 + CAST(w.v AS DECIMAL(9,0))
                   * CAST(tk.k - (w.f - w.c) AS DECIMAL(12,0))
                 AS DECIMAL(38,0)) AS chars_k
        FROM tk JOIN w ON w.source = tk.source
             AND w.f - w.c < tk.k AND tk.k <= w.f)
      SELECT tot.source, tot.n AS n_docs,
             CAST(tot.t AS BIGINT) AS total_chars,
             round(CAST(s2.s2 AS DOUBLE)
               / (CAST(tot.n AS DOUBLE) * CAST(tot.t AS DOUBLE))
               - (CAST(tot.n AS DOUBLE) + 1) / tot.n, 6) AS gini,
             round(CAST(lz.chars_k AS DOUBLE) / CAST(tot.t AS DOUBLE), 6)
               AS bottom_half_share
      FROM tot JOIN s2 ON tot.source = s2.source
      JOIN lz ON tot.source = lz.source
      ORDER BY tot.source"""),

    // --------------------- Friedman test / Kendall's W (p242)
    QueryDef.sql("p242_friedman_test", """
      WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
      ty AS (SELECT DISTINCT event_type AS et FROM events),
      cnt AS (SELECT CAST(ts AS DATE) AS day, event_type AS et,
                     CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY 1, 2),
      cell AS (
        SELECT d.day, ty.et, COALESCE(cnt.c, 0) AS c
        FROM d CROSS JOIN ty
        LEFT JOIN cnt ON cnt.day = d.day AND cnt.et = ty.et),
      rk AS (
        SELECT a.day, a.et,
               CAST(sum(CASE WHEN b.c < a.c THEN 2 ELSE 0 END)
                  + sum(CASE WHEN b.c = a.c THEN 1 ELSE 0 END) + 1
                 AS BIGINT) AS r2
        FROM cell a JOIN cell b ON a.day = b.day
        GROUP BY a.day, a.et),
      km AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ty),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
      rj AS (SELECT et, CAST(sum(r2) AS BIGINT) AS r2j FROM rk GROUP BY et),
      num AS (
        SELECT CAST(sum(CAST(r2j - n * (k + 1) AS DECIMAL(18,0))
                   * CAST(r2j - n * (k + 1) AS DECIMAL(18,0)))
                 AS DECIMAL(38,0)) AS ssj
        FROM rj, km, nn),
      den AS (
        SELECT CAST(sum(CAST(r2 - (k + 1) AS DECIMAL(18,0))
                   * CAST(r2 - (k + 1) AS DECIMAL(18,0)))
                 AS DECIMAL(38,0)) AS ssd
        FROM rk, km)
      SELECT n AS n_days, k AS k_types,
             round((CAST(k AS DOUBLE) - 1)
               * (CAST(ssj AS DOUBLE) / CAST(ssd AS DOUBLE)), 6) AS friedman_q,
             round(CAST(ssj AS DOUBLE) / CAST(ssd AS DOUBLE) / n, 6) AS kendalls_w
      FROM num, den, km, nn"""),

    // --------------------- Jonckheere-Terpstra ordered trend (p243)
    QueryDef.sql("p243_jonckheere_terpstra", """
      WITH vc AS (
        SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY source, n_chars),
      vals AS (SELECT DISTINCT v FROM vc),
      srcs AS (SELECT DISTINCT source FROM documents),
      grid AS (
        SELECT srcs.source, vals.v, COALESCE(vc.c, 0) AS c
        FROM srcs CROSS JOIN vals
        LEFT JOIN vc ON vc.source = srcs.source AND vc.v = vals.v),
      cum AS (
        SELECT source, v, c,
               CAST(sum(c) OVER (PARTITION BY source ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) - c AS fless
        FROM grid),
      jt AS (
        SELECT CAST(sum(CAST(h.c AS DECIMAL(12,0))
                   * CAST(2 * g.fless + g.c AS DECIMAL(14,0)))
                 AS DECIMAL(38,0)) AS jt2
        FROM cum g JOIN cum h ON g.v = h.v AND g.source < h.source),
      gs AS (SELECT source, CAST(count(*) AS BIGINT) AS ng
             FROM documents GROUP BY source),
      tg AS (
        SELECT CAST(count(*) AS BIGINT) AS kgrp,
               CAST(sum(ng) AS BIGINT) AS n,
               CAST(sum(CAST(ng AS DECIMAL(12,0)) * CAST(ng AS DECIMAL(12,0)))
                 AS DECIMAL(38,0)) AS sn2,
               CAST(sum(CAST(ng AS DECIMAL(12,0)) * CAST(ng - 1 AS DECIMAL(12,0)))
                 AS DECIMAL(38,0)) AS g2,
               CAST(sum(CAST(ng AS DECIMAL(12,0)) * CAST(ng - 1 AS DECIMAL(12,0))
                 * CAST(ng - 2 AS DECIMAL(12,0))) AS DECIMAL(38,0)) AS g3,
               CAST(sum(CAST(ng AS DECIMAL(12,0)) * CAST(ng - 1 AS DECIMAL(12,0))
                 * CAST(2 * ng + 5 AS DECIMAL(13,0))) AS DECIMAL(38,0)) AS g25
        FROM gs),
      tvv AS (SELECT v, CAST(sum(c) AS BIGINT) AS tc FROM vc GROUP BY v),
      tv AS (
        SELECT CAST(sum(CAST(tc AS DECIMAL(12,0)) * CAST(tc - 1 AS DECIMAL(12,0)))
                 AS DECIMAL(38,0)) AS t2,
               CAST(sum(CAST(tc AS DECIMAL(12,0)) * CAST(tc - 1 AS DECIMAL(12,0))
                 * CAST(tc - 2 AS DECIMAL(12,0))) AS DECIMAL(38,0)) AS t3,
               CAST(sum(CAST(tc AS DECIMAL(12,0)) * CAST(tc - 1 AS DECIMAL(12,0))
                 * CAST(2 * tc + 5 AS DECIMAL(13,0))) AS DECIMAL(38,0)) AS t25
        FROM tvv),
      fin AS (
        SELECT kgrp, n,
               CAST(jt2 AS DOUBLE) / 2 AS jts,
               (CAST(n AS DOUBLE) * n - CAST(sn2 AS DOUBLE)) / 4 AS e_jt,
               (CAST(n AS DOUBLE) * (n - 1) * (2 * CAST(n AS DOUBLE) + 5)
                 - CAST(g25 AS DOUBLE) - CAST(t25 AS DOUBLE)) / 72
               + CAST(g3 AS DOUBLE) * CAST(t3 AS DOUBLE)
                 / (CAST(36 AS DOUBLE) * n * (n - 1) * (n - 2))
               + CAST(g2 AS DOUBLE) * CAST(t2 AS DOUBLE)
                 / (CAST(8 AS DOUBLE) * n * (n - 1)) AS var_jt
        FROM jt, tg, tv)
      SELECT kgrp AS n_groups, n AS n_docs,
             round(jts, 6) AS jt_stat, round(e_jt, 6) AS e_jt,
             round(var_jt, 6) AS var_jt,
             round((jts - e_jt) / sqrt(var_jt), 6) AS z
      FROM fin"""),

    // --------------------- k-sample Anderson-Darling (p244)
    QueryDef.sql("p244_ad_ksample", """
      WITH vc AS (
        SELECT lang, n_chars AS v, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY lang, n_chars),
      pool AS (SELECT v, CAST(sum(c) AS BIGINT) AS l FROM vc GROUP BY v),
      langs AS (SELECT lang, CAST(sum(c) AS BIGINT) AS ni FROM vc GROUP BY lang),
      nn AS (SELECT CAST(sum(l) AS BIGINT) AS n FROM pool),
      pb AS (
        SELECT v, l,
               2 * CAST(sum(l) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) - l AS b2
        FROM pool),
      grid AS (
        SELECT langs.lang, langs.ni, pb.v, pb.l, pb.b2, COALESCE(vc.c, 0) AS m
        FROM langs CROSS JOIN pb
        LEFT JOIN vc ON vc.lang = langs.lang AND vc.v = pb.v),
      mg AS (
        SELECT lang, ni, v, l, b2,
               2 * CAST(sum(m) OVER (PARTITION BY lang ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) - m AS m2
        FROM grid),
      term AS (
        SELECT lang, ni,
               CAST(round(
                 CAST(l AS DOUBLE) * CAST(d AS DOUBLE) * CAST(d AS DOUBLE)
                   / (CAST(n AS DOUBLE)
                     * (CAST(b2 AS DOUBLE) * (2 * CAST(n AS DOUBLE) - b2)
                       - CAST(n AS DOUBLE) * l)), 12)
                 AS DECIMAL(38,12)) AS t
        FROM (SELECT mg.lang, mg.ni, mg.l, mg.b2, nn.n,
                     CAST(nn.n AS DECIMAL(14,0)) * CAST(mg.m2 AS DECIMAL(14,0))
                       - CAST(mg.ni AS DECIMAL(14,0)) * CAST(mg.b2 AS DECIMAL(14,0)) AS d
              FROM mg, nn WHERE mg.l < nn.n) x),
      comp AS (
        SELECT lang, CAST(max(ni) AS BIGINT) AS ni,
               CAST(round(CAST(sum(t) AS DOUBLE) / max(ni), 9)
                 AS DECIMAL(38,9)) AS comp
        FROM term GROUP BY lang),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(comp) AS DECIMAL(38,9)) AS sc
        FROM comp)
      SELECT comp.lang, comp.ni AS n_lang,
             round(CAST(comp.comp AS DOUBLE), 6) AS ad_component,
             round((CAST(nn.n AS DOUBLE) - 1) / nn.n
               * CAST(tot.sc AS DOUBLE), 6) AS a2akn,
             CAST(tot.k - 1 AS BIGINT) AS a2_null_mean
      FROM comp, tot, nn
      ORDER BY comp.lang"""),

    // --------------------- Gumbel block-maxima fit (p245)
    QueryDef("p245_gumbel_maxima", Some("""
      WITH dm AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(round(max(value), 6) AS DECIMAL(12,6)) AS mx
        FROM events GROUP BY 1),
      s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(mx) AS DECIMAL(38,6)) AS s1,
                   CAST(sum(mx * mx) AS DECIMAL(38,12)) AS s2
            FROM dm),
      m AS (SELECT n, CAST(s1 AS DOUBLE) / n AS mean,
                   (CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                     * n / (n - 1) AS varr
            FROM s),
      g AS (SELECT n, mean,
                   sqrt(varr) * sqrt(CAST(6 AS DOUBLE)) / pi() AS beta
            FROM m),
      p AS (SELECT n, mean, beta,
                   mean - CAST(0.5772156649015329 AS DOUBLE) * beta AS mu
            FROM g)
      SELECT n AS n_days, round(mean, 6) AS mean_daily_max,
             round(mu, 6) AS gumbel_mu, round(beta, 6) AS gumbel_beta,
             round(mu - beta * ln(-ln(CAST(1 AS DOUBLE)
               - CAST(1 AS DOUBLE) / 30)), 6) AS rl_30d,
             round(mu - beta * ln(-ln(CAST(1 AS DOUBLE)
               - CAST(1 AS DOUBLE) / 365)), 6) AS rl_365d
      FROM p""")) { (s, dir) =>
      val dm = Tables.df(s, dir, "events")
        .groupBy(col("ts").cast("date").as("d"))
        .agg(round(max(col("value")), 6).cast("decimal(12,6)").as("mx"))
      val st = dm.agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("mx")).cast("decimal(38,6)").as("s1"),
        sum(col("mx") * col("mx")).cast("decimal(38,12)").as("s2"))
      val m = st.select(col("n"),
        (col("s1").cast("double") / col("n")).as("mean"),
        ((col("s2").cast("double") / col("n")
          - (col("s1").cast("double") / col("n"))
            * (col("s1").cast("double") / col("n")))
          * col("n") / (col("n") - 1)).as("varr"))
      val g = m.select(col("n"), col("mean"),
        (sqrt(col("varr")) * sqrt(lit(6.0)) / lit(math.Pi)).as("beta"))
      val p = g.select(col("n"), col("mean"), col("beta"),
        (col("mean") - lit(0.5772156649015329) * col("beta")).as("mu"))
      p.select(col("n").as("n_days"),
        round(col("mean"), 6).as("mean_daily_max"),
        round(col("mu"), 6).as("gumbel_mu"),
        round(col("beta"), 6).as("gumbel_beta"),
        round(col("mu") - col("beta")
          * log(-log(lit(1.0) - lit(1.0) / 30)), 6).as("rl_30d"),
        round(col("mu") - col("beta")
          * log(-log(lit(1.0) - lit(1.0) / 365)), 6).as("rl_365d"))
    },

    // --------------------- Pettitt rank changepoint (p246)
    QueryDef.sql("p246_pettitt_changepoint", """
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      vv AS (
        SELECT a.d,
               CAST(sum(CASE WHEN a.c > b.c THEN 1
                             WHEN a.c < b.c THEN -1 ELSE 0 END)
                 AS BIGINT) AS vsum
        FROM dc a CROSS JOIN dc b
        GROUP BY a.d),
      u AS (
        SELECT d, CAST(sum(vsum) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS ut
        FROM vv),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS t, max(d) AS dmax FROM dc),
      k AS (SELECT CAST(max(abs(ut)) AS BIGINT) AS kmax
            FROM u, nn WHERE d < dmax),
      cp AS (SELECT min(d) AS cp_date
             FROM u, k, nn WHERE abs(ut) = kmax AND d < dmax)
      SELECT cp.cp_date, nn.t AS n_days, k.kmax AS k_stat,
             round(least(CAST(1 AS DOUBLE),
               2 * exp(-(CAST(6 AS DOUBLE) * kmax * kmax)
                 / (CAST(t AS DOUBLE) * t * t + CAST(t AS DOUBLE) * t))), 6)
               AS p_approx
      FROM cp, k, nn""")
  )
}
