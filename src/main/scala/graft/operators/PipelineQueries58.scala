package graft.operators

import org.apache.spark.sql.expressions.Window
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
    QueryDef("p241_gini_lorenz", Some("""
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
      ORDER BY tot.source""")) { (s, dir) =>
      val docs = Tables.dfSpread(s, dir, "documents")
      val vc = docs.groupBy(col("source"), col("n_chars").as("v"))
        .agg(count(lit(1)).cast("bigint").as("c"))
      // the cumulation runs over the per-source distinct-length frame —
      // value-domain-bounded at ANY corpus size (the p225/p141 class)
      val ws = Window.partitionBy(col("source")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w = vc.select(col("source"), col("v"), col("c"),
        sum(col("c")).over(ws).cast("bigint").as("f"),
        sum(col("v").cast("decimal(9,0)") * col("c").cast("decimal(12,0)"))
          .over(ws).cast("decimal(30,0)").as("cumt"))
      val tot = Kit.powerSums(docs, Seq("source"), col("n_chars"), 1)
        .withColumnRenamed("s1", "t")
      val s2 = w.groupBy(col("source")).agg(
        sum(col("v").cast("decimal(9,0)") * col("c").cast("decimal(12,0)")
          * (lit(2) * (col("f") - col("c")) + col("c") + 1).cast("decimal(13,0)"))
          .cast("decimal(38,0)").as("s2"))
      val tk = tot.select(col("source"), col("n"), col("t"),
        floor(col("n").cast("double") / 2).cast("bigint").as("k"))
      val lz = tk.join(w.withColumnRenamed("source", "wsrc"),
          col("wsrc") === col("source")
            && col("f") - col("c") < col("k") && col("k") <= col("f"))
        .select(col("source"),
          (col("cumt") - col("v").cast("decimal(9,0)") * col("c").cast("decimal(12,0)")
            + col("v").cast("decimal(9,0)")
              * (col("k") - (col("f") - col("c"))).cast("decimal(12,0)"))
            .cast("decimal(38,0)").as("chars_k"))
      tot.join(s2, "source").join(lz, "source")
        .select(col("source"), col("n").as("n_docs"),
          col("t").cast("bigint").as("total_chars"),
          round(col("s2").cast("double")
            / (col("n").cast("double") * col("t").cast("double"))
            - (col("n").cast("double") + 1) / col("n"), 6).as("gini"),
          round(col("chars_k").cast("double") / col("t").cast("double"), 6)
            .as("bottom_half_share"))
        .orderBy(col("source"))
    },

    // --------------------- Friedman test / Kendall's W (p242)
    QueryDef("p242_friedman_test", Some("""
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
      FROM num, den, km, nn""")) { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
      // dense day×type grid — date-span × type-cardinality bounded
      val cell = Kit.dayTypeGrid(ev)
      val b = cell.select(col("d").as("bday"), col("c").as("bc"))
      val rk = cell.join(b, col("d") === col("bday"))
        .groupBy(col("d"), col("et"))
        .agg((sum(when(col("bc") < col("c"), 2L).otherwise(0L))
          + sum(when(col("bc") === col("c"), 1L).otherwise(0L)) + 1)
          .cast("bigint").as("r2"))
      val km = Kit.eventTypes(ev).agg(count(lit(1)).cast("bigint").as("k"))
      val nn = Kit.days(ev).agg(count(lit(1)).cast("bigint").as("n"))
      val rj = rk.groupBy(col("et")).agg(sum(col("r2")).cast("bigint").as("r2j"))
      val num = rj.crossJoin(broadcast(km)).crossJoin(broadcast(nn))
        .agg(sum((col("r2j") - col("n") * (col("k") + 1)).cast("decimal(18,0)")
          * (col("r2j") - col("n") * (col("k") + 1)).cast("decimal(18,0)"))
          .cast("decimal(38,0)").as("ssj"))
      val den = rk.crossJoin(broadcast(km))
        .agg(sum((col("r2") - (col("k") + 1)).cast("decimal(18,0)")
          * (col("r2") - (col("k") + 1)).cast("decimal(18,0)"))
          .cast("decimal(38,0)").as("ssd"))
      num.crossJoin(den).crossJoin(km).crossJoin(nn)
        .select(col("n").as("n_days"), col("k").as("k_types"),
          round((col("k").cast("double") - 1)
            * (col("ssj").cast("double") / col("ssd").cast("double")), 6)
            .as("friedman_q"),
          round(col("ssj").cast("double") / col("ssd").cast("double")
            / col("n"), 6).as("kendalls_w"))
    },

    // --------------------- Jonckheere-Terpstra ordered trend (p243)
    QueryDef("p243_jonckheere_terpstra", Some("""
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
      FROM fin""")) { (s, dir) =>
      val docs = Tables.dfSpread(s, dir, "documents")
      val vc = docs.groupBy(col("source"), col("n_chars").as("v"))
        .agg(count(lit(1)).cast("bigint").as("c"))
      val vals = vc.select(col("v")).distinct()
      val srcs = docs.select(col("source")).distinct()
      // dense source×value grid — value-domain × source-cardinality bounded;
      // broadcast the few-row source side
      val grid = vals.crossJoin(broadcast(srcs))
        .join(vc, Seq("source", "v"), "left")
        .select(col("source"), col("v"), coalesce(col("c"), lit(0L)).as("c"))
      val ws = Window.partitionBy(col("source")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.select(col("source"), col("v"), col("c"),
        (sum(col("c")).over(ws).cast("bigint") - col("c")).as("fless"))
      val h = cum.select(col("source").as("hsrc"), col("v").as("hv"),
        col("c").as("hc"))
      val jt = cum.join(h, col("v") === col("hv")
          && col("source") < col("hsrc"))
        .agg(sum(col("hc").cast("decimal(12,0)")
          * (lit(2) * col("fless") + col("c")).cast("decimal(14,0)"))
          .cast("decimal(38,0)").as("jt2"))
      val gs = docs.groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("ng"))
      val tg = gs.agg(
        count(lit(1)).cast("bigint").as("kgrp"),
        sum(col("ng")).cast("bigint").as("n"),
        sum(col("ng").cast("decimal(12,0)") * col("ng").cast("decimal(12,0)"))
          .cast("decimal(38,0)").as("sn2"),
        sum(col("ng").cast("decimal(12,0)") * (col("ng") - 1).cast("decimal(12,0)"))
          .cast("decimal(38,0)").as("g2"),
        sum(col("ng").cast("decimal(12,0)") * (col("ng") - 1).cast("decimal(12,0)")
          * (col("ng") - 2).cast("decimal(12,0)")).cast("decimal(38,0)").as("g3"),
        sum(col("ng").cast("decimal(12,0)") * (col("ng") - 1).cast("decimal(12,0)")
          * (lit(2) * col("ng") + 5).cast("decimal(13,0)"))
          .cast("decimal(38,0)").as("g25"))
      val tvv = vc.groupBy(col("v")).agg(sum(col("c")).cast("bigint").as("tc"))
      val tv = tvv.agg(
        sum(col("tc").cast("decimal(12,0)") * (col("tc") - 1).cast("decimal(12,0)"))
          .cast("decimal(38,0)").as("t2"),
        sum(col("tc").cast("decimal(12,0)") * (col("tc") - 1).cast("decimal(12,0)")
          * (col("tc") - 2).cast("decimal(12,0)")).cast("decimal(38,0)").as("t3"),
        sum(col("tc").cast("decimal(12,0)") * (col("tc") - 1).cast("decimal(12,0)")
          * (lit(2) * col("tc") + 5).cast("decimal(13,0)"))
          .cast("decimal(38,0)").as("t25"))
      val fin = jt.crossJoin(tg).crossJoin(tv).select(
        col("kgrp"), col("n"),
        (col("jt2").cast("double") / 2).as("jts"),
        ((col("n").cast("double") * col("n") - col("sn2").cast("double")) / 4)
          .as("e_jt"),
        ((col("n").cast("double") * (col("n") - 1)
            * (lit(2) * col("n").cast("double") + 5)
          - col("g25").cast("double") - col("t25").cast("double")) / 72
          + col("g3").cast("double") * col("t3").cast("double")
            / (lit(36.0) * col("n") * (col("n") - 1) * (col("n") - 2))
          + col("g2").cast("double") * col("t2").cast("double")
            / (lit(8.0) * col("n") * (col("n") - 1))).as("var_jt"))
      fin.select(col("kgrp").as("n_groups"), col("n").as("n_docs"),
        round(col("jts"), 6).as("jt_stat"), round(col("e_jt"), 6).as("e_jt"),
        round(col("var_jt"), 6).as("var_jt"),
        round((col("jts") - col("e_jt")) / sqrt(col("var_jt")), 6).as("z"))
    },

    // --------------------- k-sample Anderson-Darling (p244)
    QueryDef("p244_ad_ksample", Some("""
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
      ORDER BY comp.lang""")) { (s, dir) =>
      val docs = Tables.dfSpread(s, dir, "documents")
      val vc = docs.groupBy(col("lang"), col("n_chars").as("v"))
        .agg(count(lit(1)).cast("bigint").as("c"))
      val pool = vc.groupBy(col("v")).agg(sum(col("c")).cast("bigint").as("l"))
      val langs = vc.groupBy(col("lang")).agg(sum(col("c")).cast("bigint").as("ni"))
      val nn = pool.agg(sum(col("l")).cast("bigint").as("n"))
      // pooled mid-cumulative over the distinct-length frame —
      // value-domain-bounded at ANY corpus size (the p141/p155 class)
      val wp = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pb = pool.select(col("v"), col("l"),
        (lit(2) * sum(col("l")).over(wp).cast("bigint") - col("l")).as("b2"))
      val grid = pb.crossJoin(broadcast(langs))
        .join(vc, Seq("lang", "v"), "left")
        .select(col("lang"), col("ni"), col("v"), col("l"), col("b2"),
          coalesce(col("c"), lit(0L)).as("m"))
      val wl = Window.partitionBy(col("lang")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mg = grid.select(col("lang"), col("ni"), col("v"), col("l"), col("b2"),
        (lit(2) * sum(col("m")).over(wl).cast("bigint") - col("m")).as("m2"))
      val x = mg.crossJoin(broadcast(nn)).filter(col("l") < col("n"))
        .select(col("lang"), col("ni"), col("l"), col("b2"), col("n"),
          (col("n").cast("decimal(14,0)") * col("m2").cast("decimal(14,0)")
            - col("ni").cast("decimal(14,0)") * col("b2").cast("decimal(14,0)"))
            .as("d"))
      val term = x.select(col("lang"), col("ni"),
        Kit.rdec(col("l").cast("double") * col("d").cast("double")
            * col("d").cast("double")
          / (col("n").cast("double")
            * (col("b2").cast("double") * (lit(2) * col("n").cast("double") - col("b2"))
              - col("n").cast("double") * col("l"))), 12).as("t"))
      val comp = term.groupBy(col("lang")).agg(
        max(col("ni")).cast("bigint").as("ni"),
        Kit.rdec(sum(col("t")).cast("double") / max(col("ni")), 9).as("comp"))
      val tot = comp.agg(count(lit(1)).cast("bigint").as("k"),
        sum(col("comp")).cast("decimal(38,9)").as("sc"))
      comp.crossJoin(broadcast(tot)).crossJoin(broadcast(nn))
        .select(col("lang"), col("ni").as("n_lang"),
          round(col("comp").cast("double"), 6).as("ad_component"),
          round((col("n").cast("double") - 1) / col("n")
            * col("sc").cast("double"), 6).as("a2akn"),
          (col("k") - 1).cast("bigint").as("a2_null_mean"))
        .orderBy(col("lang"))
    },

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
    QueryDef("p246_pettitt_changepoint", Some("""
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
      FROM cp, k, nn""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val b = dc.select(col("d").as("bd"), col("c").as("bc"))
      // the day-pair grid is date-span-bounded at ANY corpus size (p237)
      val vv = dc.crossJoin(broadcast(b))
        .groupBy(col("d"))
        .agg(sum(when(col("c") > col("bc"), 1L)
          .when(col("c") < col("bc"), -1L).otherwise(0L))
          .cast("bigint").as("vsum"))
      // the prefix sum runs over the per-DAY frame — date-span-bounded
      val wu = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val u = vv.select(col("d"), sum(col("vsum")).over(wu).cast("bigint").as("ut"))
      val nn = dc.agg(count(lit(1)).cast("bigint").as("t"), max(col("d")).as("dmax"))
      val uN = u.crossJoin(broadcast(nn)).filter(col("d") < col("dmax"))
      val k = uN.agg(max(abs(col("ut"))).cast("bigint").as("kmax"))
      val cp = uN.crossJoin(broadcast(k))
        .filter(abs(col("ut")) === col("kmax"))
        .agg(min(col("d")).as("cp_date"))
      cp.crossJoin(k).crossJoin(nn)
        .select(col("cp_date"), col("t").as("n_days"), col("kmax").as("k_stat"),
          round(least(lit(1.0),
            lit(2) * exp(-(lit(6.0) * col("kmax") * col("kmax"))
              / (col("t").cast("double") * col("t") * col("t")
                + col("t").cast("double") * col("t")))), 6).as("p_approx"))
    }
  )
}
