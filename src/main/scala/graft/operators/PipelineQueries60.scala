package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 60 — sequential drift detection, robust
  * two-sample testing, misclassification symmetry, long-memory estimation,
  * seasonal decomposition strength, and sequence predictability:
  *
  *  - p253 Page–Hinkley: the online mean-shift detector (the streaming
  *    standard next to p150's batch CUSUM and p246's rank-based Pettitt):
  *    mₜ = Σᵢ≤ₜ(xᵢ − x̄ᵢ), excursion mₜ − min mₛ. Every deviation is an
  *    exact rational rounded to 9dp DECIMAL BEFORE the cumulative window,
  *    so the running sums are exact no matter how either engine's window
  *    aggregator associates (a segment-tree float sum would differ from a
  *    running sum in the last ulp). Page (1954), Hinkley (1971).
  *
  *  - p254 Yuen's trimmed-mean t-test (γ=0.2): the robust complement of
  *    p138's Welch — heavy tails inflate Welch's variance and mask real
  *    location shifts; Yuen trims 20% per tail and uses the winsorized
  *    variance. Order statistics, trimmed sums, and winsorized squares all
  *    come from value-domain cumulative sums (the p241 Lorenz-interpolation
  *    arithmetic: S(k) = cumT₋ + (k−F₋)·v at any rank k) — never a
  *    row-level sort. Welch–Satterthwaite df on winsorized terms.
  *    Yuen (1974).
  *
  *  - p255 Bowker symmetry: is the p08 language-ID confusion matrix
  *    SYMMETRIC (en→de errors ≈ de→en errors)? The k×k generalization of
  *    p214's McNemar: χ² = Σᵢ<ⱼ(nᵢⱼ−nⱼᵢ)²/(nᵢⱼ+nⱼᵢ) over the square
  *    {en,de,es,fr} table (docs whose true lang the classifier can emit),
  *    df = discordant pairs. Direction-biased errors mean the classifier
  *    systematically absorbs one language into another — a mixing-weight
  *    hazard p65's per-class precision/recall cannot see. Bowker (1948).
  *
  *  - p256 Hurst exponent (rescaled range): long-memory vs i.i.d. daily
  *    volume — H≈0.5 random walk increments, H→1 persistent trends that
  *    break "independent days" capacity assumptions. R/S computed per
  *    segment at literal scales k∈{1,2,4} segments (cumulative deviations
  *    as 9dp DECIMAL, range = max−min, population sd from exact sums),
  *    then H = OLS slope of ln(R̄/S̄) on ln(T/k) over the three scale
  *    points. Hurst (1951), Mandelbrot & Wallis (1969).
  *
  *  - p257 seasonal strength: Hyndman's Fₛ = max(0, 1 − Var(remainder)
  *    /Var(detrended)) with OLS trend (the p251 fit) and day-of-week
  *    means as the seasonal component — "how much of daily volume is
  *    weekly rhythm" as one portable [0,1] number, where p203 only shows
  *    the per-DOW profile. DOW keys are engine-internal (grouping only),
  *    so the dayofweek convention mismatch between engines cannot leak.
  *
  *  - p258 Markov entropy rate: H = −Σᵢⱼ (nᵢⱼ/N)·ln(nᵢⱼ/nᵢ·) over the
  *    per-user event-type transition counts (lag over (ts, event_id)-
  *    ordered per-user windows — the tie on equal timestamps is broken
  *    deterministically), with efficiency H/ln(k) — how predictable is
  *    the NEXT event given the current one; the sequence complement of
  *    p63's raw transition matrix and the event-stream sibling of p235's
  *    token-bigram conditional entropy. Shannon (1948).
  *
  * Determinism: integer sufficient statistics, 9dp DECIMAL rounding
  * before every cumulative or multi-row float reduce, literal scale/trim
  * constants, CAST-to-DOUBLE on fractional literals, mirrored left-assoc
  * chains, 6dp outputs, ordered results.
  */
object PipelineQueries60 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- Page-Hinkley drift excursion (p253)
    QueryDef.sql("p253_page_hinkley", """
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      r AS (
        SELECT d, c,
               CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn,
               CAST(sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS cum
        FROM dc),
      dev AS (
        SELECT d, c,
               CAST(round(c - CAST(cum AS DOUBLE) / rn, 9)
                 AS DECIMAL(38,9)) AS dev
        FROM r),
      m AS (
        SELECT d,
               CAST(sum(dev) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                 AS DECIMAL(38,9)) AS mt
        FROM dev),
      exc AS (
        SELECT d, mt,
               mt - min(mt) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS ex
        FROM m),
      s AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s1,
               CAST(sum(c * c) AS BIGINT) AS s2
        FROM dc),
      sd AS (
        SELECT n, sqrt(CAST(s2 AS DOUBLE) / n
          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS sd
        FROM s),
      k AS (SELECT max(ex) AS kmax FROM exc),
      cp AS (SELECT min(d) AS peak_date FROM exc, k WHERE ex = kmax)
      SELECT sd.n AS n_days, cp.peak_date,
             round(CAST(k.kmax AS DOUBLE), 6) AS ph_excursion,
             round(CAST(k.kmax AS DOUBLE) / sd.sd, 6) AS ph_over_sd
      FROM k, cp, sd"""),

    // --------------------- Yuen trimmed-mean t-test (p254)
    QueryDef("p254_yuen_trimmed_ttest", Some("""
      WITH g AS (
        SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS grp,
               n_chars AS v
        FROM documents),
      vc AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS c
             FROM g GROUP BY grp, v),
      w AS (
        SELECT grp, v, c,
               CAST(sum(c) OVER (PARTITION BY grp ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS f,
               CAST(sum(CAST(v AS DECIMAL(9,0)) * CAST(c AS DECIMAL(12,0)))
                 OVER (PARTITION BY grp ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS DECIMAL(30,0)) AS cumt,
               CAST(sum(CAST(v AS DECIMAL(9,0)) * CAST(v AS DECIMAL(9,0))
                 * CAST(c AS DECIMAL(12,0)))
                 OVER (PARTITION BY grp ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS DECIMAL(32,0)) AS cumt2
        FROM vc),
      nn AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               CAST(floor(CAST(count(*) AS DOUBLE) * 0.2) AS BIGINT) AS tg
        FROM g GROUP BY grp),
      -- order-statistic + cumulative-sum lookups at ranks tg and n-tg:
      -- S(k) = cumt_prev + (k - f_prev) * v  (the p241 interpolation)
      lo AS (
        SELECT nn.grp,
               CAST(w.cumt - CAST(w.v AS DECIMAL(9,0)) * CAST(w.c AS DECIMAL(12,0))
                 + CAST(w.v AS DECIMAL(9,0)) * CAST(nn.tg - (w.f - w.c) AS DECIMAL(12,0))
                 AS DECIMAL(38,0)) AS slo,
               CAST(w.cumt2 - CAST(w.v AS DECIMAL(9,0)) * CAST(w.v AS DECIMAL(9,0))
                 * CAST(w.c AS DECIMAL(12,0))
                 + CAST(w.v AS DECIMAL(9,0)) * CAST(w.v AS DECIMAL(9,0))
                 * CAST(nn.tg - (w.f - w.c) AS DECIMAL(12,0))
                 AS DECIMAL(38,0)) AS s2lo
        FROM nn JOIN w ON w.grp = nn.grp
             AND w.f - w.c < nn.tg AND nn.tg <= w.f),
      -- the winsorized LOWER replacement is x_(tg+1), which differs from
      -- x_(tg) when rank tg lands exactly on a tie-block boundary
      lov AS (
        SELECT nn.grp, w.v AS lov
        FROM nn JOIN w ON w.grp = nn.grp
             AND w.f - w.c < nn.tg + 1 AND nn.tg + 1 <= w.f),
      hi AS (
        SELECT nn.grp, w.v AS hiv,
               CAST(w.cumt - CAST(w.v AS DECIMAL(9,0)) * CAST(w.c AS DECIMAL(12,0))
                 + CAST(w.v AS DECIMAL(9,0)) * CAST(nn.n - nn.tg - (w.f - w.c) AS DECIMAL(12,0))
                 AS DECIMAL(38,0)) AS shi,
               CAST(w.cumt2 - CAST(w.v AS DECIMAL(9,0)) * CAST(w.v AS DECIMAL(9,0))
                 * CAST(w.c AS DECIMAL(12,0))
                 + CAST(w.v AS DECIMAL(9,0)) * CAST(w.v AS DECIMAL(9,0))
                 * CAST(nn.n - nn.tg - (w.f - w.c) AS DECIMAL(12,0))
                 AS DECIMAL(38,0)) AS s2hi
        FROM nn JOIN w ON w.grp = nn.grp
             AND w.f - w.c < nn.n - nn.tg AND nn.n - nn.tg <= w.f),
      st AS (
        SELECT nn.grp, nn.n, nn.tg, nn.n - 2 * nn.tg AS h,
               CAST(hi.shi - lo.slo AS DOUBLE) AS tsum,
               CAST(hi.s2hi - lo.s2lo AS DOUBLE) AS tsum2,
               CAST(lov.lov AS DOUBLE) AS lov, CAST(hi.hiv AS DOUBLE) AS hiv
        FROM nn JOIN lo ON nn.grp = lo.grp JOIN lov ON nn.grp = lov.grp
        JOIN hi ON nn.grp = hi.grp),
      yu AS (
        SELECT grp, n, h,
               tsum / h AS tmean,
               (tsum2 + tg * lov * lov + tg * hiv * hiv
                 - CAST(n AS DOUBLE)
                   * ((tsum + tg * lov + tg * hiv) / n)
                   * ((tsum + tg * lov + tg * hiv) / n)) / (n - 1) AS wvar
        FROM st),
      fin AS (
        SELECT e.tmean AS m1, o.tmean AS m2,
               (CAST(e.n AS DOUBLE) - 1) * e.wvar / (CAST(e.h AS DOUBLE) * (e.h - 1)) AS d1,
               (CAST(o.n AS DOUBLE) - 1) * o.wvar / (CAST(o.h AS DOUBLE) * (o.h - 1)) AS d2,
               e.h AS h1, o.h AS h2
        FROM (SELECT * FROM yu WHERE grp = 'en') e,
             (SELECT * FROM yu WHERE grp = 'other') o)
      SELECT round(m1, 6) AS trimmed_mean_en,
             round(m2, 6) AS trimmed_mean_other,
             round((m1 - m2) / sqrt(d1 + d2), 6) AS yuen_t,
             round(1 / ((d1 / (d1 + d2)) * (d1 / (d1 + d2)) / (h1 - 1)
               + (1 - d1 / (d1 + d2)) * (1 - d1 / (d1 + d2)) / (h2 - 1)), 6)
               AS df_ws
      FROM fin""")) { (s, dir) =>
      val g = Tables.dfSpread(s, dir, "documents")
        .select(when(col("lang") === "en", "en").otherwise("other").as("grp"),
          col("n_chars").as("v"))
      val vc = g.groupBy(col("grp"), col("v"))
        .agg(count(lit(1)).cast("bigint").as("c"))
      val wg = Window.partitionBy(col("grp")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w = vc.select(col("grp"), col("v"), col("c"),
        sum(col("c")).over(wg).cast("bigint").as("f"),
        sum(col("v").cast("decimal(9,0)") * col("c").cast("decimal(12,0)"))
          .over(wg).cast("decimal(30,0)").as("cumt"),
        sum(col("v").cast("decimal(9,0)") * col("v").cast("decimal(9,0)")
          * col("c").cast("decimal(12,0)"))
          .over(wg).cast("decimal(32,0)").as("cumt2"))
      val nn = g.groupBy(col("grp")).agg(count(lit(1)).cast("bigint").as("n"),
        floor(count(lit(1)).cast("double") * lit(0.2)).cast("bigint").as("tg"))
      def atRank(rank: org.apache.spark.sql.Column) = (
        (col("cumt") - col("v").cast("decimal(9,0)") * col("c").cast("decimal(12,0)")
          + col("v").cast("decimal(9,0)")
            * (rank - (col("f") - col("c"))).cast("decimal(12,0)"))
          .cast("decimal(38,0)"),
        (col("cumt2") - col("v").cast("decimal(9,0)") * col("v").cast("decimal(9,0)")
          * col("c").cast("decimal(12,0)")
          + col("v").cast("decimal(9,0)") * col("v").cast("decimal(9,0)")
            * (rank - (col("f") - col("c"))).cast("decimal(12,0)"))
          .cast("decimal(38,0)"))
      val wj = w.withColumnRenamed("grp", "wgrp")
      val (slo, s2lo) = atRank(col("tg"))
      val lo = nn.join(wj, col("wgrp") === col("grp")
          && col("f") - col("c") < col("tg") && col("tg") <= col("f"))
        .select(col("grp"), slo.as("slo"), s2lo.as("s2lo"))
      // winsorized lower replacement = x_(tg+1), not x_(tg) (tie boundary)
      val lov = nn.join(wj, col("wgrp") === col("grp")
          && col("f") - col("c") < col("tg") + 1 && col("tg") + 1 <= col("f"))
        .select(col("grp"), col("v").as("lov"))
      val (shi, s2hi) = atRank(col("n") - col("tg"))
      val hi = nn.join(wj, col("wgrp") === col("grp")
          && col("f") - col("c") < col("n") - col("tg")
          && col("n") - col("tg") <= col("f"))
        .select(col("grp"), col("v").as("hiv"), shi.as("shi"), s2hi.as("s2hi"))
      val st = nn.join(lo, "grp").join(lov, "grp").join(hi, "grp").select(col("grp"),
        col("n"), col("tg"), (col("n") - lit(2) * col("tg")).as("h"),
        (col("shi") - col("slo")).cast("double").as("tsum"),
        (col("s2hi") - col("s2lo")).cast("double").as("tsum2"),
        col("lov").cast("double").as("lov"), col("hiv").cast("double").as("hiv"))
      def wmean = (col("tsum") + col("tg") * col("lov")
        + col("tg") * col("hiv")) / col("n")
      val yu = st.select(col("grp"), col("n"), col("h"),
        (col("tsum") / col("h")).as("tmean"),
        ((col("tsum2") + col("tg") * col("lov") * col("lov")
          + col("tg") * col("hiv") * col("hiv")
          - col("n").cast("double") * wmean * wmean) / (col("n") - 1)).as("wvar"))
      val e = yu.filter(col("grp") === "en")
        .select(col("n").as("n1"), col("h").as("h1"),
          col("tmean").as("m1"), col("wvar").as("w1"))
      val o = yu.filter(col("grp") === "other")
        .select(col("n").as("n2"), col("h").as("h2"),
          col("tmean").as("m2"), col("wvar").as("w2"))
      val fin = e.crossJoin(broadcast(o)).select(col("m1"), col("m2"),
        ((col("n1").cast("double") - 1) * col("w1")
          / (col("h1").cast("double") * (col("h1") - 1))).as("d1"),
        ((col("n2").cast("double") - 1) * col("w2")
          / (col("h2").cast("double") * (col("h2") - 1))).as("d2"),
        col("h1"), col("h2"))
      def cfrac = col("d1") / (col("d1") + col("d2"))
      fin.select(round(col("m1"), 6).as("trimmed_mean_en"),
        round(col("m2"), 6).as("trimmed_mean_other"),
        round((col("m1") - col("m2")) / sqrt(col("d1") + col("d2")), 6)
          .as("yuen_t"),
        round(lit(1) / (cfrac * cfrac / (col("h1") - 1)
          + (lit(1) - cfrac) * (lit(1) - cfrac) / (col("h2") - 1)), 6)
          .as("df_ws"))
    },

    // --------------------- Bowker misclassification symmetry (p255)
    QueryDef("p255_bowker_symmetry", Some("""
      WITH scored AS (
        SELECT lang,
               len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is'))) AS s_en,
               len(list_filter(t, x -> x IN ('der','die','das','und','ist','ein'))) AS s_de,
               len(list_filter(t, x -> x IN ('el','la','de','y','es','un'))) AS s_es,
               len(list_filter(t, x -> x IN ('le','la','et','est','un','une'))) AS s_fr
        FROM (SELECT lang, string_split_regex(lower(text), '\s+') AS t
              FROM documents
              WHERE lang IN ('en','de','es','fr')) x),
      p AS (
        SELECT lang,
               CASE WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr THEN 'es'
                    WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
                    ELSE 'en' END AS pred
        FROM scored),
      o AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS c
            FROM p GROUP BY lang, pred),
      pairs AS (
        -- canonical pair keys so a ONE-DIRECTIONAL confusion cell
        -- (n_ij = 0, n_ji > 0) still forms a pair — a LEFT JOIN keyed on
        -- the lang < pred side silently dropped those (spec-caught)
        SELECT least(lang, pred) AS i, greatest(lang, pred) AS j,
               CAST(sum(CASE WHEN lang < pred THEN c ELSE 0 END) AS BIGINT) AS nij,
               CAST(sum(CASE WHEN lang > pred THEN c ELSE 0 END) AS BIGINT) AS nji
        FROM o WHERE lang <> pred
        GROUP BY 1, 2),
      agg AS (
        SELECT CAST(count(*) FILTER (WHERE nij + nji > 0) AS BIGINT) AS df,
               CAST(sum(CAST(round(
                 CAST((nij - nji) * (nij - nji) AS DOUBLE) / (nij + nji), 9)
                 AS DECIMAL(38,9))) FILTER (WHERE nij + nji > 0)
                 AS DOUBLE) AS chi2,
               CAST(sum(nij + nji) AS BIGINT) AS n_off
        FROM pairs)
      SELECT df AS df_pairs, n_off AS n_offdiag,
             round(chi2, 6) AS bowker_chi2
      FROM agg""")) { (s, dir) =>
      def hit(t: org.apache.spark.sql.Column, ws: Seq[String]) =
        size(filter(t, x => x.isin(ws.map(lit(_)): _*)))
      val scored = Tables.dfSpread(s, dir, "documents")
        .filter(col("lang").isin("en", "de", "es", "fr"))
        .withColumn("t", Kit.words(col("text")))
        .select(col("lang"),
          hit(col("t"), Seq("the", "a", "and", "of", "to", "in", "is")).as("s_en"),
          hit(col("t"), Seq("der", "die", "das", "und", "ist", "ein")).as("s_de"),
          hit(col("t"), Seq("el", "la", "de", "y", "es", "un")).as("s_es"),
          hit(col("t"), Seq("le", "la", "et", "est", "un", "une")).as("s_fr"))
      val p = scored.select(col("lang"),
        when(col("s_de") > col("s_en") && col("s_de") >= col("s_es")
          && col("s_de") >= col("s_fr"), "de")
          .when(col("s_es") > col("s_en") && col("s_es") > col("s_de")
            && col("s_es") >= col("s_fr"), "es")
          .when(col("s_fr") > col("s_en") && col("s_fr") > col("s_de")
            && col("s_fr") > col("s_es"), "fr")
          .otherwise("en").as("pred"))
      val o = p.groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).cast("bigint").as("c"))
      // canonical pair keys: one-directional confusion cells still pair up
      val pairs = o.filter(col("lang") =!= col("pred"))
        .groupBy(least(col("lang"), col("pred")).as("i"),
          greatest(col("lang"), col("pred")).as("j"))
        .agg(sum(when(col("lang") < col("pred"), col("c")).otherwise(0L))
          .cast("bigint").as("nij"),
          sum(when(col("lang") > col("pred"), col("c")).otherwise(0L))
          .cast("bigint").as("nji"))
      val agg = pairs.agg(
        sum(when(col("nij") + col("nji") > 0, 1L).otherwise(0L))
          .cast("bigint").as("df"),
        sum(when(col("nij") + col("nji") > 0,
          Kit.rdec(((col("nij") - col("nji")) * (col("nij") - col("nji")))
            .cast("double") / (col("nij") + col("nji")), 9))).cast("double").as("chi2"),
        sum(col("nij") + col("nji")).cast("bigint").as("n_off"))
      agg.select(col("df").as("df_pairs"), col("n_off").as("n_offdiag"),
        round(col("chi2"), 6).as("bowker_chi2"))
    },

    // --------------------- Hurst rescaled-range exponent (p256)
    QueryDef("p256_hurst_exponent", Some("""
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS t FROM dc),
      r AS (
        SELECT d, c, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS rn
        FROM dc),
      ks AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS k),
      seg AS (
        SELECT ks.k, r.d, r.c,
               CAST(floor(CAST((r.rn - 1) * ks.k AS DOUBLE) / nn.t) AS BIGINT) AS sg
        FROM r, ks, nn),
      sm AS (
        SELECT k, sg, CAST(count(*) AS BIGINT) AS ns,
               CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
        FROM seg GROUP BY k, sg),
      cum AS (
        SELECT seg.k, seg.sg, seg.d,
               CAST(sum(CAST(round(seg.c - CAST(sm.s1 AS DOUBLE) / sm.ns, 9)
                 AS DECIMAL(38,9)))
                 OVER (PARTITION BY seg.k, seg.sg ORDER BY seg.d
                   ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,9)) AS cd
        FROM seg JOIN sm ON seg.k = sm.k AND seg.sg = sm.sg),
      rng AS (
        SELECT k, sg, CAST(max(cd) - min(cd) AS DOUBLE) AS rr
        FROM cum GROUP BY k, sg),
      rs AS (
        SELECT rng.k,
               CAST(sum(CAST(round(rng.rr / sqrt(CAST(sm.s2 AS DOUBLE) / sm.ns
                 - (CAST(sm.s1 AS DOUBLE) / sm.ns) * (CAST(sm.s1 AS DOUBLE) / sm.ns)),
                 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS mean_rs
        FROM rng JOIN sm ON rng.k = sm.k AND rng.sg = sm.sg
        GROUP BY rng.k),
      pts AS (
        SELECT ln(CAST(nn.t AS DOUBLE) / rs.k) AS x, ln(rs.mean_rs) AS y
        FROM rs, nn),
      ols AS (
        SELECT CAST(count(*) AS BIGINT) AS np,
               CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sx,
               CAST(sum(CAST(round(y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sy,
               CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx
        FROM pts)
      SELECT nn.t AS n_days, ols.np AS n_scales,
             round((ols.np * ols.sxy - ols.sx * ols.sy)
               / (ols.np * ols.sxx - ols.sx * ols.sx), 6) AS hurst_h
      FROM ols, nn""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val nn = dc.agg(count(lit(1)).cast("bigint").as("t"))
      val r = dc.select(col("d"), col("c"),
        row_number().over(Window.orderBy(col("d"))).cast("bigint").as("rn"))
      val ks = s.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(4L)))
        .toDF("k")
      val seg = r.crossJoin(broadcast(ks)).crossJoin(broadcast(nn))
        .select(col("k"), col("d"), col("c"),
          floor(((col("rn") - 1) * col("k")).cast("double") / col("t"))
            .cast("bigint").as("sg"))
      val sm = seg.groupBy(col("k"), col("sg")).agg(
        count(lit(1)).cast("bigint").as("ns"),
        sum(col("c")).cast("bigint").as("s1"),
        sum(col("c") * col("c")).cast("bigint").as("s2"))
      val wseg = Window.partitionBy(col("k"), col("sg")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = seg.join(sm, Seq("k", "sg"))
        .select(col("k"), col("sg"), col("d"),
          sum(Kit.rdec(col("c") - col("s1").cast("double") / col("ns"), 9)).over(wseg)
            .cast("decimal(38,9)").as("cd"))
      val rng = cum.groupBy(col("k"), col("sg"))
        .agg((max(col("cd")) - min(col("cd"))).cast("double").as("rr"))
      def sdpop = sqrt(col("s2").cast("double") / col("ns")
        - (col("s1").cast("double") / col("ns"))
          * (col("s1").cast("double") / col("ns")))
      val rs = rng.join(sm, Seq("k", "sg"))
        .groupBy(col("k"))
        .agg((Kit.rsum(col("rr") / sdpop, 9) / count(lit(1))).as("mean_rs"))
      val pts = rs.crossJoin(broadcast(nn))
        .select(log(col("t").cast("double") / col("k")).as("x"),
          log(col("mean_rs")).as("y"))
      val ols = pts.agg(count(lit(1)).cast("bigint").as("np"),
        Kit.rsum(col("x"), 9).as("sx"),
        Kit.rsum(col("y"), 9).as("sy"),
        Kit.rsum(col("x") * col("y"), 9).as("sxy"),
        Kit.rsum(col("x") * col("x"), 9).as("sxx"))
      ols.crossJoin(nn).select(col("t").as("n_days"), col("np").as("n_scales"),
        round((col("np") * col("sxy") - col("sx") * col("sy"))
          / (col("np") * col("sxx") - col("sx") * col("sx")), 6).as("hurst_h"))
    },

    // --------------------- weekly seasonal strength (p257)
    QueryDef("p257_seasonal_strength", Some("""
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      base AS (SELECT min(d) AS d0 FROM dc),
      xy AS (
        SELECT dc.d, date_diff('day', base.d0, dc.d) AS x, dc.c AS y,
               dayofweek(dc.d) AS dow
        FROM dc, base),
      s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM xy),
      fit AS (
        SELECT n,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b
        FROM s),
      ab AS (
        SELECT fit.n, fit.b,
               (CAST(s.sy AS DOUBLE) - fit.b * s.sx) / fit.n AS a
        FROM fit, s),
      det AS (
        SELECT dow, y - ab.a - ab.b * x AS dt
        FROM xy, ab),
      sea AS (
        SELECT dow,
               CAST(sum(CAST(round(dt, 9) AS DECIMAL(38,9))) AS DOUBLE)
                 / count(*) AS sdow
        FROM det GROUP BY dow),
      rem AS (
        SELECT det.dt, det.dt - sea.sdow AS rt
        FROM det JOIN sea ON det.dow = sea.dow),
      vv AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(dt, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sd1,
               CAST(sum(CAST(round(dt * dt, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sd2,
               CAST(sum(CAST(round(rt, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sr1,
               CAST(sum(CAST(round(rt * rt, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sr2
        FROM rem),
      amp AS (SELECT max(abs(sdow)) AS amp FROM sea)
      SELECT vv.n AS n_days,
             round(greatest(CAST(0 AS DOUBLE),
               1 - (vv.sr2 / vv.n - (vv.sr1 / vv.n) * (vv.sr1 / vv.n))
                 / (vv.sd2 / vv.n - (vv.sd1 / vv.n) * (vv.sd1 / vv.n))), 6)
               AS seasonal_strength,
             round(amp.amp, 6) AS max_dow_amplitude
      FROM vv, amp""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val xy = Kit.dayIndex(dc)
        .select(col("d"), col("x"), col("c").as("y"), dayofweek(col("d")).as("dow"))
      val ab = Kit.trend(xy)
      val det = xy.crossJoin(broadcast(ab))
        .select(col("dow"), (col("y") - col("a") - col("b") * col("x")).as("dt"))
      val sea = det.groupBy(col("dow"))
        .agg((Kit.rsum(col("dt"), 9)
          / count(lit(1))).as("sdow"))
      val rem = det.join(broadcast(sea), "dow")
        .select(col("dt"), (col("dt") - col("sdow")).as("rt"))
      val vv = rem.agg(count(lit(1)).cast("bigint").as("n"),
        Kit.rsum(col("dt"), 9).as("sd1"),
        Kit.rsum(col("dt") * col("dt"), 9).as("sd2"),
        Kit.rsum(col("rt"), 9).as("sr1"),
        Kit.rsum(col("rt") * col("rt"), 9).as("sr2"))
      val amp = sea.agg(max(abs(col("sdow"))).as("amp"))
      vv.crossJoin(amp).select(col("n").as("n_days"),
        round(greatest(lit(0.0),
          lit(1) - (col("sr2") / col("n") - (col("sr1") / col("n"))
            * (col("sr1") / col("n")))
            / (col("sd2") / col("n") - (col("sd1") / col("n"))
              * (col("sd1") / col("n")))), 6).as("seasonal_strength"),
        round(col("amp"), 6).as("max_dow_amplitude"))
    },

    // --------------------- Markov entropy rate of event types (p258)
    QueryDef.sql("p258_markov_entropy_rate", """
      WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev
        FROM events),
      tr AS (
        SELECT prev AS i, event_type AS j, CAST(count(*) AS BIGINT) AS nij
        FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type),
      ri AS (SELECT i, CAST(sum(nij) AS BIGINT) AS ni FROM tr GROUP BY i),
      nn AS (SELECT CAST(sum(nij) AS BIGINT) AS n,
                    CAST(count(DISTINCT i) AS BIGINT) AS k FROM tr),
      h AS (
        SELECT CAST(sum(CAST(round(
                 CAST(tr.nij AS DOUBLE) * ln(CAST(tr.nij AS DOUBLE) / ri.ni),
                 9) AS DECIMAL(38,9))) AS DOUBLE) AS s
        FROM tr JOIN ri ON tr.i = ri.i)
      SELECT nn.n AS n_transitions, nn.k AS n_states,
             round(-h.s / nn.n, 6) AS entropy_rate,
             round(-h.s / nn.n / ln(CAST(nn.k AS DOUBLE)), 6) AS efficiency
      FROM h, nn""")
  )
}
