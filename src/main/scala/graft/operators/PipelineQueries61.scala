package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 61 — serial-dependence portmanteau testing,
  * omnibus normality, heteroskedasticity, known-date structural breaks,
  * paired nonparametric location shift, and language-model smoothing
  * calibration:
  *
  *  - p259 Ljung–Box: the portmanteau complement of p201's per-lag ACF —
  *    Q = n(n+2)·Σ_{k≤7} r_k²/(n−k) collapses the autocorrelation profile
  *    into ONE serial-dependence test statistic (χ², df 7). Same bounded
  *    day-frame rank-join machinery as p201; each r_k²/(n−k) term is
  *    9dp-rounded before the 7-term reduce. Ljung & Box (1978).
  *
  *  - p260 D'Agostino–Pearson K²: the omnibus normality TEST on top of
  *    p239's raw shape moments — skewness via the Johnson SU transform
  *    (D'Agostino 1970), kurtosis via Anscombe–Glynn's cube-root normal
  *    approximation (1983), K² = Z₁² + Z₂². Power sums in per-row
  *    DECIMAL(9,0) (the p239 overflow-safe pattern); everything after is
  *    one row of closed-form double arithmetic mirrored operation-for-
  *    operation on both engines.
  *
  *  - p261 Breusch–Pagan (Koenker's studentized form): does residual
  *    VARIANCE of the daily-volume trend fit grow along the series?
  *    LM = n·R² of the auxiliary regression of squared OLS residuals on
  *    the day index. Trend sums are exact BIGINT; residual squares are
  *    9dp-DECIMAL before the auxiliary sums. Heteroskedastic volume means
  *    a capacity plan sized on early-series variance is wrong later —
  *    the variance sibling of p222's Mann–Kendall location trend.
  *    Breusch & Pagan (1979), Koenker (1981).
  *
  *  - p262 Chow test: structural break at a KNOWN point (the series
  *    midpoint) — the parametric complement of p246's Pettitt (which
  *    searches for an unknown breakpoint): F = ((RSS_p−RSS₁−RSS₂)/2) /
  *    ((RSS₁+RSS₂)/(n−4)) over the pooled vs per-half OLS fits. All five
  *    sums per segment are exact BIGINT; RSS via the centered-sums
  *    identity in double. Chow (1960).
  *
  *  - p263 Wilcoxon signed-rank: the PAIRED complement of p155's
  *    Mann–Whitney — click vs view volume matched BY DAY, so day-level
  *    traffic shocks cancel inside each pair instead of inflating the
  *    unpaired variance. Midranks of |d| from the value-domain cumsum in
  *    exact half-integer units (2·W⁺ stays BIGINT), tie-corrected normal
  *    variance ×48 exact. Wilcoxon (1945), Pratt zero-handling: zeros
  *    dropped.
  *
  *  - p264 Kneser–Ney discounts: the modified-KN smoothing constants a
  *    bigram LM over this corpus would actually train with — count-of-
  *    counts n₁..n₄ over bigram types → Y = n₁/(n₁+2n₂), D₁ = 1−2Y·n₂/n₁,
  *    D₂ = 2−3Y·n₃/n₂, D₃₊ = 3−4Y·n₄/n₃ (Chen & Goodman 1998, eq. 26).
  *    The calibration sibling of p37's bigram LM and p211's Good–Turing
  *    mass: integer count-of-counts until the three final ratios.
  *
  * Determinism: integer/DECIMAL sufficient statistics, 9dp rounding before
  * every multi-row float reduce, mirrored left-assoc double chains, 6dp
  * outputs, ordered results.
  */
object PipelineQueries61 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- Ljung-Box portmanteau (p259)
    QueryDef("p259_ljung_box", Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      m AS (SELECT CAST(sum(c) AS DOUBLE) / count(*) AS mu FROM daily),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
      rn AS (
        SELECT c, row_number() OVER (ORDER BY d) AS r FROM daily),
      pairs AS (
        SELECT l.lag, a.c AS c, b.c AS cp
        FROM rn a, (SELECT unnest(range(1, 8)) AS lag) l
        JOIN rn b ON a.r = b.r + l.lag),
      acf AS (
        SELECT lag,
               CAST(sum(CAST(round((c - (SELECT mu FROM m))
                 * (cp - (SELECT mu FROM m)), 9) AS DECIMAL(38,9)))
                 AS DOUBLE) AS num
        FROM pairs GROUP BY lag),
      den AS (
        SELECT CAST(sum(CAST(round((c - (SELECT mu FROM m))
          * (c - (SELECT mu FROM m)), 9) AS DECIMAL(38,9))) AS DOUBLE) AS ss
        FROM daily),
      q AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CAST(round((acf.num / den.ss) * (acf.num / den.ss)
                 / (nn.n - acf.lag), 9) AS DECIMAL(38,9))) AS DOUBLE) AS s
        FROM acf, den, nn)
      SELECT nn.n AS n_days, q.k AS n_lags,
             round(CAST(nn.n AS DOUBLE) * (nn.n + 2) * q.s, 6) AS q_lb
      FROM q, nn""")) { (s, dir) =>
      val daily = Kit.dayCounts(Tables.df(s, dir, "events"))
      val nn = daily.agg(count(lit(1)).cast("bigint").as("n"))
      val q = Kit.lagPairs(daily, 7).crossJoin(broadcast(nn))
        .agg(count(lit(1)).cast("bigint").as("k"),
          Kit.rsum((col("num") / col("ss")) * (col("num") / col("ss"))
            / (col("n") - col("lag")), 9).as("s"))
      q.crossJoin(broadcast(nn))
        .select(col("n").as("n_days"), col("k").as("n_lags"),
          round(col("n").cast("double") * (col("n") + 2) * col("s"), 6)
            .as("q_lb"))
    },

    // --------------------- D'Agostino-Pearson omnibus K^2 (p260)
    QueryDef("p260_dagostino_k2", Some("""
      WITH d AS (SELECT CAST(n_chars AS DECIMAL(9,0)) AS x FROM documents),
      s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS DECIMAL(38,0)) AS s1,
               CAST(sum(x * x) AS DECIMAL(38,0)) AS s2,
               CAST(sum(x * x * x) AS DECIMAL(38,0)) AS s3,
               CAST(sum(x * x * x * x) AS DECIMAL(38,0)) AS s4
        FROM d),
      m AS (
        SELECT n, CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS r2,
               CAST(s3 AS DOUBLE) / n AS r3, CAST(s4 AS DOUBLE) / n AS r4
        FROM s),
      c AS (
        SELECT n, m1, r2 - m1 * m1 AS m2,
               r3 - CAST(3.0 AS DOUBLE) * m1 * r2
                 + CAST(2.0 AS DOUBLE) * m1 * m1 * m1 AS m3,
               r4 - CAST(4.0 AS DOUBLE) * m1 * r3
                 + CAST(6.0 AS DOUBLE) * m1 * m1 * r2
                 - CAST(3.0 AS DOUBLE) * m1 * m1 * m1 * m1 AS m4
        FROM m),
      g AS (
        SELECT n, m3 / sqrt(m2 * m2 * m2) AS g1, m4 / (m2 * m2) AS b2
        FROM c),
      sk AS (
        SELECT n, b2,
               g1 * sqrt((CAST(n AS DOUBLE) + 1) * (n + 3)
                 / (CAST(6.0 AS DOUBLE) * (n - 2))) AS y,
               CAST(3.0 AS DOUBLE) * (CAST(n AS DOUBLE) * n + 27 * n - 70)
                 * (n + 1) * (n + 3)
                 / ((CAST(n AS DOUBLE) - 2) * (n + 5) * (n + 7) * (n + 9))
                 AS beta2
        FROM g),
      sk2 AS (
        SELECT n, b2, y,
               sqrt(CAST(2.0 AS DOUBLE) * (beta2 - 1)) - 1 AS w2
        FROM sk),
      sk3 AS (
        SELECT n, b2,
               (1 / sqrt(ln(sqrt(w2))))
                 * ln(y / sqrt(CAST(2.0 AS DOUBLE) / (w2 - 1))
                   + sqrt((y / sqrt(CAST(2.0 AS DOUBLE) / (w2 - 1)))
                     * (y / sqrt(CAST(2.0 AS DOUBLE) / (w2 - 1))) + 1)) AS z1
        FROM sk2),
      ku AS (
        SELECT n, z1,
               (b2 - CAST(3.0 AS DOUBLE) * (n - 1) / (n + 1))
                 / sqrt(CAST(24.0 AS DOUBLE) * n * (n - 2) * (n - 3)
                   / ((CAST(n AS DOUBLE) + 1) * (n + 1) * (n + 3) * (n + 5)))
                 AS xk,
               CAST(6.0 AS DOUBLE) * (CAST(n AS DOUBLE) * n - 5 * n + 2)
                 / ((n + 7) * (n + 9))
                 * sqrt(CAST(6.0 AS DOUBLE) * (n + 3) * (n + 5)
                   / (CAST(n AS DOUBLE) * (n - 2) * (n - 3))) AS sb1
        FROM sk3),
      ku2 AS (
        SELECT n, z1, xk,
               6 + 8 / sb1 * (2 / sb1 + sqrt(1 + 4 / (sb1 * sb1))) AS aa
        FROM ku),
      ku3 AS (
        SELECT n, z1,
               ((1 - CAST(2.0 AS DOUBLE) / (9 * aa))
                 - cbrt((1 - CAST(2.0 AS DOUBLE) / aa)
                   / (1 + xk * sqrt(CAST(2.0 AS DOUBLE) / (aa - 4)))))
                 / sqrt(CAST(2.0 AS DOUBLE) / (9 * aa)) AS z2
        FROM ku2)
      SELECT n AS n_docs, round(z1, 6) AS skew_z1, round(z2, 6) AS kurt_z2,
             round(z1 * z1 + z2 * z2, 6) AS k2_stat
      FROM ku3""")) { (s, dir) =>
      val c = Kit.centralMoments(Kit.powerSums(Tables.dfSpread(s, dir, "documents"),
        Seq(), col("n_chars"), 4))
      val g = c.select(col("n"),
        (col("m3") / sqrt(col("m2") * col("m2") * col("m2"))).as("g1"),
        (col("m4") / (col("m2") * col("m2"))).as("b2"))
      val sk = g.select(col("n"), col("b2"),
        (col("g1") * sqrt((col("n").cast("double") + 1) * (col("n") + 3)
          / (lit(6.0) * (col("n") - 2)))).as("y"),
        (lit(3.0) * (col("n").cast("double") * col("n") + lit(27) * col("n") - 70)
          * (col("n") + 1) * (col("n") + 3)
          / ((col("n").cast("double") - 2) * (col("n") + 5) * (col("n") + 7)
            * (col("n") + 9))).as("beta2"))
      val sk2 = sk.select(col("n"), col("b2"), col("y"),
        (sqrt(lit(2.0) * (col("beta2") - 1)) - 1).as("w2"))
      def ya = col("y") / sqrt(lit(2.0) / (col("w2") - 1))
      val sk3 = sk2.select(col("n"), col("b2"),
        ((lit(1) / sqrt(log(sqrt(col("w2")))))
          * log(ya + sqrt(ya * ya + 1))).as("z1"))
      val ku = sk3.select(col("n"), col("z1"),
        ((col("b2") - lit(3.0) * (col("n") - 1) / (col("n") + 1))
          / sqrt(lit(24.0) * col("n") * (col("n") - 2) * (col("n") - 3)
            / ((col("n").cast("double") + 1) * (col("n") + 1) * (col("n") + 3)
              * (col("n") + 5)))).as("xk"),
        (lit(6.0) * (col("n").cast("double") * col("n") - lit(5) * col("n") + 2)
          / ((col("n") + 7) * (col("n") + 9))
          * sqrt(lit(6.0) * (col("n") + 3) * (col("n") + 5)
            / (col("n").cast("double") * (col("n") - 2) * (col("n") - 3))))
          .as("sb1"))
      val ku2 = ku.select(col("n"), col("z1"), col("xk"),
        (lit(6) + lit(8) / col("sb1") * (lit(2) / col("sb1")
          + sqrt(lit(1) + lit(4) / (col("sb1") * col("sb1"))))).as("aa"))
      val ku3 = ku2.select(col("n"), col("z1"),
        (((lit(1) - lit(2.0) / (lit(9) * col("aa")))
          - cbrt((lit(1) - lit(2.0) / col("aa"))
            / (lit(1) + col("xk") * sqrt(lit(2.0) / (col("aa") - 4)))))
          / sqrt(lit(2.0) / (lit(9) * col("aa")))).as("z2"))
      ku3.select(col("n").as("n_docs"), round(col("z1"), 6).as("skew_z1"),
        round(col("z2"), 6).as("kurt_z2"),
        round(col("z1") * col("z1") + col("z2") * col("z2"), 6).as("k2_stat"))
    },

    // --------------------- Breusch-Pagan / Koenker LM (p261)
    QueryDef("p261_breusch_pagan", Some("""
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      base AS (SELECT min(d) AS d0 FROM dc),
      xy AS (
        SELECT date_diff('day', base.d0, dc.d) AS x, dc.c AS y
        FROM dc, base),
      s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM xy),
      fit AS (
        SELECT n, sx, sy,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b
        FROM s),
      ab AS (
        SELECT n, b, (CAST(sy AS DOUBLE) - b * sx) / n AS a
        FROM fit),
      res AS (
        SELECT x,
               CAST(round((y - ab.a - ab.b * x) * (y - ab.a - ab.b * x), 9)
                 AS DECIMAL(38,9)) AS u
        FROM xy, ab),
      s2 AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(u) AS DOUBLE) AS su,
               CAST(sum(CAST(round(CAST(u AS DOUBLE) * x, 9)
                 AS DECIMAL(38,9))) AS DOUBLE) AS sxu,
               CAST(sum(CAST(round(CAST(u AS DOUBLE) * CAST(u AS DOUBLE), 9)
                 AS DECIMAL(38,9))) AS DOUBLE) AS suu
        FROM res),
      fin AS (
        SELECT n, sxu - CAST(sx AS DOUBLE) * su / n AS cxu,
               CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS cxx,
               suu - su * su / n AS cuu
        FROM s2)
      SELECT n AS n_days,
             round(CAST(n AS DOUBLE) * (cxu * cxu) / (cxx * cuu), 6) AS bp_lm,
             round(cxu / cxx, 6) AS het_slope
      FROM fin""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val xy = Kit.dayIndex(dc).select(col("x"), col("c").as("y"))
      val ab = Kit.trend(xy)
      val res = xy.crossJoin(broadcast(ab))
        .select(col("x"),
          Kit.rdec((col("y") - col("a") - col("b") * col("x"))
            * (col("y") - col("a") - col("b") * col("x")), 9).as("u"))
      val s2 = res.agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("x")).cast("bigint").as("sx"),
        sum(col("x") * col("x")).cast("bigint").as("sxx"),
        sum(col("u")).cast("double").as("su"),
        Kit.rsum(col("u").cast("double") * col("x"), 9).as("sxu"),
        Kit.rsum(col("u").cast("double") * col("u").cast("double"), 9).as("suu"))
      val fin = s2.select(col("n"),
        (col("sxu") - col("sx").cast("double") * col("su") / col("n")).as("cxu"),
        (col("sxx").cast("double")
          - col("sx").cast("double") * col("sx") / col("n")).as("cxx"),
        (col("suu") - col("su") * col("su") / col("n")).as("cuu"))
      fin.select(col("n").as("n_days"),
        round(col("n").cast("double") * (col("cxu") * col("cxu"))
          / (col("cxx") * col("cuu")), 6).as("bp_lm"),
        round(col("cxu") / col("cxx"), 6).as("het_slope"))
    },

    // --------------------- Chow known-break F test (p262)
    QueryDef("p262_chow_break", Some("""
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      base AS (SELECT min(d) AS d0 FROM dc),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dc),
      xy AS (
        SELECT dc.d, date_diff('day', base.d0, dc.d) AS x, dc.c AS y,
               row_number() OVER (ORDER BY dc.d) AS rn
        FROM dc, base),
      seg AS (
        SELECT d, x, y, CASE WHEN rn * 2 <= nn.n THEN 1 ELSE 2 END AS sg
        FROM xy, nn),
      st AS (
        SELECT sg, CAST(count(*) AS BIGINT) AS m,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM seg GROUP BY sg),
      rss AS (
        SELECT sg,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / m)
                 - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m)
                   * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m)
                   / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / m) AS rss
        FROM st),
      pool AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM seg),
      prss AS (
        SELECT (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / m)
                 - (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m)
                   * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / m)
                   / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / m) AS rssp
        FROM pool),
      brk AS (SELECT min(d) AS break_date FROM seg WHERE sg = 2),
      r1 AS (SELECT rss AS rss1 FROM rss WHERE sg = 1),
      r2 AS (SELECT rss AS rss2 FROM rss WHERE sg = 2)
      SELECT nn.n AS n_days, brk.break_date,
             round(((prss.rssp - r1.rss1 - r2.rss2) / 2)
               / ((r1.rss1 + r2.rss2) / (nn.n - 4)), 6) AS chow_f
      FROM nn, brk, r1, r2, prss""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val nn = dc.agg(count(lit(1)).cast("bigint").as("n"))
      val xy = Kit.dayIndex(dc)
        .select(col("d"), col("x"), col("c").as("y"),
          row_number().over(Window.orderBy(col("d"))).as("rn"))
      val seg = xy.crossJoin(broadcast(nn))
        .select(col("d"), col("x"), col("y"),
          when(col("rn") * 2 <= col("n"), 1).otherwise(2).as("sg"))
      def sums(df: org.apache.spark.sql.DataFrame) = Seq(
        count(lit(1)).cast("bigint").as("m"),
        sum(col("x")).cast("bigint").as("sx"),
        sum(col("y")).cast("bigint").as("sy"),
        sum(col("x") * col("y")).cast("bigint").as("sxy"),
        sum(col("x") * col("x")).cast("bigint").as("sxx"),
        sum(col("y") * col("y")).cast("bigint").as("syy"))
      def rssCol = (col("syy").cast("double")
        - col("sy").cast("double") * col("sy") / col("m")) -
        (col("sxy").cast("double") - col("sx").cast("double") * col("sy") / col("m")) *
        (col("sxy").cast("double") - col("sx").cast("double") * col("sy") / col("m")) /
        (col("sxx").cast("double") - col("sx").cast("double") * col("sx") / col("m"))
      val stAgg = sums(seg)
      val st = seg.groupBy(col("sg")).agg(stAgg.head, stAgg.tail: _*)
      val rss = st.select(col("sg"), rssCol.as("rss"))
      val poolAgg = sums(seg)
      val prss = seg.agg(poolAgg.head, poolAgg.tail: _*)
        .select(rssCol.as("rssp"))
      val brk = seg.filter(col("sg") === 2).agg(min(col("d")).as("break_date"))
      val r1 = rss.filter(col("sg") === 1).select(col("rss").as("rss1"))
      val r2 = rss.filter(col("sg") === 2).select(col("rss").as("rss2"))
      // explicit broadcasts: all five sides are 1-row aggregates, but at
      // synth scale the planner's stats lost that and flipped the join to
      // CartesianProduct (caught by ScaleCheck's 10x plan audit)
      nn.crossJoin(broadcast(brk)).crossJoin(broadcast(r1))
        .crossJoin(broadcast(r2)).crossJoin(broadcast(prss))
        .select(col("n").as("n_days"), col("break_date"),
          round(((col("rssp") - col("rss1") - col("rss2")) / 2)
            / ((col("rss1") + col("rss2")) / (col("n") - 4)), 6).as("chow_f"))
    },

    // --------------------- Wilcoxon signed-rank, click vs view by day (p263)
    QueryDef.sql("p263_wilcoxon_signed_rank", """
      WITH g AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS cx,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS BIGINT) AS cy
        FROM events GROUP BY 1),
      dd AS (SELECT cx - cy AS diff FROM g WHERE cx <> cy),
      vc AS (
        SELECT abs(diff) AS v, CAST(count(*) AS BIGINT) AS t,
               CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp
        FROM dd GROUP BY 1),
      w AS (
        SELECT v, t, tp,
               CAST(sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS f
        FROM vc),
      agg AS (
        SELECT CAST(sum(t) AS BIGINT) AS n,
               CAST(sum(tp * (2 * f - t + 1)) AS BIGINT) AS w2p,
               CAST(sum(t * t * t - t) AS BIGINT) AS tie3
        FROM w)
      SELECT n AS n_nonzero,
             round(CAST(w2p AS DOUBLE) / 2, 6) AS w_plus,
             round((CAST(w2p AS DOUBLE) / 2 - CAST(n AS DOUBLE) * (n + 1) / 4)
               / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                 - CAST(tie3 AS DOUBLE) / 48), 6) AS z_stat
      FROM agg"""),

    // --------------------- modified Kneser-Ney discounts (p264)
    QueryDef("p264_kneser_ney_discounts", Some("""
      WITH tok AS (
        SELECT unnest(list_transform(
                 range(1, greatest(len(t) - 1, 0) + 1),
                 i -> array_to_string(t[i:i+1], ' '))) AS b FROM (
          SELECT string_split_regex(lower(text), '\s+') AS t
          FROM documents) d),
      tf AS (SELECT b, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY 1),
      cc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM tf GROUP BY 1),
      n AS (
        SELECT CAST(sum(n_r) AS BIGINT) AS types,
               CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN r = 2 THEN n_r ELSE 0 END) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN r = 3 THEN n_r ELSE 0 END) AS BIGINT) AS n3,
               CAST(sum(CASE WHEN r = 4 THEN n_r ELSE 0 END) AS BIGINT) AS n4
        FROM cc),
      y AS (
        SELECT types, n1, n2, n3, n4,
               CAST(n1 AS DOUBLE) / nullif(n1 + 2 * n2, 0) AS yy
        FROM n)
      SELECT types AS n_bigram_types, n1, n2, n3, n4,
             round(1 - 2 * yy * n2 / nullif(n1, 0), 6) AS d1,
             round(2 - 3 * yy * n3 / nullif(n2, 0), 6) AS d2,
             round(3 - 4 * yy * n4 / nullif(n3, 0), 6) AS d3plus
      FROM y""")) { (s, dir) =>
      // nullif guards: a corpus can legitimately empty a count-of-counts
      // bucket (the 10x salted-replica synth does), and the discount for
      // that bucket is then undefined — NULL on both engines, not an
      // ANSI divide-by-zero error
      val tf = Tables.dfSpread(s, dir, "documents")
        .select(explode(graft.Functions.wordShingles(
          Kit.words(col("text")), 2)).as("b"))
        .groupBy(col("b")).agg(count(lit(1)).cast("bigint").as("r"))
      val cc = tf.groupBy(col("r")).agg(count(lit(1)).cast("bigint").as("n_r"))
      val n = cc.agg(sum(col("n_r")).cast("bigint").as("types"),
        sum(when(col("r") === 1, col("n_r")).otherwise(0L))
          .cast("bigint").as("n1"),
        sum(when(col("r") === 2, col("n_r")).otherwise(0L))
          .cast("bigint").as("n2"),
        sum(when(col("r") === 3, col("n_r")).otherwise(0L))
          .cast("bigint").as("n3"),
        sum(when(col("r") === 4, col("n_r")).otherwise(0L))
          .cast("bigint").as("n4"))
      val y = n.select(col("types"), col("n1"), col("n2"), col("n3"), col("n4"),
        (col("n1").cast("double")
          / nullif(col("n1") + lit(2) * col("n2"), lit(0))).as("yy"))
      y.select(col("types").as("n_bigram_types"),
        col("n1"), col("n2"), col("n3"), col("n4"),
        round(lit(1) - lit(2) * col("yy") * col("n2")
          / nullif(col("n1"), lit(0)), 6).as("d1"),
        round(lit(2) - lit(3) * col("yy") * col("n3")
          / nullif(col("n2"), lit(0)), 6).as("d2"),
        round(lit(3) - lit(4) * col("yy") * col("n4")
          / nullif(col("n3"), lit(0)), 6).as("d3plus"))
    }
  )
}
