package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 64 — two-group survival comparison, rank-based
  * scale testing, variance changepoints, rank serial randomness, level
  * stationarity, and internal-consistency reliability:
  *
  *  - p277 log-rank test: does the launch-day signup cohort (signup on
  *    the month's day 1 — the fixture's signup dates decay geometrically
  *    from day 1, so this is the only split with mass on both sides at
  *    every SF) convert to purchase at the same hazard as later signups?
  *    O−E over the event-time frame with the hypergeometric variance at
  *    each distinct time — the TWO-SAMPLE complement of p188's
  *    single-curve KM (same time-to-purchase construction, censoring at
  *    last_seen). The cohort key is day-of-month — identical in both
  *    engines, unlike day-of-week conventions. Per-group at-risk counts come from a
  *    descending cumsum on the (event-time × 2)-bounded grid.
  *    Mantel (1966), Peto & Peto (1972).
  *
  *  - p278 Ansari–Bradley: the rank test for SCALE (dispersion) — scores
  *    min(rank, N+1−rank) assigned from both ends, en vs non-en document
  *    lengths; the dispersion complement of p155's Mann–Whitney
  *    (location) and the rank-based sibling of p224's Brown–Forsythe.
  *    Tie-block score averages and the tie-corrected variance come from
  *    closed-form range sums on the value-domain cumsum — 2·Σscores stays
  *    exact BIGINT throughout. Ansari & Bradley (1960).
  *
  *  - p279 CUSUM of squares: Brown–Durbin–Evans' variance-changepoint
  *    scan — C_t = Σ_{i≤t}e_i²/Σe_i², D = max|C_t − t/n| with the
  *    achieving date; the VARIANCE complement of p150's mean CUSUM and
  *    p246's rank Pettitt (a series can hold its level while its
  *    volatility regime shifts). Brown, Durbin & Evans (1975).
  *
  *  - p280 Bartels rank test: the rank von Neumann ratio
  *    RVN = Σ(R_t−R_{t+1})²/Σ(R_t−R̄)² — serial randomness on RANKS,
  *    robust where p251's parametric Durbin–Watson is outlier-driven;
  *    midranks from the value-domain cumsum joined back to the day frame
  *    (2·midrank exact BIGINT). Bartels (1982).
  *
  *  - p281 KPSS: level-stationarity statistic η = ΣS_t²/(n²σ̂²_lr) with
  *    the Bartlett long-run variance (l = 2) — the STATIONARITY
  *    complement of p256's Hurst (both ask "does the level wander?", KPSS
  *    answers with a unit-root-class test statistic). Kwiatkowski,
  *    Phillips, Schmidt & Shin (1992).
  *
  *  - p282 Cronbach's α: internal consistency of the five event-type
  *    daily-volume "items" — α = k/(k−1)·(1 − Σvar_i/var_total) over the
  *    dense day×type grid; the RELIABILITY summary whose pairwise
  *    decomposition is p270's ICC(1) (Cronbach 1951; α = mean split-half
  *    reliability). Sample (n−1) variances on exact integer sums.
  *
  * Determinism: integer sufficient statistics (doubled where half-integer
  * midranks/scores appear), 9dp rounding before every multi-row float
  * reduce, mirrored left-assoc chains, 6dp outputs, deterministic
  * tie-breaks (min date), ordered results.
  */
object PipelineQueries64 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- two-cohort log-rank test (p277)
    QueryDef("p277_logrank_test", Some("""
      WITH u AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS signup,
               max(ts) AS last_seen
        FROM events GROUP BY user_id),
      pu AS (
        SELECT e.user_id, min(e.ts) AS purchase
        FROM events e JOIN u ON u.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= u.signup
        GROUP BY e.user_id),
      s AS (
        SELECT u.user_id,
               CASE WHEN day(CAST(u.signup AS DATE)) = 1 THEN 1 ELSE 0 END AS grp,
               CASE WHEN purchase IS NOT NULL THEN 1 ELSE 0 END AS event,
               CASE WHEN purchase IS NOT NULL
                    THEN date_diff('day', CAST(signup AS DATE), CAST(purchase AS DATE))
                    ELSE date_diff('day', CAST(signup AS DATE), CAST(last_seen AS DATE))
               END AS t_day
        FROM u LEFT JOIN pu ON pu.user_id = u.user_id
        WHERE signup IS NOT NULL),
      gt AS (
        SELECT t_day, grp, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(event) AS BIGINT) AS d
        FROM s GROUP BY t_day, grp),
      times AS (SELECT DISTINCT t_day FROM gt),
      grid AS (
        SELECT times.t_day, g.grp, coalesce(gt.c, 0) AS c,
               coalesce(gt.d, 0) AS d
        FROM times CROSS JOIN (SELECT unnest([0, 1]) AS grp) g
        LEFT JOIN gt ON gt.t_day = times.t_day AND gt.grp = g.grp),
      risk AS (
        SELECT t_day, grp, d,
               CAST(sum(c) OVER (PARTITION BY grp ORDER BY t_day DESC
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_r
        FROM grid),
      ev AS (
        SELECT r1.t_day, r1.n_r AS n1, r1.d AS d1, r0.n_r AS n0, r0.d AS d0
        FROM (SELECT * FROM risk WHERE grp = 1) r1
        JOIN (SELECT * FROM risk WHERE grp = 0) r0 ON r0.t_day = r1.t_day
        WHERE r1.d + r0.d > 0),
      lr AS (
        SELECT CAST(count(*) AS BIGINT) AS n_times,
               CAST(sum(d1) AS BIGINT) AS o1,
               CAST(sum(CAST(round(CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0), 9)
                 AS DECIMAL(38,9))) AS DOUBLE) AS e1,
               CAST(sum(CASE WHEN n1 + n0 > 1 THEN
                 CAST(round(CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0)
                   * (1 - CAST(n1 AS DOUBLE) / (n1 + n0))
                   * (n1 + n0 - d1 - d0) / (n1 + n0 - 1), 9)
                   AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END)
                 AS DOUBLE) AS v
        FROM ev),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s)
      SELECT nn.n AS n_subjects, lr.n_times AS n_event_times,
             lr.o1 AS observed_1, round(lr.e1, 6) AS expected_1,
             round((lr.o1 - lr.e1) * (lr.o1 - lr.e1) / nullif(lr.v, 0), 6)
               AS logrank_chi2
      FROM lr, nn""")) { (s, dir) =>
      val subj = Kit.survivalSubjects(Tables.df(s, dir, "events"))
        .select(
          when(dayofmonth(col("signup").cast("date")) === 1, 1).otherwise(0)
            .as("grp"),
          col("event"), col("t_day"))
      val gt = subj.groupBy(col("t_day"), col("grp"))
        .agg(count(lit(1)).cast("bigint").as("c"),
          sum(col("event")).cast("bigint").as("d"))
      val times = gt.select(col("t_day")).distinct()
      val grps = s.createDataFrame(Seq(Tuple1(0), Tuple1(1))).toDF("ggrp")
      val grid = times.crossJoin(broadcast(grps))
        .join(gt.select(col("t_day").as("gtd"), col("grp"), col("c"), col("d")),
          col("gtd") === col("t_day") && col("grp") === col("ggrp"), "left")
        .select(col("t_day"), col("ggrp").as("grp"),
          coalesce(col("c"), lit(0L)).as("c"),
          coalesce(col("d"), lit(0L)).as("d"))
      // per-group at-risk via desc cumsum on the bounded event-time grid
      val wr = Window.partitionBy(col("grp")).orderBy(col("t_day").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = grid.select(col("t_day"), col("grp"), col("d"),
        sum(col("c")).over(wr).cast("bigint").as("n_r"))
      val r1 = risk.filter(col("grp") === 1)
        .select(col("t_day"), col("n_r").as("n1"), col("d").as("d1"))
      val r0 = risk.filter(col("grp") === 0)
        .select(col("t_day").as("t0"), col("n_r").as("n0"), col("d").as("d0"))
      val evt = r1.join(r0, col("t0") === col("t_day"))
        .filter(col("d1") + col("d0") > 0)
      def nt = col("n1") + col("n0")
      def dt = col("d1") + col("d0")
      val lr = evt.agg(count(lit(1)).cast("bigint").as("n_times"),
        sum(col("d1")).cast("bigint").as("o1"),
        Kit.rsum(dt.cast("double") * col("n1") / nt, 9).as("e1"),
        sum(when(nt > 1,
          Kit.rdec(dt.cast("double") * col("n1") / nt
            * (lit(1) - col("n1").cast("double") / nt)
            * (nt - dt) / (nt - 1), 9))
          .otherwise(Kit.dec(lit(0), 9))).cast("double").as("v"))
      val nn = subj.agg(count(lit(1)).cast("bigint").as("n"))
      lr.crossJoin(broadcast(nn))
        .select(col("n").as("n_subjects"), col("n_times").as("n_event_times"),
          col("o1").as("observed_1"), round(col("e1"), 6).as("expected_1"),
          round((col("o1") - col("e1")) * (col("o1") - col("e1"))
            / nullif(col("v"), lit(0.0)), 6).as("logrank_chi2"))
    },

    // --------------------- Ansari-Bradley rank scale test (p278)
    QueryDef("p278_ansari_bradley", Some("""
      WITH g AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp, n_chars AS v
        FROM documents),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(grp) AS BIGINT) AS n1 FROM g),
      vc AS (
        SELECT v, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(grp) AS BIGINT) AS c1
        FROM g GROUP BY v),
      w AS (
        SELECT v, c, c1,
               CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS f
        FROM vc),
      -- 2*g(x) = sum_{i<=x} 2*min(i, N+1-i): x(x+1) below the fold h,
      -- 2*h*(h+1)/2 ... closed form via the fold h = (N+1)//2
      sc AS (
        SELECT w.v, w.c, w.c1, w.f, w.f - w.c AS f0, nn.n, nn.n1,
               (nn.n + 1) // 2 AS h
        FROM w, nn),
      sc2 AS (
        SELECT v, c, c1, n, n1,
               (CASE WHEN f <= h THEN f * (f + 1)
                     ELSE h * (h + 1)
                       + (f - h) * (2 * (n + 1) - (f + h + 1)) END)
               - (CASE WHEN f0 <= h THEN f0 * (f0 + 1)
                       ELSE h * (h + 1)
                         + (f0 - h) * (2 * (n + 1) - (f0 + h + 1)) END)
                 AS two_block
        FROM sc),
      st AS (
        SELECT n, n1,
               CAST(sum(CAST(c1 AS DOUBLE) * two_block / (2 * c)) AS DOUBLE)
                 AS w_ab,
               CAST(sum(CAST(two_block AS DOUBLE) / 2) AS DOUBLE) AS ssum,
               CAST(sum(CAST(round((CAST(two_block AS DOUBLE) / (2 * c))
                 * (CAST(two_block AS DOUBLE) / (2 * c)) * c, 9)
                 AS DECIMAL(38,9))) AS DOUBLE) AS ssq
        FROM sc2 GROUP BY n, n1)
      SELECT n1 AS n_en, n - n1 AS n_other,
             round(w_ab, 6) AS ab_w,
             round((w_ab - CAST(n1 AS DOUBLE) * ssum / n)
               / sqrt(CAST(n1 AS DOUBLE) * (n - n1) / (CAST(n AS DOUBLE) * (n - 1))
                 * (n * ssq - ssum * ssum) / n), 6) AS z_stat
      FROM st""")) { (s, dir) =>
      val (nn, w) = Kit.twoGroupFrame(Tables.dfSpread(s, dir, "documents")
        .select((col("lang") === "en").cast("int").as("grp"),
          col("n_chars").as("v")))
      Kit.ansariBradley(nn, w)
        .select(col("n1").as("n_en"), (col("n") - col("n1")).as("n_other"),
          round(col("w_ab"), 6).as("ab_w"), round(col("z_ab"), 6).as("z_stat"))
    },

    // --------------------- CUSUM of squares variance changepoint (p279)
    QueryDef.sql("p279_cusum_squares", """
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      m AS (SELECT CAST(sum(c) AS DOUBLE) / count(*) AS mu,
                   CAST(count(*) AS BIGINT) AS n FROM dc),
      e AS (
        SELECT d, CAST(round((c - m.mu) * (c - m.mu), 9) AS DECIMAL(38,9)) AS e2,
               row_number() OVER (ORDER BY d) AS rn
        FROM dc, m),
      tot AS (SELECT CAST(sum(e2) AS DOUBLE) AS se FROM e),
      cs AS (
        SELECT d, rn,
               CAST(sum(e2) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                 AS DOUBLE) AS ct
        FROM e),
      dev AS (
        SELECT d, abs(cs.ct / tot.se - CAST(cs.rn AS DOUBLE) / m.n) AS dv
        FROM cs, tot, m),
      mx AS (SELECT max(dv) AS dmax FROM dev),
      pk AS (SELECT min(d) AS peak_date FROM dev, mx WHERE dv = dmax)
      SELECT m.n AS n_days, pk.peak_date, round(mx.dmax, 6) AS d_stat
      FROM m, mx, pk"""),

    // --------------------- Bartels rank von Neumann ratio (p280)
    QueryDef.sql("p280_bartels_rank", """
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dc),
      vc AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS t
             FROM dc GROUP BY 1),
      w AS (
        SELECT v, t, CAST(sum(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS f
        FROM vc),
      rk AS (
        SELECT dc.d, 2 * w.f - w.t + 1 AS r2
        FROM dc JOIN w ON dc.c = w.v),
      lg AS (
        SELECT r2, lead(r2) OVER (ORDER BY d) AS r2n
        FROM rk),
      num AS (
        SELECT CAST(sum((r2 - r2n) * (r2 - r2n)) AS BIGINT) AS sn
        FROM lg WHERE r2n IS NOT NULL),
      den AS (
        SELECT CAST(sum((r2 - nn.n - 1) * (r2 - nn.n - 1)) AS BIGINT) AS sd
        FROM rk, nn),
      rvn AS (
        SELECT CAST(num.sn AS DOUBLE) / den.sd AS rvn FROM num, den)
      SELECT nn.n AS n_days, round(rvn.rvn, 6) AS rvn,
             round((rvn.rvn - 2) / sqrt(CAST(4.0 AS DOUBLE) * (nn.n - 2)
               * (5 * nn.n * nn.n - 2 * nn.n - 9)
               / (CAST(5.0 AS DOUBLE) * nn.n * (nn.n + 1)
                 * (nn.n - 1) * (nn.n - 1))), 6) AS z_stat
      FROM rvn, nn"""),

    // --------------------- KPSS level stationarity (p281)
    QueryDef("p281_kpss_stationarity", Some("""
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      m AS (SELECT CAST(sum(c) AS DOUBLE) / count(*) AS mu,
                   CAST(count(*) AS BIGINT) AS n FROM dc),
      e AS (
        SELECT d, CAST(round(c - m.mu, 9) AS DECIMAL(38,9)) AS e,
               row_number() OVER (ORDER BY d) AS rn
        FROM dc, m),
      cs AS (
        SELECT d,
               CAST(sum(e) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                 AS DOUBLE) AS st
        FROM e),
      s2 AS (
        SELECT CAST(sum(CAST(round(st * st, 9) AS DECIMAL(38,9))) AS DOUBLE)
          AS ss
        FROM cs),
      lags AS (
        SELECT a.e AS e0, b.e AS e1, a.rn - b.rn AS lag
        FROM e a JOIN e b ON a.rn - b.rn IN (1, 2)),
      gam AS (
        SELECT lag,
               CAST(sum(CAST(round(CAST(e0 AS DOUBLE) * CAST(e1 AS DOUBLE), 9)
                 AS DECIMAL(38,9))) AS DOUBLE) AS g
        FROM lags GROUP BY lag),
      g0 AS (
        SELECT CAST(sum(CAST(round(CAST(e AS DOUBLE) * CAST(e AS DOUBLE), 9)
          AS DECIMAL(38,9))) AS DOUBLE) AS g
        FROM e),
      lrv AS (
        SELECT (g0.g
          + 2 * (CAST(2.0 AS DOUBLE) / 3)
            * (SELECT g FROM gam WHERE lag = 1)
          + 2 * (CAST(1.0 AS DOUBLE) / 3)
            * (SELECT g FROM gam WHERE lag = 2)) / m.n AS v
        FROM g0, m)
      SELECT m.n AS n_days,
             round(lrv.v, 6) AS long_run_var,
             round(s2.ss / (CAST(m.n AS DOUBLE) * m.n * lrv.v), 6) AS kpss_eta
      FROM s2, lrv, m""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val m = dc.agg((sum(col("c")).cast("double") / count(lit(1))).as("mu"),
        count(lit(1)).cast("bigint").as("n"))
      val e = dc.crossJoin(broadcast(m))
        .select(col("d"), Kit.rdec(col("c") - col("mu"), 9).as("e"),
          row_number().over(Window.orderBy(col("d"))).as("rn"))
      val wd = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cs = e.select(col("d"), sum(col("e")).over(wd).cast("double").as("st"))
      val s2 = cs.agg(Kit.rsum(col("st") * col("st"), 9).as("ss"))
      // r18 OPTIMIZATION (guide §3.1): `rn - brn IN (1, 2)` is a non-equi
      // predicate, so the planner emitted a CartesianProduct over the day
      // frame (caught by the regenerated PLANS.md row — the only CARTESIAN
      // in the 433-row audit). Exploding each row's two target positions
      // turns it into an equi-join on rn: identical pair set (rn − brn ∈
      // {1,2}), hash join instead of |days|² comparisons. Results
      // re-verified vs DuckDB at sf0.001/sf0.01.
      val b = e.select(col("e").as("e1"), col("rn").as("brn"),
        explode(array(col("rn") + 1, col("rn") + 2)).as("arn"))
      val lags = e.join(b, col("rn") === col("arn"))
        .select(col("e").as("e0"), col("e1"), (col("rn") - col("brn")).as("lag"))
      val gam = lags.groupBy(col("lag"))
        .agg(Kit.rsum(col("e0").cast("double") * col("e1").cast("double"), 9).as("g"))
      val g0 = e.agg(Kit.rsum(col("e").cast("double") * col("e").cast("double"), 9).as("g"))
      // broadcast hints: g1/g2 are 1-row by construction (one aggregate row
      // per lag), but the planner's estimate after filter is unknown and it
      // chose CartesianProduct (PLANS.md flag) — hint the tiny sides
      val g1 = broadcast(gam.filter(col("lag") === 1).select(col("g").as("gl1")))
      val g2 = broadcast(gam.filter(col("lag") === 2).select(col("g").as("gl2")))
      val lrv = g0.crossJoin(g1).crossJoin(g2).crossJoin(broadcast(m))
        .select(((col("g") + lit(2) * (lit(2.0) / 3) * col("gl1")
          + lit(2) * (lit(1.0) / 3) * col("gl2")) / col("n")).as("v"))
      s2.crossJoin(lrv).crossJoin(broadcast(m))
        .select(col("n").as("n_days"), round(col("v"), 6).as("long_run_var"),
          round(col("ss") / (col("n").cast("double") * col("n") * col("v")), 6)
            .as("kpss_eta"))
    },

    // --------------------- Cronbach's alpha over event types (p282)
    QueryDef("p282_cronbach_alpha", Some("""
      WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
      types AS (SELECT DISTINCT event_type AS et FROM events),
      raw AS (
        SELECT CAST(ts AS DATE) AS d, event_type AS et,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      grid AS (
        SELECT days.d, types.et, coalesce(raw.c, 0) AS c
        FROM days CROSS JOIN types
        LEFT JOIN raw ON raw.d = days.d AND raw.et = types.et),
      iv AS (
        SELECT et, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
        FROM grid GROUP BY et),
      ivar AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(CAST(round((CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1), 9)
                 AS DECIMAL(38,9))) AS DOUBLE) AS sv
        FROM iv),
      tv AS (
        SELECT d, CAST(sum(c) AS BIGINT) AS tc FROM grid GROUP BY d),
      tvar AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               (CAST(sum(tc * tc) AS DOUBLE)
                 - CAST(sum(tc) AS DOUBLE) * sum(tc) / count(*))
                 / (count(*) - 1) AS vt
        FROM tv)
      SELECT tvar.n AS n_days, ivar.k AS k_types,
             round(ivar.sv, 6) AS sum_item_var,
             round(tvar.vt, 6) AS total_var,
             round(CAST(ivar.k AS DOUBLE) / (ivar.k - 1)
               * (1 - ivar.sv / tvar.vt), 6) AS cronbach_alpha
      FROM ivar, tvar""")) { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
      val grid = Kit.dayTypeGrid(ev)
      val iv = grid.groupBy(col("et"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("c")).cast("bigint").as("s1"),
          sum(col("c") * col("c")).cast("bigint").as("s2"))
      val ivar = iv.agg(count(lit(1)).cast("bigint").as("k"),
        Kit.rsum((col("s2").cast("double")
          - col("s1").cast("double") * col("s1") / col("n")) / (col("n") - 1), 9).as("sv"))
      val tv = grid.groupBy(col("d")).agg(sum(col("c")).cast("bigint").as("tc"))
      val tvar = tv.agg(count(lit(1)).cast("bigint").as("n"),
        ((sum(col("tc") * col("tc")).cast("double")
          - sum(col("tc")).cast("double") * sum(col("tc")) / count(lit(1)))
          / (count(lit(1)) - 1)).as("vt"))
      ivar.crossJoin(tvar)
        .select(col("n").as("n_days"), col("k").as("k_types"),
          round(col("sv"), 6).as("sum_item_var"),
          round(col("vt"), 6).as("total_var"),
          round(col("k").cast("double") / (col("k") - 1)
            * (lit(1) - col("sv") / col("vt")), 6).as("cronbach_alpha"))
    }
  )
}
