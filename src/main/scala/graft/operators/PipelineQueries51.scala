package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 51 — estimator sensitivity, sequential testing,
  * temporal structure, sampling design, and corpus novelty:
  *
  *  - p199 jackknife source influence: leave-one-source-out shift of the
  *    corpus mean doc length, computed in closed form from per-source
  *    sufficient sums ((S−s_g)/(N−n_g) — no recomputation pass). The
  *    sensitivity audit that finds the one domain dragging a corpus
  *    statistic before it poisons a threshold.
  *
  *  - p200 SPRT sequential test: Wald's sequential probability-ratio test
  *    on the daily purchase share (H0 p=0.18 vs H1 p=0.22, α=β=0.05). The
  *    log-likelihood increments use 9dp-precomputed ln constants (never
  *    runtime libm in a summed term); the cumulative walk runs over the
  *    per-DAY frame (date-span-bounded, the p150 class). Reports the
  *    first boundary-crossing day and the decision.
  *
  *  - p201 daily autocorrelation: ACF of the daily event-count series at
  *    lags 1–7 (observed-day ordering), the pre-forecasting structure
  *    check. Lag windows run over the bounded day frame.
  *
  *  - p202 stratified design effect: DEFF = Σ W_g·s_g² / S² — the variance
  *    of a proportionally-stratified mean relative to SRS, from per-source
  *    sufficient sums. The sampling-design input that says whether
  *    stratifying by source buys anything.
  *
  *  - p203 day-of-week seasonality: ISO-dow profile of event volume plus
  *    seasonal strength 1 − Var(residual)/Var(daily) where residuals
  *    remove dow means — computed on the bounded day frame. ISO dow is
  *    spelled weekday()+1 / isodow() so both engines agree (their native
  *    dayofweek() enumerations differ).
  *
  *  - p204 calendar completeness: the observed date span expanded to a
  *    full calendar (bounded day frame), rolled to per-month expected vs
  *    observed day counts and row volume — the ingest audit that finds
  *    MISSING days/partitions, complementing p88/p166 (real inter-event
  *    gaps) and p148 (late arrivals). A first draft of this slot (n-gram
  *    novelty per source) was dropped pre-verification as a duplicate of
  *    p120's per-doc novelty profile.
  *
  * Determinism: integer/DECIMAL sufficient sums, 9dp-rounded terms before
  * summation, literal ln constants, bounded-frame windows only, ordered
  * outputs, 6dp-rounded ratios.
  */
object PipelineQueries51 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- jackknife source influence (p199)
    QueryDef.sql("p199_jackknife_influence", """
      WITH g AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS sx
        FROM documents GROUP BY source),
      tot AS (SELECT sum(n) AS nn, sum(sx) AS ss FROM g)
      SELECT g.source, g.n,
             round(CAST(g.sx AS DOUBLE) / g.n, 6) AS mean_g,
             round(CAST(tot.ss - g.sx AS DOUBLE) / (tot.nn - g.n), 6)
               AS mean_without,
             round(CAST(tot.ss - g.sx AS DOUBLE) / (tot.nn - g.n)
               - CAST(tot.ss AS DOUBLE) / tot.nn, 6) AS influence
      FROM g, tot ORDER BY g.source"""),

    // --------------------- SPRT sequential test (p200)
    // ln(p1/p0) = ln(0.22/0.18) and ln((1-p1)/(1-p0)) = ln(0.78/0.82),
    // 9dp-precomputed; boundaries ±ln((1-β)/α) = ±ln(19) at α=β=0.05.
    QueryDef.sql("p200_sprt_sequential", """
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS k
        FROM events GROUP BY 1),
      walk AS (
        SELECT d,
               sum(CAST(round(k * 0.200670695 + (n - k) * (-0.050010421), 9)
                 AS DECIMAL(38,9))) OVER (ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS llr
        FROM daily),
      crossed AS (
        SELECT d, CAST(llr AS DOUBLE) AS llr FROM walk
        WHERE abs(CAST(llr AS DOUBLE)) > 2.944438979),
      first_x AS (SELECT min(d) AS xd FROM crossed)
      SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
             round((SELECT CAST(max_by(llr, d) AS DOUBLE) FROM walk), 6)
               AS final_llr,
             coalesce(CAST((SELECT xd FROM first_x) AS VARCHAR), '(none)')
               AS first_cross_day,
             CASE
               WHEN (SELECT xd FROM first_x) IS NULL THEN 'continue'
               WHEN (SELECT llr FROM crossed, first_x WHERE d = xd) > 0
                 THEN 'accept_h1'
               ELSE 'accept_h0' END AS decision"""),

    // --------------------- daily autocorrelation (p201)
    QueryDef("p201_daily_autocorrelation", Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      m AS (SELECT CAST(sum(c) AS DOUBLE) / count(*) AS mu FROM daily),
      rn AS (
        SELECT c, row_number() OVER (ORDER BY d) AS r FROM daily),
      pairs AS (
        SELECT l.lag, a.c AS c, b.c AS cp
        FROM rn a, (SELECT unnest(range(1, 8)) AS lag) l
        JOIN rn b ON a.r = b.r + l.lag),
      acf AS (
        SELECT lag,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CAST(round((c - (SELECT mu FROM m))
                 * (cp - (SELECT mu FROM m)), 9) AS DECIMAL(38,9)))
                 AS DOUBLE) AS num
        FROM pairs GROUP BY lag),
      den AS (
        SELECT CAST(sum(CAST(round((c - (SELECT mu FROM m))
          * (c - (SELECT mu FROM m)), 9) AS DECIMAL(38,9))) AS DOUBLE) AS ss
        FROM daily)
      SELECT CAST(acf.lag AS BIGINT) AS lag, acf.n_pairs,
             round(acf.num / den.ss, 6) AS acf
      FROM acf, den ORDER BY lag""")) { (s, dir) =>
      val daily = Kit.dayCounts(Tables.df(s, dir, "events"))
      Kit.lagPairs(daily, 7)
        .select(col("lag"), col("n_pairs"),
          round(col("num") / col("ss"), 6).as("acf"))
        .orderBy(col("lag"))
    },

    // --------------------- stratified design effect (p202)
    QueryDef.sql("p202_design_effect", """
      WITH g AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS sx,
               CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
        FROM documents GROUP BY source),
      tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn, sum(sx) AS ss, sum(sxx) AS sss
        FROM g),
      parts AS (
        SELECT tot.nn,
               (CAST(tot.sss AS DOUBLE) - CAST(tot.ss AS DOUBLE) * tot.ss / tot.nn)
                 / (tot.nn - 1) AS var_total,
               sum((CAST(g.n AS DOUBLE) / tot.nn)
                 * ((CAST(g.sxx AS DOUBLE) - CAST(g.sx AS DOUBLE) * g.sx / g.n)
                    / (g.n - 1))) AS within_v
        FROM g, tot GROUP BY tot.nn, tot.sss, tot.ss)
      SELECT nn AS n_docs,
             round(var_total, 6) AS var_total,
             round(within_v, 6) AS within_var,
             round(within_v / var_total, 6) AS deff,
             round(1 - within_v / var_total, 6) AS variance_reduction
      FROM parts"""),

    // --------------------- day-of-week seasonality (p203)
    QueryDef("p203_dow_seasonality", Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, isodow(CAST(ts AS DATE)) AS dow,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      m AS (SELECT CAST(sum(c) AS DOUBLE) / count(*) AS mu FROM daily),
      dm AS (
        SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(c) AS BIGINT) AS total,
               CAST(sum(c) AS DOUBLE) / count(*) AS mean_daily
        FROM daily GROUP BY dow),
      res AS (
        SELECT CAST(sum(CAST(round((daily.c - (SELECT mu FROM m))
                 * (daily.c - (SELECT mu FROM m)), 9) AS DECIMAL(38,9)))
                 AS DOUBLE) AS sst,
               CAST(sum(CAST(round((daily.c - dm.mean_daily)
                 * (daily.c - dm.mean_daily), 9) AS DECIMAL(38,9)))
                 AS DOUBLE) AS ssr
        FROM daily JOIN dm ON daily.dow = dm.dow),
      tot AS (SELECT sum(total) AS g FROM dm)
      SELECT dm.dow, dm.n_days, dm.total,
             round(CAST(dm.total AS DOUBLE) / tot.g, 6) AS share,
             round(dm.mean_daily, 6) AS mean_daily,
             round(1 - res.ssr / res.sst, 6) AS seasonal_strength
      FROM dm, tot, res ORDER BY dm.dow""")) { (s, dir) =>
      val daily = Kit.dayCounts(Tables.df(s, dir, "events"))
        // ISO dow (1 = Monday … 7): weekday() is 0 = Monday on Spark,
        // isodow() is 1 = Monday on DuckDB — native dayofweek() differs
        .withColumn("dow", expr("weekday(d)").cast("bigint") + 1)
      val m = daily.agg((sum(col("c")).cast("double") / count(lit(1))).as("mu"))
      val dm = daily.groupBy(col("dow")).agg(
        count(lit(1)).as("n_days"), sum(col("c")).as("total"),
        (sum(col("c")).cast("double") / count(lit(1))).as("mean_daily"))
      val res = daily.join(broadcast(dm.select(col("dow"), col("mean_daily"))), "dow")
        .crossJoin(broadcast(m))
        .agg(
          Kit.rsum((col("c") - col("mu")) * (col("c") - col("mu")), 9).as("sst"),
          Kit.rsum((col("c") - col("mean_daily")) * (col("c") - col("mean_daily")), 9).as("ssr"))
      val tot = dm.agg(sum(col("total")).as("g"))
      dm.crossJoin(broadcast(tot)).crossJoin(broadcast(res))
        .select(col("dow"), col("n_days"), col("total"),
          round(col("total").cast("double") / col("g"), 6).as("share"),
          round(col("mean_daily"), 6).as("mean_daily"),
          round(lit(1.0) - col("ssr") / col("sst"), 6).as("seasonal_strength"))
        .orderBy(col("dow"))
    },

    // --------------------- calendar completeness audit (p204)
    QueryDef("p204_calendar_completeness", Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      span AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
      cal AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
        FROM span),
      expect AS (
        SELECT date_trunc('month', d)::DATE AS month,
               CAST(count(*) AS BIGINT) AS days_expected
        FROM cal GROUP BY 1),
      obs AS (
        SELECT date_trunc('month', d)::DATE AS month,
               CAST(count(*) AS BIGINT) AS days_observed,
               CAST(sum(c) AS BIGINT) AS n_rows
        FROM daily GROUP BY 1)
      SELECT e.month, e.days_expected,
             coalesce(o.days_observed, 0) AS days_observed,
             round(CAST(coalesce(o.days_observed, 0) AS DOUBLE)
               / e.days_expected, 6) AS completeness,
             coalesce(o.n_rows, 0) AS n_rows
      FROM expect e LEFT JOIN obs o ON e.month = o.month
      ORDER BY e.month""")) { (s, dir) =>
      val daily = Kit.dayCounts(Tables.df(s, dir, "events"))
      val span = daily.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
      // the calendar frame is the observed date span — bounded at any
      // corpus size; an ingest-completeness audit distinct from p88/p166
      // (real inter-event gaps) and p148 (late arrivals): it finds days
      // and partitions that are MISSING entirely
      val cal = span.select(
        explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 DAY"))).as("d"))
      val expect = cal.groupBy(trunc(col("d"), "month").as("month"))
        .agg(count(lit(1)).as("days_expected"))
      val obs = daily.groupBy(trunc(col("d"), "month").as("month"))
        .agg(count(lit(1)).as("days_observed"), sum(col("c")).as("n_rows"))
      expect.join(obs, Seq("month"), "left")
        .select(col("month"), col("days_expected"),
          coalesce(col("days_observed"), lit(0L)).as("days_observed"),
          round(coalesce(col("days_observed"), lit(0L)).cast("double") /
            col("days_expected"), 6).as("completeness"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"))
        .orderBy(col("month"))
    })
}
