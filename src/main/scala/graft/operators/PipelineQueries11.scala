package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 11 — event-stream feature engineering:
  *
  *  - p57 time-grid resampling with forward fill: each user's event series
  *    resampled onto a daily calendar grid, gaps carrying the last
  *    observation forward — the feature-store densification step every
  *    training pipeline runs before windowed feature extraction.
  *  - p58 sequential funnel analysis: ordered view → click → purchase
  *    conversion (each stage's timestamp must follow the previous stage's),
  *    with per-stage reach and latency — the classic product-analytics
  *    query expressed as cascading conditional aggregates.
  *
  * Determinism: timestamps are exact microsecond integers in both engines
  * (the round-8 testdata ships TIMESTAMP(MICROS)); "last observation" uses
  * an arg-max on ts under the generated data's documented (user_id, ts)
  * uniqueness guard (the q91 contract); latency means ride the 1e-9 grid.
  */
object PipelineQueries11 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- time-grid resample + forward fill (p57)

    // Per user: a daily grid spanning that user's first to last event day;
    // each day carries the user's LAST event value of that day, and empty
    // days carry the most recent prior day's value (LOCF). The fill is
    // spelled shuffle-free per user: a running max over days-with-data
    // finds each grid day's donor day, then one (user, day)-keyed join
    // fetches the donor's value — no IGNORE NULLS window dependence, so
    // both engines compute the identical fill.
    //
    // Scale shape: grid explosion is row-local per user (bounded by
    // span/granularity, never event count); the per-(user, day) last-value
    // reduce is one partial-agg shuffle; the fill window orders each
    // user's DAYS (span-bounded, spillable); the donor join is keyed on
    // (user, day) with both sides already day-aggregated — orders of
    // magnitude smaller than the event stream.
    QueryDef("p57_resample_ffill", Some("""
      WITH d AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               arg_max(value, ts) AS vlast
        FROM events GROUP BY user_id, CAST(ts AS DATE)),
      span AS (
        SELECT user_id, min(day) AS dmin, max(day) AS dmax
        FROM d GROUP BY user_id),
      g AS (
        SELECT user_id,
               unnest(list_transform(
                 range(0, CAST(date_diff('day', dmin, dmax) AS BIGINT) + 1),
                 x -> dmin + CAST(x AS INT) * INTERVAL 1 DAY)) AS day
        FROM span),
      f AS (
        SELECT g.user_id, CAST(g.day AS DATE) AS day, d.vlast,
               max(CASE WHEN d.vlast IS NOT NULL THEN CAST(g.day AS DATE) END)
                 OVER (PARTITION BY g.user_id ORDER BY g.day) AS donor
        FROM g LEFT JOIN d ON g.user_id = d.user_id AND CAST(g.day AS DATE) = d.day)
      SELECT f.user_id AS user_id, f.day AS day,
             round(d2.vlast, 6) AS value_ff,
             (f.vlast IS NULL) AS filled
      FROM f JOIN d d2 ON f.user_id = d2.user_id AND f.donor = d2.day
      ORDER BY f.user_id, f.day""")) { (s, dir) =>
      val d = Tables.df(s, dir, "events")
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(max_by(col("value"), col("ts")).as("vlast"))
      val span = d.groupBy(col("user_id"))
        .agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
      val g = span.select(col("user_id"),
        explode(sequence(col("dmin"), col("dmax"), expr("interval 1 day"))).as("day"))
      val byDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val f = g.join(d, Seq("user_id", "day"), "left")
        .withColumn("donor",
          max(when(col("vlast").isNotNull, col("day"))).over(byDay))
      val d2 = d.select(col("user_id"), col("day").as("donor"),
        col("vlast").as("vdonor"))
      f.join(d2, Seq("user_id", "donor"))
        .select(col("user_id"), col("day"),
          round(col("vdonor"), 6).as("value_ff"),
          col("vlast").isNull.as("filled"))
        .orderBy(col("user_id"), col("day"))
    },

    // ------------------------- sequential funnel analysis (p58)

    // Ordered three-stage funnel: first 'view', then the first 'click'
    // AFTER that view, then the first 'purchase' AFTER that click.
    // Cascading conditional minima — a user who purchases before ever
    // viewing does not convert, which is what separates a funnel from
    // three independent counts. Reports per stage: reach, overall
    // conversion, and mean hours from the funnel's start.
    //
    // Scale shape: each stage is one user-keyed partial-agg over the
    // event scan with the PREVIOUS stage's (user, ts) frame joined in —
    // stage frames are user-bounded aggregates, so every join is keyed
    // small-vs-large with no broadcast assumption (users can be billions);
    // the final rollup is 3 rows.
    QueryDef("p58_funnel", Some("""
      WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (
        SELECT e.user_id, min(ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id),
      s3 AS (
        SELECT e.user_id, min(ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id),
      n AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS nu FROM events),
      lat AS (
        SELECT 1 AS stage, 'view' AS label, count(*) AS n_users,
               0.0 AS sum_hours
        FROM s1
        UNION ALL
        SELECT 2, 'click_after_view', count(*),
               CAST(sum(CAST(round(CAST(date_diff('microsecond', s1.t1, s2.t2) AS DOUBLE)
                 / 3600000000.0, 9) AS DECIMAL(38,9))) AS DOUBLE)
        FROM s2 JOIN s1 ON s2.user_id = s1.user_id
        UNION ALL
        SELECT 3, 'purchase_after_click', count(*),
               CAST(sum(CAST(round(CAST(date_diff('microsecond', s1.t1, s3.t3) AS DOUBLE)
                 / 3600000000.0, 9) AS DECIMAL(38,9))) AS DOUBLE)
        FROM s3 JOIN s1 ON s3.user_id = s1.user_id)
      SELECT CAST(stage AS BIGINT) AS stage, label,
             CAST(n_users AS BIGINT) AS n_users,
             round(n_users / nu, 6) AS conv_overall,
             round(CASE WHEN stage = 1 THEN 0.0 ELSE sum_hours / n_users END, 6)
               AS avg_hours_from_start
      FROM lat CROSS JOIN n ORDER BY stage""")) { (s, dir) =>
      val e = Tables.df(s, dir, "events")
      val s1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = e.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      val n = e.agg(countDistinct(col("user_id")).cast("double").as("nu"))
      // session tz is UTC, so the NTZ→TIMESTAMP cast is a lossless µs
      // reinterpretation and unix_micros matches DuckDB's
      // date_diff('microsecond', ...) exactly
      def hours(a: Column, b: Column): Column =
        round((unix_micros(b.cast("timestamp")) - unix_micros(a.cast("timestamp")))
          .cast("double") / 3600000000.0, 9)
      val r1 = s1.agg(count(lit(1)).as("n_users"))
        .select(lit(1).as("stage"), lit("view").as("label"),
          col("n_users"), lit(0.0).as("sum_hours"))
      val r2 = s2.join(s1, Seq("user_id"))
        .agg(count(lit(1)).as("n_users"),
          Kit.dsum(hours(col("t1"), col("t2")), 9).as("sum_hours"))
        .select(lit(2).as("stage"), lit("click_after_view").as("label"),
          col("n_users"), col("sum_hours"))
      val r3 = s3.join(s1, Seq("user_id"))
        .agg(count(lit(1)).as("n_users"),
          Kit.dsum(hours(col("t1"), col("t3")), 9).as("sum_hours"))
        .select(lit(3).as("stage"), lit("purchase_after_click").as("label"),
          col("n_users"), col("sum_hours"))
      r1.unionAll(r2).unionAll(r3)
        .crossJoin(broadcast(n))
        .select(col("stage").cast("long").as("stage"), col("label"),
          col("n_users").cast("long").as("n_users"),
          round(col("n_users") / col("nu"), 6).as("conv_overall"),
          round(when(col("stage") === 1, 0.0)
            .otherwise(col("sum_hours") / col("n_users")), 6).as("avg_hours_from_start"))
        .orderBy(col("stage"))
    }
  )
}
