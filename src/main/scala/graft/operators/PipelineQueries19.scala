package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 19 — corpus-balance concentration metrics and
  * event-cadence distribution:
  *
  *  - p87 source/language concentration: Gini coefficient, HHI, and top-1
  *    share of the token distribution across sources and languages — the
  *    "is the mix dominated by one crawl" diagnostic a data-governance
  *    review reads before training. All three are computed from
  *    integer-exact sums, so the doubles are deterministic.
  *  - p88 inter-event gap quantiles: p50/p90/p99 of the per-user
  *    microsecond gap between consecutive events, per event type of the
  *    later event — the cadence profile that calibrates session-gap
  *    thresholds (p14) and bot screens. The µs domain is effectively
  *    unique per gap, so this exercises ExactPercentile's TWO-PHASE path
  *    (minute-bucket phase A, candidate-bucket phase B), with all three
  *    fractions melted into one scan.
  */
object PipelineQueries19 {

  /** p88 fractions and the phase-A bucket width (1 minute, in seconds). */
  private val Fractions = Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")
  private val BucketS = 60.0

  val defs: Seq[QueryDef] = Seq(

    // -------------- corpus concentration: Gini / HHI / top share (p87)

    // Scale shape: the corpus collapses to one row per (axis, unit) in a
    // single map-side-combined reduce (both axes ride one scan via an
    // explode); ranking runs per-axis over that ≤(sources+langs)-row
    // frame. Every statistic is a ratio of integer-exact DECIMAL sums —
    // rank·count and count² never touch float accumulation, so the
    // result is order-independent by construction.
    QueryDef("p87_source_concentration", Some("""
      WITH tok AS (
        SELECT source, lang, len(string_split_regex(lower(text), '\s+')) AS nt
        FROM documents),
      u AS (
        SELECT 'source' AS axis, source AS unit, sum(nt) AS x FROM tok GROUP BY source
        UNION ALL
        SELECT 'lang' AS axis, lang AS unit, sum(nt) AS x FROM tok GROUP BY lang),
      r AS (
        SELECT axis, unit, x,
               row_number() OVER (PARTITION BY axis ORDER BY x, unit) AS i
        FROM u),
      a AS (
        SELECT axis, count(*) AS n,
               sum(CAST(x AS DECIMAL(38,0))) AS s0,
               sum(CAST(i AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS s1,
               sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
               max(x) AS mx
        FROM r GROUP BY axis)
      SELECT axis, CAST(n AS BIGINT) AS n_units,
             round(2.0 * CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE))
                   - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini,
             round(CAST(sxx AS DOUBLE) / (CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)), 6) AS hhi,
             round(CAST(mx AS DOUBLE) / CAST(s0 AS DOUBLE), 6) AS top1_share
      FROM a ORDER BY axis""")) { (s, dir) =>
      val tok = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), col("lang"), size(Kit.words(col("text"))).cast("long").as("nt"))
      val u = tok
        .select(explode(array(
          struct(lit("source").as("axis"), col("source").as("unit")),
          struct(lit("lang").as("axis"), col("lang").as("unit")))).as("au"),
          col("nt"))
        .groupBy(col("au.axis").as("axis"), col("au.unit").as("unit"))
        .agg(sum(col("nt")).as("x"))
      val r = u.withColumn("i",
        row_number().over(Window.partitionBy(col("axis")).orderBy(col("x"), col("unit"))))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      r.groupBy(col("axis"))
        .agg(count(lit(1)).as("n"), sum(dec(col("x"))).as("s0"),
          sum(dec(col("i")) * dec(col("x"))).as("s1"),
          sum(dec(col("x")) * dec(col("x"))).as("sxx"),
          max(col("x")).as("mx"))
        .select(col("axis"), col("n").as("n_units"),
          round(lit(2.0) * col("s1").cast("double")
            / (col("n").cast("double") * col("s0").cast("double"))
            - (col("n").cast("double") + 1.0) / col("n").cast("double"), 6).as("gini"),
          round(col("sxx").cast("double")
            / (col("s0").cast("double") * col("s0").cast("double")), 6).as("hhi"),
          round(col("mx").cast("double") / col("s0").cast("double"), 6).as("top1_share"))
        .orderBy(col("axis"))
    },

    // ----------------- inter-event gap quantiles (p88)

    // Scale shape: gaps come from ONE user-partitioned sort (the lag
    // window — per-user state only); the three melted fractions share one
    // phase-A minute-bucket histogram (state ∝ distinct minutes, never
    // gaps) and one phase-B candidate re-scan. No group ever buffers its
    // row set.
    // Quantiles are reported in SECONDS, not µs: interpolated quantiles of
    // ~1e11-magnitude µs values carry ~1e-5 double ulps — larger than the
    // 6-decimal rounding grid, so the two engines' (algebraically equal)
    // interpolation spellings would hash-differ. At ~1e5-second magnitude
    // the ulp is ~1e-11 and round(…, 6) absorbs it.
    QueryDef("p88_event_gap_quantiles", Some(s"""
      WITH g AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events),
      gg AS (SELECT event_type, CAST(gap_us AS DOUBLE) / 1000000.0 AS gap_s
             FROM g WHERE gap_us IS NOT NULL)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
             ${Fractions.map { case (f, n) =>
        s"round(quantile_cont(gap_s, $f), 6) AS $n" }.mkString(",\n             ")}
      FROM gg GROUP BY event_type ORDER BY event_type""")) { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
      val lagW = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val us = unix_micros(col("ts").cast("timestamp"))
      val g = ev
        .select(col("event_type"), (us - lag(us, 1).over(lagW)).as("gap_us"))
        .filter(col("gap_us").isNotNull)
      val prepared = g
        .select(col("event_type"),
          (col("gap_us").cast("double") / 1000000.0).as("__v"),
          explode(array(Fractions.map { case (f, n) =>
            struct(lit(n).as("m"), lit(f).as("__p"))
          }: _*)).as("ms"))
        .select(col("event_type"), col("ms.m").as("m"), col("ms.__p").as("__p"),
          col("__v"), floor(col("__v") / BucketS).cast("long").as("__b"))
      val qs = ExactPercentile.refinedDynamic(prepared, Seq("event_type", "m"), "res")
        .groupBy(col("event_type"))
        .agg(Fractions.map { case (_, n) =>
          round(max(when(col("m") === n, col("res"))), 6).as(n)
        }.head, Fractions.map { case (_, n) =>
          round(max(when(col("m") === n, col("res"))), 6).as(n)
        }.tail: _*)
      g.groupBy(col("event_type")).agg(count(lit(1)).as("n_gaps"))
        .join(qs, "event_type")
        .select(col("event_type") +: col("n_gaps") +: Fractions.map(f => col(f._2)): _*)
        .orderBy(col("event_type"))
    }
  )
}
