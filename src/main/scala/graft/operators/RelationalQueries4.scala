package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Relational coverage batch 4 — reshaping, temporal window frames, and
  * iterative queries:
  *
  *  - q94 UNPIVOT: wide→long reshaping (the inverse of q36's PIVOT),
  *    Spark's native `Dataset.unpivot` vs DuckDB's standard UNPIVOT clause.
  *  - q95 time-range window frame: a per-user rolling 1-hour event window
  *    via RANGE BETWEEN on the event-time axis — the frame kind the
  *    reference's windowing cannot express and ClickHouse-style funnels
  *    lean on.
  *  - q96 recursive CTE: WITH RECURSIVE (Spark 4's iterative CTE) walking
  *    a functional graph over the nation table — the relational spelling
  *    of the iterate-to-fixpoint pattern ConnectedComponents implements
  *    imperatively.
  */
object RelationalQueries4 {

  val defs: Seq[QueryDef] = Seq(

    // ----------------------------- UNPIVOT (q94)

    // Wide→long is a zero-shuffle map operation in both engines; the
    // measures are cast to a common DOUBLE before unpivoting (UNPIVOT
    // requires one value type, and the two source columns differ).
    QueryDef("q94_unpivot", Some("""
      SELECT p_partkey, measure, val
      FROM (SELECT p_partkey,
                   CAST(p_size AS DOUBLE) AS size,
                   CAST(p_retailprice AS DOUBLE) AS retailprice
            FROM part) w
      UNPIVOT (val FOR measure IN (size, retailprice))
      ORDER BY p_partkey, measure""")) { (s, dir) =>
      Tables.df(s, dir, "part")
        .select(col("p_partkey"),
          col("p_size").cast("double").as("size"),
          col("p_retailprice").cast("double").as("retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("size"), col("retailprice")), "measure", "val")
        .orderBy(col("p_partkey"), col("measure"))
    },

    // ------------------- time-range window frame (q95)

    // RANGE BETWEEN INTERVAL 1 HOUR PRECEDING on the event-time axis, at
    // the file's µs precision on both engines — same inclusive lower
    // bound, same peer-row semantics on ts ties. Scale shape: one
    // hash partition by user_id, per-partition sort, bounded frame state;
    // per-event values are rounded to DECIMAL before the frame sum so the
    // rolling total is order-independent.
    QueryDef.sql("q95_window_time_range", """
      SELECT event_id,
             CAST(count(*) OVER w AS BIGINT) AS n_1h,
             CAST(sum(CAST(round(value, 2) AS DECIMAL(38,2))) OVER w AS DOUBLE) AS sum_1h
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""),

    // ------------------------ recursive CTE (q96)

    // An iterative walk of the functional graph succ(n) = (2n+1) mod 25
    // over nation, starting at key 0, depth-capped at 30: each iteration's
    // frontier joins back to the base table, so the recursion exercises
    // real scans, not just constant folding. The post-aggregation reports
    // when each nation is first reached and how often the 30-step walk
    // visits it (the walk enters a cycle, so revisit counts are the
    // interesting part). Spark 4 executes WITH RECURSIVE as an iterative
    // union of bounded frontiers — each step is one small join, state is
    // the frontier, never the accumulated path set.
    QueryDef("q96_recursive_cte", Some("""
      WITH RECURSIVE walk(nk, depth) AS (
        SELECT CAST(0 AS BIGINT) AS nk, 0 AS depth
        UNION ALL
        SELECT CAST(n.n_nationkey AS BIGINT), w.depth + 1
        FROM walk w JOIN nation n ON n.n_nationkey = (2 * w.nk + 1) % 25
        WHERE w.depth < 30)
      SELECT nk AS n_nationkey,
             CAST(min(depth) AS INTEGER) AS first_depth,
             CAST(count(*) AS BIGINT) AS n_visits
      FROM walk GROUP BY nk ORDER BY n_nationkey""")) { (s, dir) =>
      // frontier-bounded recursion (≤25 rows at any scale) → the driver-
      // paced strategy: one short job per iteration instead of native
      // UnionLoop's ~5 (q96 was 154 sequential jobs of pure scheduling
      // floor). Native WITH RECURSIVE stays spec-pinned in RecursionSpec.
      // the walked dimension is materialized once — 31 step jobs re-reading
      // the same 25-row parquet is pure I/O floor
      val nation = Tables.df(s, dir, "nation").localCheckpoint()
      val base = s.range(1).select(
        lit(0L).as("nk"), lit(0).as("depth"))
      val walk = Recursion.unionAll(base, frontier =>
        frontier.filter(col("depth") < 30)
          .join(nation, col("n_nationkey") === (lit(2) * col("nk") + 1) % 25)
          .select(col("n_nationkey").cast("long").as("nk"),
            (col("depth") + 1).as("depth")),
        maxIter = 30)
      walk.groupBy(col("nk").as("n_nationkey"))
        .agg(min(col("depth")).cast("int").as("first_depth"),
          count(lit(1)).as("n_visits"))
        .orderBy(col("n_nationkey"))
    },

    // ------------------ predicate range compaction (q97)

    // Exercises plans/PredicateCompaction.scala end-to-end (the reference's
    // predicate_compaction.py strategy as a custom Rule[LogicalPlan]): the
    // first branch carries four overlapping bounds that compact to the
    // (30, 47] range before parquet pushdown; the second branch is a range
    // CONTRADICTION (> 40 AND < 10) that plans as an empty LocalRelation —
    // zero scan tasks, the NullReaderNode path. PredicateCompactionSpec
    // asserts both plan shapes; this gate entry pins the semantics.
    QueryDef("q97_range_compaction", Some("""
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_quantity > 30 AND l_quantity > 25
                AND l_quantity <= 47 AND l_quantity < 49) AS n_band,
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem
              WHERE l_quantity > 40 AND l_quantity < 10) AS n_contra""")) { (s, dir) =>
      val li = Tables.df(s, dir, "lineitem")
      val band = li.filter(col("l_quantity") > 30 && col("l_quantity") > 25
        && col("l_quantity") <= 47 && col("l_quantity") < 49)
        .agg(count(lit(1)).as("n_band"))
      val contra = li.filter(col("l_quantity") > 40 && col("l_quantity") < 10)
        .agg(count(lit(1)).as("n_contra"))
      band.crossJoin(contra)
    },

    // -------------------- multi-aggregate PIVOT (q98)

    // The NATIVE pivot operator (RelationalGroupedDataset.pivot with an
    // explicit value list — q36 covers the conditional-aggregation
    // spelling) carrying TWO aggregates per pivot value; Spark plans this
    // as one pass with 2×|values| partial aggregates, identical shape to
    // the hand-written form. Explicit values keep the plan static — the
    // values-discovery variant runs a driver-side distinct first, which is
    // an extra scan a 100-TB pipeline should not pay silently.
    QueryDef("q98_pivot_multi_agg", Some("""
      SELECT c_nationkey,
             CAST(count(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS BIGINT) AS building_n,
             CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'
                           THEN CAST(round(c_acctbal, 2) AS DECIMAL(38,2)) END) AS DOUBLE) AS building_bal,
             CAST(count(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS BIGINT) AS machinery_n,
             CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY'
                           THEN CAST(round(c_acctbal, 2) AS DECIMAL(38,2)) END) AS DOUBLE) AS machinery_bal
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")) { (s, dir) =>
      Tables.df(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .pivot("c_mktsegment", Seq("BUILDING", "MACHINERY"))
        .agg(count(lit(1)).as("n"),
          Kit.rsum(col("c_acctbal"), 2).as("bal"))
        .select(col("c_nationkey"),
          // an empty pivot cell is NULL under PivotFirst, while the
          // conditional-agg oracle counts it as 0 — align the count cells
          coalesce(col("BUILDING_n"), lit(0L)).as("building_n"),
          col("BUILDING_bal").as("building_bal"),
          coalesce(col("MACHINERY_n"), lit(0L)).as("machinery_n"),
          col("MACHINERY_bal").as("machinery_bal"))
        .orderBy(col("c_nationkey"))
    },

    // ------------------- batch session windows (q99)

    // Spark's NATIVE session_window in a batch aggregation (the streaming
    // twins already use it; p14 covers the manual lag-and-island
    // spelling). The oracle is the island computation with a `>=` gap
    // rule, because session_window's end bound is EXCLUSIVE: an event
    // landing exactly at last_ts + gap starts a new session. One
    // user-keyed shuffle; Spark merges sessions with per-group sorted
    // state, never buffering beyond a user's rows.
    QueryDef("q99_session_window", Some("""
      WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS ns
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts,
               sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id, min(ts) AS session_start,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, sid
      ORDER BY user_id, session_start""")) { (s, dir) =>
      Tables.df(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // ------------------- rank-family windows (q100)

    // rank/dense_rank/percent_rank/cume_dist over a TIE-HEAVY ordering
    // (market segment — ~5 distinct values per nation partition), where
    // the four functions' tie semantics actually differ from row_number
    // and from each other; ntile rides a fully-ordered window because its
    // assignment is positional (nondeterministic under ties). One hash
    // partition by nation, per-partition sort — standard window shape.
    QueryDef.sql("q100_rank_family", """
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(rank() OVER wt AS BIGINT) AS rk,
             CAST(dense_rank() OVER wt AS BIGINT) AS drk,
             round(percent_rank() OVER wt, 6) AS prk,
             round(cume_dist() OVER wt, 6) AS cd,
             CAST(ntile(4) OVER wo AS INTEGER) AS quartile
      FROM customer
      WINDOW wt AS (PARTITION BY c_nationkey ORDER BY c_mktsegment),
             wo AS (PARTITION BY c_nationkey ORDER BY c_mktsegment, c_custkey)
      ORDER BY c_custkey"""),

    // --------------- IGNORE NULLS / defaulted offsets (q101)

    // Last-observation-carried-forward over a null-bearing measure via
    // `last_value(... IGNORE NULLS)` with a running ROWS frame (the
    // gap-fill spelling p57's resample avoids by construction — here the
    // operator itself is under test), plus a defaulted 2-back lag. Rows
    // before any observation stay NULL in both engines; the total
    // (ts, event_id) order makes every fill deterministic.
    QueryDef("q101_ignore_nulls_window", Some("""
      WITH v AS (
        SELECT event_id, user_id, ts,
               CASE WHEN event_type = 'error' THEN NULL
                    ELSE round(value, 2) END AS v
        FROM events)
      SELECT event_id,
             round(last_value(v IGNORE NULLS) OVER w, 2) AS locf,
             round(lag(v, 2, -1.0) OVER
               (PARTITION BY user_id ORDER BY ts, event_id), 2) AS lag2
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY event_id""")) { (s, dir) =>
      val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val w = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.df(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("event_type") === "error", lit(null))
            .otherwise(round(col("value"), 2)).as("v"))
        .select(col("event_id"),
          round(last(col("v"), ignoreNulls = true).over(w), 2).as("locf"),
          round(lag(col("v"), 2, -1.0).over(ord), 2).as("lag2"))
        .orderBy(col("event_id"))
    }
  )
}
