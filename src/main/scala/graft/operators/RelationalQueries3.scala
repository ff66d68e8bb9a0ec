package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}

/** Gate-query batch 3: capabilities that round 1 proved only in ScalaTest or
  * the run-only battery, promoted to the DuckDB-oracle gate. Output-type
  * contracts follow the round-1 lessons: BIGINT for counts/bit-aggs on both
  * sides, DOUBLE casts over decimal-exact sums, rounding on FP window
  * frames, strings for list-valued aggregates.
  */
object RelationalQueries3 {

  val defs: Seq[QueryDef] = Seq(

    // NullReaderNode at the gate: a contradiction collapses the scan to an
    // empty relation (Catalyst PropagateEmptyRelation), and a global
    // aggregate over it still yields its one row
    // (reference: opteryx null_reader_node — contradiction → empty page).
    QueryDef.sql("q72_contradiction_empty", """
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(l_extendedprice) AS DOUBLE) AS s
      FROM lineitem WHERE 1 = 0"""),

    // Aggregate FILTER clause (ANSI; beyond the reference's aggregate
    // registry) — per-group conditional counts without self-joins.
    QueryDef.sql("q73_filter_clause", """
      SELECT l_returnflag,
             CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS hi,
             CAST(count(*) FILTER (WHERE l_quantity <= 25) AS BIGINT) AS lo
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // INTERSECT ALL — multiset semantics (duplicates preserved), one shuffle
    // on the compared columns.
    QueryDef("q74_intersect_all", Some("""
      SELECT k FROM (
        SELECT CAST(n_regionkey AS BIGINT) AS k FROM nation
        INTERSECT ALL
        SELECT CAST(r_regionkey AS BIGINT) AS k FROM region
      ) t ORDER BY k""")) { (s, dir) =>
      Tables.df(s, dir, "nation").select(col("n_regionkey").cast("bigint").as("k"))
        .intersectAll(
          Tables.df(s, dir, "region").select(col("r_regionkey").cast("bigint").as("k")))
        .orderBy(col("k"))
    },

    // EXCEPT ALL — multiset difference.
    QueryDef.sql("q75_except_all", """
      SELECT k FROM (
        SELECT CAST(n_regionkey AS BIGINT) AS k FROM nation
        EXCEPT ALL
        SELECT CAST(n_regionkey AS BIGINT) AS k FROM nation WHERE n_nationkey < 5
      ) t ORDER BY k"""),

    // Exact MEDIAN per group — both engines compute the exact middle value
    // over doubles (reference APPROXIMATE_MEDIAN is the sketch variant,
    // covered in q41; this is the exact tier).
    QueryDef("q76_median", Some("""
      SELECT l_returnflag,
             CAST(median(l_quantity) AS DOUBLE) AS med,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, dir) =>
      // Exact median without Spark's `median` group buffer — see
      // [[ExactPercentile]]: histogram state is bounded by l_quantity's tiny
      // integral domain instead of the group's row count.
      val li = Tables.df(s, dir, "lineitem")
      val base = li
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
      base
        .join(
          broadcast(ExactPercentile.percentiles(
            li, "l_returnflag", col("l_quantity"), Seq(0.5 -> "med"))),
          Seq("l_returnflag"), "left") // left: an all-NULL group keeps its row (median semantics)
        .select(col("l_returnflag"), col("med"), col("n"))
        .orderBy(col("l_returnflag"))
    },

    // MAX_BY / MIN_BY (argmax/argmin) — deterministic because the ordering
    // key (c_custkey) is unique.
    QueryDef.sql("q77_arg_extrema", """
      SELECT c_mktsegment,
             max_by(c_name, c_custkey) AS newest,
             min_by(c_name, c_custkey) AS oldest
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // JOIN ... USING — shared-name equi-join, single output key column.
    QueryDef.sql("q78_join_using", """
      SELECT k, n_name, r_name FROM
        (SELECT CAST(n_regionkey AS BIGINT) AS k, n_name FROM nation) a
      JOIN
        (SELECT CAST(r_regionkey AS BIGINT) AS k, r_name FROM region) b
      USING (k) ORDER BY k, n_name"""),

    // Window frames — ROWS sliding sum and running average over a unique
    // ordering key. Running sums accumulate in DECIMAL(38,6) (exact,
    // engine-independent — the growing-prefix double sum diverges in the
    // last bit between engines), converted to DOUBLE only at the edge.
    // Note the global ORDER BY window is single-partition by construction
    // (inherent to a global running total); frame coverage is the point
    // here — a 100-TB running total would be windowed per key or per time
    // bucket instead.
    QueryDef.sql("q79_window_frames", """
      SELECT o_orderkey,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (ORDER BY o_orderkey
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS roll3,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS runsum,
             count(*) OVER (ORDER BY o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runcnt
      FROM orders ORDER BY o_orderkey LIMIT 500"""),

    // Inline VALUES relation joined to a table (FunctionDatasetNode VALUES
    // as a join input, not just a standalone SELECT).
    QueryDef.sql("q80_values_join", """
      SELECT r.r_regionkey, v.tag FROM region r
      JOIN (VALUES (0, 'alpha'), (1, 'beta'), (2, 'gamma')) AS v(k, tag)
        ON CAST(r.r_regionkey AS BIGINT) = v.k
      ORDER BY r.r_regionkey"""),

    // Ordered STRING_AGG — list-valued aggregate emitted as a string (the
    // q44 lesson: the gate canonicalizer requires scalar cells).
    QueryDef("q81_string_agg", Some("""
      SELECT c_mktsegment,
             string_agg(c_name, ',' ORDER BY c_name) AS names,
             CAST(count(*) AS BIGINT) AS n
      FROM (SELECT c_mktsegment, c_name FROM customer WHERE c_custkey <= 50) t
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")) { (s, dir) =>
      Tables.df(s, dir, "customer")
        .filter(col("c_custkey") <= 50)
        .groupBy(col("c_mktsegment"))
        .agg(array_join(array_sort(collect_list(col("c_name"))), ",").as("names"),
          count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    },

    // Bitwise aggregates over the whole relation — BIGINT on both sides.
    QueryDef.sql("q82_bit_aggs", """
      SELECT CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS b_and,
             CAST(bit_or(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS b_or,
             CAST(bit_xor(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS b_xor
      FROM lineitem"""),

    // Row-level visibility filters (reference: logical_planner.py:1116-1145
    // apply_visibility_filters), the DNF spelled inline. The same DNF
    // installed on the engine (`Graft.setVisibilityFilters`) is enforced at
    // every resolution of the relation as an ordinary Catalyst Filter above
    // the scan; GraftSqlSpec asserts that it pushes down (PushedFilters).
    QueryDef.sql("q90_visibility_filters", """
      SELECT c_nationkey, count(*) AS n,
             CAST(round(sum(CAST(c_acctbal AS DECIMAL(38,6))), 2) AS DOUBLE) AS bal
      FROM customer
      WHERE c_mktsegment = 'BUILDING' OR (c_mktsegment = 'MACHINERY' AND c_acctbal > 0.0)
      GROUP BY c_nationkey ORDER BY c_nationkey"""),

    // AS-OF join — each 'click' event matched to the same user's most
    // recent 'purchase' at-or-before its timestamp (the time-series
    // point-in-time lookup the brief names as a custom-operator candidate;
    // Spark has no native ASOF). Implementation is the scale-safe
    // union-carry shape, NOT a per-event range probe:
    //   1. right side pre-reduced per (user, ts) so ties are deterministic
    //      (max event_id wins — (user_id, ts) is unique in the generated
    //      data, so this is a documented guard, not a behavior change);
    //   2. both sides tagged and unioned, ONE shuffle on user_id;
    //   3. a running max over struct(ts, event_id, value) with frame
    //      [unbounded preceding, current] carries the latest right row
    //      forward — the running-max AGGREGATE state is O(1), while
    //      WindowExec itself still buffers each user_id partition's rows
    //      in a spillable ExternalAppendOnlyUnsafeRowBuffer, so a hot
    //      user costs a sort plus spillable buffering, never unbounded
    //      heap;
    //   4. side ordering (right=0 before left=1 at equal ts) implements the
    //      inclusive ">=" bound; no join-back — the carried struct already
    //      holds the payload.
    // The DuckDB oracle is the engine's NATIVE ASOF LEFT JOIN — an
    // independent implementation of the semantics, not a mirror of this
    // plan.
    QueryDef("q91_asof_join", Some("""
      WITH r AS (
        SELECT user_id, ts,
               max(event_id) AS r_event_id,
               max_by(value, event_id) AS r_value
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
      l AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
      SELECT l.event_id, l.user_id, l.ts,
             r.ts AS asof_ts,
             r.r_event_id AS asof_event_id,
             round(r.r_value, 6) AS asof_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      ORDER BY l.event_id""")) { (s, dir) =>
      val e = Tables.df(s, dir, "events")
      val r = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("r_event_id"),
          max_by(col("value"), col("event_id")).as("r_value"))
        .select(col("user_id"), col("ts"), lit(0).as("side"),
          lit(null).cast("long").as("event_id"),
          struct(col("ts").as("t"), col("r_event_id").as("eid"),
            col("r_value").as("v")).as("payload"))
      val l = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(1).as("side"),
          col("event_id"),
          lit(null).cast("struct<t:timestamp,eid:bigint,v:double>").as("payload"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      r.unionByName(l)
        .withColumn("carried", max(col("payload")).over(w))
        .filter(col("side") === 1)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("carried.t").as("asof_ts"),
          col("carried.eid").as("asof_event_id"),
          round(col("carried.v"), 6).as("asof_value"))
        .orderBy(col("event_id"))
    },

    // Explicit GROUPING SETS — the general form behind q49's ROLLUP and
    // q50's CUBE (each per-set aggregate is the same partial-agg shuffle;
    // Catalyst expands the sets into one Expand + aggregate, a single
    // pass).
    QueryDef.sql("q92_grouping_sets", """
      SELECT o_orderstatus, o_orderpriority,
             CAST(grouping(o_orderstatus) AS INTEGER) AS g_st,
             CAST(grouping(o_orderpriority) AS INTEGER) AS g_pr,
             count(*) AS n,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 2) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY g_st, g_pr, o_orderstatus, o_orderpriority"""),

    // Correlated LATERAL subquery — per-outer-row top-N through the SQL
    // surface (Catalyst plans the correlated limit as a rewritten join +
    // per-key ranking; no per-row re-execution). The DuckDB oracle uses
    // its native LATERAL, an independent implementation of the semantics.
    QueryDef.sql("q93_lateral_topn", """
      SELECT r.r_name, t.n_name FROM region r,
        LATERAL (SELECT n_name FROM nation
                 WHERE n_regionkey = r.r_regionkey
                 ORDER BY n_name LIMIT 2) t
      ORDER BY r.r_name, t.n_name""")
  )
}
