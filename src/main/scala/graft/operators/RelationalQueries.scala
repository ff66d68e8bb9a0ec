package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}
import Kit.{fsum, ts}

/** Relational operator coverage — one query per physical operator in the
  * reference's inventory (SURVEY.md §2.1/§2.2) plus the expression/function
  * families of §2.3/§2.4. All implemented with the declarative DataFrame API
  * so Catalyst owns pushdown, join strategy, partial aggregation, and top-N
  * fusion; hints (`broadcast`) appear only where a 100-TB plan genuinely
  * wants them (small dimension tables).
  */
object RelationalQueries {

  val defs: Seq[QueryDef] = Seq(

    // ----------------------------------------------------------------
    // AggregateAndGroupNode (reference: opteryx/operators/aggregate_and_group_node.py:37-282)
    // TPC-H Q1 shape: scan→filter→partial agg→final agg. Filter pushes to
    // parquet; sums are decimal-exact so results are shuffle-order-proof.
    QueryDef("q01_group_agg", Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS sum_disc_price,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_discount), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")) { (s, dir) =>
      Tables.df(s, dir, "lineitem")
        .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          fsum(col("l_quantity"), 0).as("sum_qty"),
          fsum(col("l_extendedprice"), 2).as("sum_base_price"),
          fsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // AggregateNode — no GROUP BY (reference: opteryx/operators/aggregate_node.py:178-245)
    QueryDef("q02_global_agg", Some("""
      SELECT count(*) AS n_rows,
             count(DISTINCT l_orderkey) AS n_orders,
             min(l_quantity) AS min_qty,
             max(l_extendedprice) AS max_price,
             CAST(sum(CAST(floor(l_tax * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_tax,
             round(avg(l_extendedprice), 4) AS avg_price
      FROM lineitem""")) { (s, dir) =>
      Tables.df(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_extendedprice")).as("max_price"),
        fsum(col("l_tax"), 2).as("sum_tax"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"))
    },

    // ProjectionNode (reference: opteryx/operators/projection_node.py:112-152)
    QueryDef.sql("q03_projection", """
      SELECT n_nationkey,
             n_nationkey * 2 + 1 AS k2,
             upper(n_name) AS un,
             length(n_name) AS name_len,
             n_name || '-' || CAST(n_regionkey AS VARCHAR) AS tagged,
             substr(n_name, 1, 3) AS pre3
      FROM nation ORDER BY n_nationkey"""),

    // FilterNode with compound predicates — IN/BETWEEN/LIKE push to the scan
    // (reference: opteryx/operators/filter_node.py:29-87)
    QueryDef.sql("q04_filter_complex", """
      SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
      FROM lineitem
      WHERE l_quantity BETWEEN 5 AND 15
        AND l_returnflag IN ('A', 'R')
        AND l_linestatus = 'F'
        AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND (l_discount < 0.03 OR l_tax > 0.05)
      ORDER BY l_orderkey, l_linenumber"""),

    // DistinctNode (reference: opteryx/operators/distinct_node.py:175-217)
    QueryDef.sql("q05_distinct", """
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus"""),

    // DISTINCT ON (cols) — deterministic row choice via ranked window
    // (reference: opteryx/operators/distinct_node.py:178-183)
    QueryDef.sql("q06_distinct_on", """
      SELECT c_nationkey, c_custkey, c_acctbal FROM (
        SELECT c_nationkey, c_custkey, c_acctbal,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer) t
      WHERE rn = 1 ORDER BY c_nationkey"""),

    // InnerJoinNode — fact⨝dim with explicit broadcast of the dimension side;
    // at 100 TB the customer dim stays broadcastable while lineitem shuffles
    // zero bytes for this join (reference: opteryx/operators/inner_join_node.py:38-174)
    QueryDef("q07_join_inner", Some("""
      SELECT c_mktsegment,
             count(*) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")) { (s, dir) =>
      val o = Tables.df(s, dir, "orders")
      val c = Tables.df(s, dir, "customer")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          fsum(col("o_totalprice"), 2).as("revenue"))
        .orderBy(col("c_mktsegment"))
    },

    // OuterJoinNode: LEFT (reference: opteryx/operators/outer_join_node.py:37-112)
    QueryDef("q08_join_left", Some("""
      SELECT c_custkey,
             count(o_orderkey) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS total
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey ORDER BY c_custkey""")) { (s, dir) =>
      val c = Tables.df(s, dir, "customer")
      val o = Tables.df(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          fsum(col("o_totalprice"), 2).as("total"))
        .orderBy(col("c_custkey"))
    },

    // OuterJoinNode: RIGHT (reference: opteryx/compiled/joins/outer_join.pyx)
    QueryDef.sql("q09_join_right", """
      SELECT n_name, count(s_suppkey) AS n_supp
      FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name"""),

    // OuterJoinNode: FULL (reference: opteryx/operators/outer_join_node.py:115-151)
    QueryDef.sql("q10_join_full", """
      WITH cc AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY c_nationkey),
           ss AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY s_nationkey)
      SELECT coalesce(cc.nk, ss.nk) AS nationkey, n_cust, n_supp
      FROM cc FULL OUTER JOIN ss ON cc.nk = ss.nk
      ORDER BY nationkey"""),

    // CrossJoinNode (reference: opteryx/operators/cross_join_node.py:90-145)
    QueryDef.sql("q11_join_cross", """
      SELECT r_name, n_name FROM region CROSS JOIN nation
      ORDER BY r_name, n_name"""),

    // FilterJoinNode: LEFT SEMI (reference: opteryx/operators/filter_join_node.py:298-351)
    QueryDef("q12_join_semi", Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      ORDER BY c_custkey""")) { (s, dir) =>
      val c = Tables.df(s, dir, "customer")
      val o = Tables.df(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // FilterJoinNode: LEFT ANTI — customers with no large order
    QueryDef.sql("q13_join_anti", """
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      ORDER BY c_custkey"""),

    // Equi+range join — same-region nation pairs
    // (reference join-condition handling: opteryx/operators/inner_join_node.py:17-18)
    QueryDef.sql("q14_join_range", """
      SELECT a.n_regionkey AS region, count(*) AS n_pairs,
             min(a.n_name || '|' || b.n_name) AS first_pair
      FROM nation a JOIN nation b
        ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
      GROUP BY a.n_regionkey ORDER BY region"""),

    // NonEquiJoinNode — pure theta join, executed as a BANDED RANGE JOIN
    // (reference: opteryx/operators/non_equi_join_node.py:38-120).
    // A naive `s_acctbal > c_acctbal` plans as an O(n·m)
    // BroadcastNestedLoopJoin — a scale-killer on fact×fact at 100 TB. This
    // plan decomposes the theta into two scale-safe parts on a bucketed
    // acctbal axis (width 1000):
    //   (a) customers in buckets STRICTLY BELOW the supplier's bucket are all
    //       poorer — counted once per bucket and cumulated over the tiny
    //       bucket dimension, then broadcast-joined back to suppliers (the
    //       heavy sides are touched only by per-bucket partial aggregates);
    //   (b) SAME-bucket pairs get the exact compare inside an equi-join on
    //       the bucket id — O(n·m / #buckets) instead of O(n·m).
    // Result-identical to the nested-loop plan (RelationalQueriesTwins holds
    // the NLJ baseline; QueriesSpec asserts equality) and contains no
    // BroadcastNestedLoopJoin (PlanPropertiesSpec asserts).
    QueryDef("q15_join_theta", Some("""
      SELECT s_suppkey, count(*) AS n_poorer
      FROM supplier JOIN customer ON s_acctbal > c_acctbal
      GROUP BY s_suppkey ORDER BY s_suppkey""")) { (s, dir) =>
      // Decomposition factored into BandedThetaJoin.poorerCount (NULL
      // handling + band mechanics documented there; NULL-bearing
      // result-identity proven in BandedThetaJoinSpec).
      BandedThetaJoin.poorerCount(
        Tables.df(s, dir, "supplier"), Tables.df(s, dir, "customer"),
        "s_suppkey", "s_acctbal", "c_acctbal", bandWidth = 1000.0)
        .orderBy(col("s_suppkey"))
    },

    // UnnestJoinNode — CROSS JOIN UNNEST ≡ Generate(Explode)
    // (reference: opteryx/operators/unnest_join_node.py:203-269)
    QueryDef("q16_unnest", Some("""
      SELECT word, count(*) AS n, count(DISTINCT p_partkey) AS n_parts
      FROM (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part) t
      GROUP BY word ORDER BY word""")) { (s, dir) =>
      Tables.df(s, dir, "part")
        .select(col("p_partkey"), explode(split(col("p_name"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"), countDistinct(col("p_partkey")).as("n_parts"))
        .orderBy(col("word"))
    },

    // UnionNode: UNION ALL (reference: opteryx/operators/union_node.py:473-513)
    QueryDef.sql("q17_union_all", """
      SELECT side, nk, count(*) AS n FROM (
        SELECT 'cust' AS side, c_nationkey AS nk FROM customer
        UNION ALL
        SELECT 'supp' AS side, s_nationkey AS nk FROM supplier) t
      GROUP BY side, nk ORDER BY side, nk"""),

    // UNION (distinct) — planner-inserted Distinct in the reference
    // (reference: opteryx/planner/logical_planner/logical_planner.py:890-895)
    QueryDef.sql("q18_union_distinct", """
      SELECT c_nationkey AS nk FROM customer
      UNION SELECT s_nationkey AS nk FROM supplier ORDER BY nk"""),

    // HeapSortNode — Top-N; Catalyst fuses to TakeOrderedAndProject
    // (reference: opteryx/operators/heap_sort_node.py:419-515)
    QueryDef.sql("q19_topn", """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""),

    // LimitNode with OFFSET (reference: opteryx/operators/limit_node.py:239-283)
    QueryDef("q20_limit_offset", Some("""
      SELECT o_orderkey, o_custkey FROM orders
      ORDER BY o_orderkey LIMIT 50 OFFSET 100""")) { (s, dir) =>
      Tables.df(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
        .offset(100).limit(50)
    },

    // Window functions — beyond the reference (absent there: SURVEY.md §2.1
    // "not present"); first-class in this engine.
    QueryDef("q21_window", Some("""
      SELECT o_custkey, o_orderkey,
             row_number() OVER w AS rn,
             lag(o_orderkey) OVER w AS prev_key,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
               OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0 AS running
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      ORDER BY o_custkey, o_orderkey""")) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      Tables.df(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("rn"),
        lag(col("o_orderkey"), 1).over(w).as("prev_key"),
        (sum(floor(col("o_totalprice") * 100 + lit(0.5)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          / 100.0).as("running"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // HAVING (reference: opteryx/planner/logical_planner/logical_planner.py:440-446)
    QueryDef.sql("q22_having", """
      SELECT l_partkey, count(*) AS n
      FROM lineitem GROUP BY l_partkey HAVING count(*) >= 5
      ORDER BY l_partkey"""),

    // Scalar subquery (uncorrelated) — the 1-row aggregate is broadcast and
    // cross-joined, never collected to the driver: the whole plan stays lazy
    // and distributed (no extra job at plan-build time).
    QueryDef("q23_subquery_scalar", Some("""
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_acctbal > (SELECT max(s_acctbal) FROM supplier)
      ORDER BY c_custkey""")) { (s, dir) =>
      val maxBal = Tables.df(s, dir, "supplier")
        .agg(max(col("s_acctbal")).as("max_bal"))
      Tables.df(s, dir, "customer")
        .crossJoin(broadcast(maxBal))
        .filter(col("c_acctbal") > col("max_bal"))
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    },

    // IN (subquery) — semi-join under the hood
    QueryDef.sql("q24_subquery_in", """
      SELECT l_partkey, count(*) AS n FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 45)
      GROUP BY l_partkey ORDER BY l_partkey"""),

    // CTE composition (reference: extract_ctes at logical_planner.py:168-179)
    QueryDef.sql("q25_cte", """
      WITH per_cust AS (
        SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey)
      SELECT c_nationkey, CAST(sum(n_orders) AS BIGINT) AS total_orders, count(*) AS n_cust
      FROM per_cust JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey ORDER BY c_nationkey"""),

    // Conditional expressions: CASE/IIF/COALESCE/NULLIF/GREATEST/LEAST
    // (reference: opteryx/functions/__init__.py:591-611)
    QueryDef("q26_conditionals", Some("""
      SELECT o_orderkey,
             CASE WHEN o_totalprice > 300000 THEN 'big'
                  WHEN o_totalprice > 100000 THEN 'mid'
                  ELSE 'small' END AS bucket,
             greatest(o_totalprice, 150000.0) AS floor_price,
             least(o_totalprice, 150000.0) AS cap_price,
             nullif(o_orderstatus, 'O') AS st_or_null,
             coalesce(nullif(o_orderstatus, 'O'), 'open') AS st,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_f
      FROM orders ORDER BY o_orderkey""")) { (s, dir) =>
      Tables.df(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_totalprice") > 300000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("bucket"),
        greatest(col("o_totalprice"), lit(150000.0)).as("floor_price"),
        least(col("o_totalprice"), lit(150000.0)).as("cap_price"),
        nullif(col("o_orderstatus"), lit("O")).as("st_or_null"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("st"),
        when(col("o_orderstatus") === "F", 1).otherwise(0).as("is_f"))
        .orderBy(col("o_orderkey"))
    },

    // String function family (reference: opteryx/functions/__init__.py:547-570)
    QueryDef("q27_strings", Some("""
      SELECT c_custkey,
             upper(c_name) AS up, lower(c_name) AS lo,
             substr(c_name, 1, 8) AS pre,
             length(c_name) AS len,
             replace(c_name, 'Customer', 'C') AS repl,
             lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
             reverse(c_mktsegment) AS rev,
             trim(c_mktsegment) AS trimmed,
             levenshtein(c_mktsegment, 'BUILDING') AS lev,
             strpos(c_name, '1') AS pos1,
             concat_ws('-', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS joined
      FROM customer ORDER BY c_custkey""")) { (s, dir) =>
      Tables.df(s, dir, "customer").select(
        col("c_custkey"),
        upper(col("c_name")).as("up"), lower(col("c_name")).as("lo"),
        substring(col("c_name"), 1, 8).as("pre"),
        length(col("c_name")).as("len"),
        regexp_replace(col("c_name"), "Customer", "C").as("repl"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
        reverse(col("c_mktsegment")).as("rev"),
        trim(col("c_mktsegment")).as("trimmed"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).as("lev"),
        instr(col("c_name"), "1").as("pos1"),
        concat_ws("-", col("c_mktsegment"), col("c_nationkey").cast("string")).as("joined"))
        .orderBy(col("c_custkey"))
    },

    // Regex family: RLIKE / REGEXP_REPLACE / REGEXP_EXTRACT
    // (reference: opteryx/managers/expression/ops.py:150-260 RLIKE; functions :570)
    QueryDef("q28_regex", Some("""
      SELECT p_partkey,
             regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled,
             regexp_extract(p_type, '[A-Z]+') AS first_word,
             CASE WHEN regexp_matches(p_name, 'a.*e') THEN 1 ELSE 0 END AS has_ae
      FROM part ORDER BY p_partkey""")) { (s, dir) =>
      Tables.df(s, dir, "part").select(
        col("p_partkey"),
        regexp_replace(col("p_type"), "[aeiou]", "_").as("devoweled"),
        regexp_extract(col("p_type"), "[A-Z]+", 0).as("first_word"),
        when(col("p_name").rlike("a.*e"), 1).otherwise(0).as("has_ae"))
        .orderBy(col("p_partkey"))
    },

    // Numeric function family (reference: opteryx/functions/__init__.py:613-630)
    QueryDef("q29_math", Some("""
      SELECT p_partkey,
             round(sqrt(p_retailprice), 6) AS sq,
             CAST(floor(p_retailprice) AS BIGINT) AS fl,
             CAST(ceil(p_retailprice) AS BIGINT) AS ce,
             abs(p_size - 25) AS ab,
             round(pow(CAST(p_size AS DOUBLE), 2), 6) AS p2,
             round(ln(p_retailprice), 6) AS lnp,
             round(log10(p_retailprice), 6) AS lg,
             CAST(sign(p_size - 25) AS INTEGER) AS sg,
             p_size % 7 AS m7,
             round(pi(), 6) AS pi_c
      FROM part ORDER BY p_partkey""")) { (s, dir) =>
      Tables.df(s, dir, "part").select(
        col("p_partkey"),
        round(sqrt(col("p_retailprice")), 6).as("sq"),
        floor(col("p_retailprice")).as("fl"),
        ceil(col("p_retailprice")).as("ce"),
        abs(col("p_size") - 25).as("ab"),
        round(pow(col("p_size").cast("double"), 2), 6).as("p2"),
        round(log(col("p_retailprice")), 6).as("lnp"),
        round(log10(col("p_retailprice")), 6).as("lg"),
        // floor/ceil are BIGINT in Spark but DOUBLE in DuckDB, and sign is
        // DOUBLE in Spark but TINYINT in DuckDB — both sides carry explicit
        // casts to one agreed type so the dtype-sensitive gate hash matches.
        signum(col("p_size") - 25).cast("int").as("sg"),
        (col("p_size") % 7).as("m7"),
        round(lit(math.Pi), 6).as("pi_c"))
        .orderBy(col("p_partkey"))
    },

    // Date/time extraction family (reference: opteryx/functions/__init__.py:632-658)
    QueryDef("q30_datetime", Some("""
      SELECT o_orderkey,
             year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
             quarter(o_orderdate) AS q,
             weekofyear(o_orderdate) AS wk,
             dayofweek(o_orderdate) + 1 AS dow,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS mon_start,
             CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
             strftime(o_orderdate, '%Y-%m-%d') AS fmt
      FROM orders ORDER BY o_orderkey""")) { (s, dir) =>
      Tables.df(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        weekofyear(col("o_orderdate")).as("wk"),
        dayofweek(col("o_orderdate")).as("dow"),
        date_trunc("month", col("o_orderdate")).cast("date").as("mon_start"),
        unix_timestamp(col("o_orderdate").cast("timestamp")).as("epoch_s"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("fmt"))
        .orderBy(col("o_orderkey"))
    },

    // Interval arithmetic + DATEDIFF (reference: opteryx/managers/expression/binary_operators.py:179-195)
    QueryDef.sql("q31_datetime_arith", """
      SELECT l_orderkey, l_linenumber,
             l_shipdate + INTERVAL 90 DAY AS ship90,
             l_shipdate + INTERVAL 2 MONTH AS ship2m,
             datediff('day', o_orderdate, l_shipdate) AS lag_days
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_orderkey <= 1000
      ORDER BY l_orderkey, l_linenumber"""),

    // JSON access — `->>` family (reference: opteryx/managers/expression/binary_operators.py:203-218)
    QueryDef("q32_json", Some("""
      SELECT event_type,
             count(*) AS n,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      FROM events GROUP BY event_type ORDER BY event_type""")) { (s, dir) =>
      Tables.df(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(get_json_object(col("props"), "$.k").cast("bigint")).as("sum_k"))
        .orderBy(col("event_type"))
    },

    // Array operations (reference: opteryx/functions/__init__.py:591-611 ARRAY_CONTAINS*)
    QueryDef("q33_arrays", Some("""
      SELECT doc_id,
             len(toks) AS n_toks,
             list_contains(toks, 'spark') AS has_spark,
             len(list_distinct(toks)) AS n_uniq,
             list_sort(toks)[1] AS first_tok
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
      ORDER BY doc_id""")) { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("toks")).as("n_toks"),
          array_contains(col("toks"), "spark").as("has_spark"),
          size(array_distinct(col("toks"))).as("n_uniq"),
          element_at(sort_array(col("toks")), 1).as("first_tok"))
        .orderBy(col("doc_id"))
    },

    // Quantified array predicates — ANY/ALL (reference: opteryx/managers/expression/ops.py:254-290)
    QueryDef("q34_any_all", Some("""
      SELECT doc_id,
             len(list_filter(toks, x -> x LIKE 'sp%')) > 0 AS any_sp,
             len(list_filter(toks, x -> length(x) > 2)) = len(toks) AS all_long
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
      ORDER BY doc_id""")) { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .select(
          col("doc_id"),
          exists(col("toks"), t => t.like("sp%")).as("any_sp"),
          forall(col("toks"), t => length(t) > 2).as("all_long"))
        .orderBy(col("doc_id"))
    },

    // FunctionDatasetNode: GENERATE_SERIES (reference: opteryx/operators/function_dataset_node.py:583-651)
    QueryDef.sql("q35_series", """
      SELECT CAST(sum(x) AS BIGINT) AS s, count(*) AS n, min(x) AS mn, max(x) AS mx
      FROM range(1, 1001) t(x)"""),

    // Pivot-style conditional aggregation (HISTOGRAM analogue —
    // reference: opteryx/operators/aggregate_node.py:29-48)
    QueryDef("q36_pivot", Some("""
      SELECT c_nationkey,
             count(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS n_building,
             count(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS n_auto,
             count(CASE WHEN c_mktsegment NOT IN ('BUILDING','AUTOMOBILE') THEN 1 END) AS n_other
      FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")) { (s, dir) =>
      Tables.df(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(
          count(when(col("c_mktsegment") === "BUILDING", 1)).as("n_building"),
          count(when(col("c_mktsegment") === "AUTOMOBILE", 1)).as("n_auto"),
          count(when(!col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"), 1)).as("n_other"))
        .orderBy(col("c_nationkey"))
    },

    // Statistical aggregates (reference: STDDEV/VARIANCE at opteryx/operators/aggregate_node.py:45-47)
    QueryDef.sql("q37_stats", """
      SELECT l_returnflag,
             round(stddev_samp(l_quantity), 4) AS sd_qty,
             round(var_samp(l_quantity), 4) AS var_qty,
             round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
             round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_qp
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // Hash/encode family (reference: opteryx/functions/__init__.py:572-589)
    QueryDef("q38_hash", Some("""
      SELECT n_nationkey,
             md5(n_name) AS h_md5,
             sha256(n_name) AS h_sha256,
             to_base64(n_name::BLOB) AS b64
      FROM nation ORDER BY n_nationkey""")) { (s, dir) =>
      Tables.df(s, dir, "nation").select(
        col("n_nationkey"),
        md5(col("n_name")).as("h_md5"),
        sha2(col("n_name"), 256).as("h_sha256"),
        base64(col("n_name").cast("binary")).as("b64"))
        .orderBy(col("n_nationkey"))
    },

    // Multi-way join + broadcast dims — TPC-H Q5 shape (5-table join at scale:
    // two broadcasts + one shuffle join on the fact key)
    QueryDef("q39_multijoin", Some("""
      SELECT n_name, r_name,
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
             count(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY n_name, r_name ORDER BY n_name, r_name""")) { (s, dir) =>
      val li = Tables.df(s, dir, "lineitem")
      val o = Tables.df(s, dir, "orders")
      val c = Tables.df(s, dir, "customer")
      val n = Tables.df(s, dir, "nation")
      val r = Tables.df(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"), col("r_name"))
        .agg(
          fsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"), col("r_name"))
    },

    // TPC-H Q6 shape — pure scan+filter+agg, the pushdown showcase
    QueryDef("q40_tpch_q6", Some("""
      SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
             count(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        AND l_discount BETWEEN 0.03 AND 0.07
        AND l_quantity < 24""")) { (s, dir) =>
      Tables.df(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1995-01-01 00:00:00")
          && col("l_shipdate") < ts("1996-01-01 00:00:00")
          && col("l_discount").between(0.03, 0.07)
          && col("l_quantity") < 24)
        .agg(fsum(col("l_extendedprice") * col("l_discount"), 4).as("revenue"),
          count(lit(1)).as("n"))
    }
  )
}
