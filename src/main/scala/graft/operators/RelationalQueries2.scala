package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}

/** Coverage batch 2 — the remaining SURVEY.md §2 surface: extra aggregate
  * functions (§2.2), cast/try-cast matrix, the rest of the string/hash/datetime
  * families (§2.3), bitwise + JSON operators (§2.4), grouping analytics that
  * the reference lacks but Spark gives natively (ROLLUP/CUBE/INTERSECT/EXCEPT,
  * SURVEY.md §2.1 "not present in the reference"), and TPC-H-shaped multi-join
  * workloads adapted to the driver testdata schema.
  *
  * Same conventions as [[RelationalQueries]]: explicit aliases on both sides,
  * deterministic ORDER BY, decimal-exact or rounded aggregates.
  */
object RelationalQueries2 {

  private def dec(c: Column): Column = c.cast("decimal(38,6)")
  /** Exact decimal sum emitted as DOUBLE — see [[RelationalQueries.dsum]]. */
  private def dsum(c: Column): Column = sum(dec(c)).cast("double")
  private def ts(s: String): Column = lit(s).cast("timestamp_ntz")

  val defs: Seq[QueryDef] = Seq(

    // ----------------------------------------------------------------
    // Aggregate family batch 2: exact percentile / median, BOOL_AND/BOOL_OR
    // (reference ALL/ANY at opteryx/operators/aggregate_node.py:29-48),
    // ONE/ANY_VALUE expressed deterministically as min.
    QueryDef("q41_agg_extra", Some("""
      SELECT l_returnflag,
             round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
             round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
             bool_and(l_quantity >= 1) AS all_pos,
             bool_or(l_discount > 0.09) AS any_big_disc,
             min(l_linestatus) AS one_status
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, dir) =>
      // Exact percentiles via bounded-domain histograms (ExactPercentile)
      // rather than Spark's `percentile` TypedImperativeAggregate, which
      // buffers the whole group in one aggregation buffer — the histogram
      // bounds state by distinct values, not row count. The per-flag results
      // are 3 rows, so the join-back is a broadcast.
      val li = Tables.df(s, dir, "lineitem")
      // Both exact percentiles ride ONE melted pass of lineitem per phase:
      // each row contributes (measure, value) pairs with per-measure bucket
      // width, and the two-phase bucketed selection (ExactPercentile)
      // shuffles only bucket counts — never a per-group value buffer like
      // Spark's `percentile`, and never the data-sized distinct-value
      // histogram l_extendedprice would produce. The row-level aggregates
      // (bool_and/bool_or/min) ride the SAME phase-A shuffle as partial
      // aggregates on the measure-0 rows (each source row appears once per
      // measure, so restricting to one measure counts it exactly once);
      // their re-reduce and the percentile selection are two consumers of
      // the one checkpointed frame — no separate base scan.
      //
      // LATENCY FLOOR (round 7, BENCH_NOTES.md "Standing latency facts"): at sf0.1
      // the local median is ~1.3-1.5s and resists restructuring because the
      // input is a SINGLE-ROW-GROUP parquet file — every data pass runs its
      // scan stage on one core (phase-A melt+agg ~0.6s, phase-B probe
      // ~0.43s single-threaded floors), and the remaining ~0.3-0.4s is
      // per-job scheduling (an empty noop job measures ~0.1s; the
      // checkpoint + broadcast builds + final make ~4 jobs). Alternatives
      // measured and rejected: round-robin spreading the scan (2.4x WORSE —
      // the full-row shuffle costs more than the single-core partial agg it
      // parallelizes), a (flag, qty, price-bucket) cross-aggregation
      // without the melt (~data-sized shuffle: 156k cells defeat map-side
      // collapse), fused single-long agg/join keys + broadcast-base tail
      // (~5%, within session noise). On a multi-split file (any real
      // dataset, or 100 TB) the scan stages parallelize and the same plan's
      // wall-clock is dominated by the two bounded shuffles — the structure
      // is right; the constant is this file layout's.
      //
      // Hot-path details, each measured on the 1.2M-row melt:
      //  - ALL-INT GROUPING KEYS: grouping by the raw strings
      //    (l_returnflag, a measure tag) more than doubles the hash-agg
      //    cost (1.3s vs 0.5s phase A) — key on ascii(flag) and a 0/1
      //    measure id, decode with char() at the very end.
      //  - min over the STRING l_linestatus makes the aggregation buffer
      //    variable-width, which demotes the whole pass to SortAggregate
      //    (2.6s vs 0.5s) — aggregate min(ascii(c)) instead.
      //  - __p joins phase B via the tiny target list (selectFromCum), so
      //    neither melted pass carries the fraction column.
      //  - localCheckpoint AFTER ExactPercentile.cumulate: the checkpointed
      //    frame is BUCKET-BOUNDED state (~#buckets rows, never data-sized)
      //    with three consumers (base re-reduce, target list, phase-B
      //    selection) whose column pruning would otherwise specialize each
      //    copy of the aggregate differently — exchange reuse never fires
      //    and the melted scan executes once per consumer (measured 3
      //    scans / 3.1s). Checkpointing the CUMULATED frame (not the raw
      //    coarse one) additionally folds the rank window into the one
      //    materializing job instead of re-running it per consumer.
      val isQ = col("__m") === 0
      def melted(extra: Column*): DataFrame = li
        .select(Seq(ascii(col("l_returnflag")).as("__k")) ++ extra :+
          explode(array(
            struct(lit(0).as("__m"), col("l_quantity").cast("double").as("__v")),
            struct(lit(1).as("__m"), col("l_extendedprice").cast("double").as("__v")))).as("__e"): _*)
        .withColumn("__m", col("__e.__m")).withColumn("__v", col("__e.__v"))
        .drop("__e")
        .filter(col("__v").isNotNull)
        .withColumn("__b",
          when(isQ, floor(col("__v"))).otherwise(floor(col("__v") / 100.0)).cast("long"))
      val coarse = melted(
          (col("l_quantity") >= 1).as("__qa"),
          (col("l_discount") > 0.09).as("__qo"),
          ascii(col("l_linestatus")).as("__ls"))
        .groupBy(col("__k"), col("__m"), col("__b"))
        .agg(count(lit(1)).as("__c"),
          expr("bool_and(CASE WHEN __m = 0 THEN __qa END)").as("__ba"),
          expr("bool_or(CASE WHEN __m = 0 THEN __qo END)").as("__bo"),
          min(when(isQ, col("__ls"))).as("__mn"))
        .withColumn("__p", when(isQ, lit(0.5)).otherwise(lit(0.9)))
      val cum = ExactPercentile.cumulate(coarse, Seq("__k", "__m")).localCheckpoint()
      // Phase B probes the raw rows ONCE against the broadcast target list
      // (no second melt — selectMultiMeasureFromCum computes each row's
      // bucket for the measure of the target row it meets, bounded fanout).
      val percs = ExactPercentile.selectMultiMeasureFromCum(
        cum,
        li.select(ascii(col("l_returnflag")).as("__k"),
          col("l_quantity").cast("double").as("__q"),
          col("l_extendedprice").cast("double").as("__pr")),
        Seq("__k"),
        Seq(
          (0, col("__q"), floor(col("__q"))),
          (1, col("__pr"), floor(col("__pr") / 100.0))))
      // Final: UNION the tiny checkpointed histogram with the tiny percentile
      // rows and re-reduce in ONE aggregation — no base⋈percs join, so the
      // whole tail after phase B is a single job (aggregates ignore the NULL
      // slots contributed by the other branch).
      val fromCum = cum.select(col("__k"),
        col("__ba"), col("__bo"), col("__mn"),
        lit(null).cast("int").as("__m"), lit(null).cast("double").as("res"))
      val fromPercs = percs.select(col("__k"),
        lit(null).cast("boolean").as("__ba"), lit(null).cast("boolean").as("__bo"),
        lit(null).cast("int").as("__mn"), col("__m"), col("res"))
      fromCum.unionAll(fromPercs)
        .groupBy(col("__k"))
        .agg(
          round(max(when(isQ, col("res"))), 4).as("med_qty"),
          round(max(when(col("__m") === 1, col("res"))), 4).as("p90_price"),
          expr("bool_and(__ba)").as("all_pos"),
          expr("bool_or(__bo)").as("any_big_disc"),
          expr("char(min(__mn))").as("one_status"))
        .select(
          expr("char(__k)").as("l_returnflag"),
          col("med_qty"), col("p90_price"),
          col("all_pos"), col("any_big_disc"), col("one_status"))
        .orderBy(col("l_returnflag"))
    },

    // PRODUCT aggregate — sign-correct typed Aggregator registered as a SQL
    // UDAF (reference: opteryx/operators/aggregate_node.py:44). Small integer
    // inputs so double products are exact on both engines.
    QueryDef("q42_product", Some("""
      SELECT n_regionkey,
             product(CAST(n_nationkey % 5 + 1 AS DOUBLE)) AS prod,
             count(*) AS n
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")) { (s, dir) =>
      Tables.df(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(
          expr("product(CAST(n_nationkey % 5 + 1 AS DOUBLE))").as("prod"),
          count(lit(1)).as("n"))
        .orderBy(col("n_regionkey"))
    },

    // HISTOGRAM analogue — fixed-width bucketing (reference HISTOGRAM at
    // opteryx/operators/aggregate_node.py:40): scales as a single hash agg.
    QueryDef("q43_histogram", Some("""
      SELECT CAST(floor(p_retailprice / 200) AS BIGINT) AS bucket, count(*) AS n
      FROM part GROUP BY bucket ORDER BY bucket""")) { (s, dir) =>
      Tables.df(s, dir, "part")
        .groupBy(floor(col("p_retailprice") / 200).cast("bigint").as("bucket"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },

    // ARRAY_AGG with DISTINCT / ORDER / LIMIT post-pass (reference:
    // opteryx/operators/aggregate_and_group_node.py:180-216) — expressed as
    // sort_array(collect_*) + slice so it stays a single hash aggregation.
    // Output columns are joined to strings: the gate's pandas canonicalizer
    // cannot sort array cells, so the verification projection (not the
    // capability) stringifies.
    QueryDef("q44_array_agg", Some("""
      SELECT s_nationkey,
             array_to_string(list_sort(list(s_name)), '|') AS names,
             array_to_string(list_sort(list(s_name))[1:3], '|') AS top3,
             array_to_string(list_sort(list(DISTINCT left(s_name, 12))), '|') AS uniq_prefix
      FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""")) { (s, dir) =>
      Tables.df(s, dir, "supplier")
        .groupBy(col("s_nationkey"))
        .agg(
          array_join(sort_array(collect_list(col("s_name"))), "|").as("names"),
          array_join(slice(sort_array(collect_list(col("s_name"))), 1, 3), "|").as("top3"),
          array_join(sort_array(collect_set(expr("left(s_name, 12)"))), "|").as("uniq_prefix"))
        .orderBy(col("s_nationkey"))
    },

    // Cast / TRY_cast matrix (reference: opteryx/functions/__init__.py:520-545
    // CAST + TRY_* variants).
    QueryDef("q45_casts", Some("""
      SELECT p_partkey,
             CAST(p_size AS VARCHAR) AS sz_s,
             CAST(p_size AS DOUBLE) AS sz_d,
             CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec,
             TRY_CAST(p_name AS INTEGER) AS nm_i,
             TRY_CAST(left(CAST(p_partkey AS VARCHAR), 2) AS INTEGER) AS pk2,
             p_size % 2 = 0 AS even_size,
             CAST(CAST('2024-05-06' AS DATE) AS VARCHAR) AS d_lit,
             CAST('2024-05-06 07:08:09' AS TIMESTAMP) AS ts_lit
      FROM part ORDER BY p_partkey""")) { (s, dir) =>
      Tables.df(s, dir, "part").select(
        col("p_partkey"),
        col("p_size").cast("string").as("sz_s"),
        col("p_size").cast("double").as("sz_d"),
        // decimal cast exercised, then re-emitted as DOUBLE for the gate
        col("p_retailprice").cast("decimal(12,2)").cast("double").as("price_dec"),
        expr("try_cast(p_name AS int)").as("nm_i"),
        expr("try_cast(left(CAST(p_partkey AS string), 2) AS int)").as("pk2"),
        (col("p_size") % 2 === 0).as("even_size"),
        // DATE cast exercised, emitted as VARCHAR: pandas renders datetime
        // blocks frame-wide, so a true-date column next to a timestamp column
        // picks up a spurious " 00:00:00" on the oracle side
        lit("2024-05-06").cast("date").cast("string").as("d_lit"),
        lit("2024-05-06 07:08:09").cast("timestamp_ntz").as("ts_lit"))
        .orderBy(col("p_partkey"))
    },

    // String family batch 2: TITLE/INITCAP, LEFT/RIGHT, ASCII/CHAR, REPEAT,
    // SPLIT_PART, TRANSLATE, prefix/suffix tests
    // (reference: opteryx/functions/__init__.py:547-570).
    QueryDef("q46_strings_extra", Some("""
      SELECT c_custkey,
             upper(left(c_mktsegment, 1)) || substr(lower(c_mktsegment), 2) AS ic,
             left(c_name, 5) AS l5,
             right(c_name, 4) AS r4,
             ascii(left(c_name, 1)) AS a1,
             chr(65 + CAST(c_nationkey % 26 AS INTEGER)) AS ch,
             repeat(left(c_mktsegment, 2), 3) AS rep,
             split_part(c_name, '#', 2) AS num_part,
             translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr,
             starts_with(c_name, 'Customer') AS sw,
             ends_with(c_name, '1') AS ew
      FROM customer ORDER BY c_custkey""")) { (s, dir) =>
      Tables.df(s, dir, "customer").select(
        col("c_custkey"),
        initcap(lower(col("c_mktsegment"))).as("ic"),
        expr("left(c_name, 5)").as("l5"),
        expr("right(c_name, 4)").as("r4"),
        ascii(expr("left(c_name, 1)")).as("a1"),
        expr("char(65 + CAST(c_nationkey % 26 AS int))").as("ch"),
        repeat(expr("left(c_mktsegment, 2)"), 3).as("rep"),
        expr("split_part(c_name, '#', 2)").as("num_part"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("tr"),
        col("c_name").startsWith("Customer").as("sw"),
        col("c_name").endsWith("1").as("ew"))
        .orderBy(col("c_custkey"))
    },

    // HEX_ENCODE / HEX_DECODE round-trip (reference:
    // opteryx/functions/__init__.py:586-589).
    QueryDef("q47_hex", Some("""
      SELECT n_nationkey,
             lower(hex(n_name)) AS hx,
             decode(unhex(hex(n_name))) AS rt
      FROM nation ORDER BY n_nationkey""")) { (s, dir) =>
      Tables.df(s, dir, "nation").select(
        col("n_nationkey"),
        lower(hex(col("n_name"))).as("hx"),
        unhex(hex(col("n_name"))).cast("string").as("rt"))
        .orderBy(col("n_nationkey"))
    },

    // TIME_BUCKET (reference: opteryx/functions/__init__.py:633 TIME_BUCKET) —
    // epoch-floor arithmetic, engine- and timezone-neutral; one hash agg,
    // fully pushable at 100 TB.
    QueryDef("q48_time_bucket", Some("""
      SELECT CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) AS bucket_s,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_v
      FROM events GROUP BY bucket_s ORDER BY bucket_s""")) { (s, dir) =>
      Tables.df(s, dir, "events")
        .groupBy((floor(unix_timestamp(col("ts").cast("timestamp")) / 900) * 900)
          .cast("bigint").as("bucket_s"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
        .orderBy(col("bucket_s"))
    },

    // ROLLUP — hierarchical totals (beyond the reference: SURVEY.md §2.1 notes
    // no GROUPING SETS/CUBE/ROLLUP anywhere in its planner).
    QueryDef("q49_rollup", Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
             CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
             CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS DOUBLE) AS sum_qty,
             count(*) AS n
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag, l_linestatus""")) { (s, dir) =>
      Tables.df(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"),
          RelationalQueries.fsum(col("l_quantity"), 0).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"), col("g_rf"), col("g_ls"),
          col("sum_qty"), col("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // CUBE — all grouping-set combinations.
    QueryDef("q50_cube", Some("""
      SELECT o_orderstatus, o_orderpriority,
             CAST(grouping(o_orderstatus) AS INTEGER) AS g_st,
             CAST(grouping(o_orderpriority) AS INTEGER) AS g_pr,
             count(*) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus, o_orderpriority""")) { (s, dir) =>
      Tables.df(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping(col("o_orderstatus")).cast("int").as("g_st"),
          grouping(col("o_orderpriority")).cast("int").as("g_pr"),
          count(lit(1)).as("n"),
          RelationalQueries.fsum(col("o_totalprice"), 2).as("sum_price"))
        .select(col("o_orderstatus"), col("o_orderpriority"), col("g_st"), col("g_pr"),
          col("n"), col("sum_price"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    },

    // INTERSECT / EXCEPT (beyond the reference — it raises
    // UnsupportedSyntaxError for any set op but UNION,
    // reference: opteryx/planner/logical_planner/logical_planner.py:862-865).
    QueryDef("q51_setops", Some("""
      SELECT 'both' AS tag, k FROM
        (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey AS k FROM supplier) a
      UNION ALL
      SELECT 'cust_only' AS tag, k FROM
        (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey AS k FROM supplier) b
      ORDER BY tag, k""")) { (s, dir) =>
      val c = Tables.df(s, dir, "customer").select(col("c_nationkey").as("k"))
      val sup = Tables.df(s, dir, "supplier").select(col("s_nationkey").as("k"))
      c.intersect(sup).withColumn("tag", lit("both"))
        .unionByName(c.except(sup).withColumn("tag", lit("cust_only")))
        .select(col("tag"), col("k"))
        .orderBy(col("tag"), col("k"))
    },

    // FunctionDatasetNode: inline VALUES as a relation joined to real data
    // (reference: opteryx/operators/function_dataset_node.py:583-651).
    QueryDef("q52_values", Some("""
      SELECT v.sla_days, count(*) AS n
      FROM orders o JOIN (VALUES
        ('1-URGENT', 1), ('2-HIGH', 3), ('3-MEDIUM', 7),
        ('4-NOT SPECIFIED', 14), ('5-LOW', 30)) v(prio, sla_days)
        ON o.o_orderpriority = v.prio
      GROUP BY v.sla_days ORDER BY v.sla_days""")) { (s, dir) =>
      import s.implicits._
      val v = Seq(("1-URGENT", 1), ("2-HIGH", 3), ("3-MEDIUM", 7),
        ("4-NOT SPECIFIED", 14), ("5-LOW", 30)).toDF("prio", "sla_days")
      Tables.df(s, dir, "orders")
        .join(broadcast(v), col("o_orderpriority") === col("prio"))
        .groupBy(col("sla_days")).agg(count(lit(1)).as("n"))
        .orderBy(col("sla_days"))
    },

    // JSON family batch 2: JSONB_OBJECT_KEYS + path-exists (reference:
    // opteryx/functions/__init__.py:607 JSONB_OBJECT_KEYS; ops.py:291-365 @?).
    QueryDef("q53_json_extra", Some("""
      SELECT event_id,
             array_to_string(list_sort(CAST(json_keys(props) AS VARCHAR[])), '|') AS keys,
             json_extract(props, '$.k') IS NOT NULL AS has_k,
             CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod
      FROM events ORDER BY event_id""")) { (s, dir) =>
      // ONE JSON parse per row: from_json to a map feeds keys/has_k/k_mod
      // (the previous json_object_keys + 2x get_json_object shape parsed the
      // same document three times — the per-row cost the reference's
      // JSONB-at-scan design avoids by construction, read_node.py:29-88).
      // dfSpread: the 100k-row single-row-group events scan otherwise runs
      // the per-row JSON parse on one core (measured 1.05s -> 0.76s).
      Tables.dfSpread(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.StringType)).as("m"))
        .select(
          col("event_id"),
          // stringified for the gate's pandas canonicalizer (array cells
          // crash its sort); the object-keys capability is unchanged
          array_join(sort_array(map_keys(col("m"))), "|").as("keys"),
          col("m")("k").isNotNull.as("has_k"),
          (col("m")("k").cast("bigint") % 10).as("k_mod"))
        .orderBy(col("event_id"))
    },

    // Bitwise operator family (reference:
    // opteryx/managers/expression/binary_operators.py:203-218 & | ^ << >>).
    QueryDef("q54_bitwise", Some("""
      SELECT p_partkey,
             p_size & 15 AS band,
             p_size | 64 AS bor,
             xor(p_size, 21) AS bxor,
             p_size << 2 AS shl,
             p_size >> 1 AS shr,
             CAST(bit_count(p_size) AS INTEGER) AS bc
      FROM part ORDER BY p_partkey""")) { (s, dir) =>
      Tables.df(s, dir, "part").select(
        col("p_partkey"),
        col("p_size").bitwiseAND(15).as("band"),
        col("p_size").bitwiseOR(64).as("bor"),
        col("p_size").bitwiseXOR(21).as("bxor"),
        shiftleft(col("p_size"), 2).as("shl"),
        shiftright(col("p_size"), 1).as("shr"),
        bit_count(col("p_size")).cast("int").as("bc"))
        .orderBy(col("p_partkey"))
    },

    // ----------------------------------------------------------------
    // TPC-H-shaped multi-join workloads (dates adapted to testdata's
    // 1995-2001 order range). At scale: customer/part/nation broadcast;
    // lineitem⋈orders is the one genuine shuffle join.

    // Q3 shape: segment-filtered revenue top-N. Broadcast the filtered
    // customer dim; top-10 via TakeOrderedAndProject (no full sort).
    QueryDef("q55_tpch_q3", Some("""
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
        AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
      GROUP BY o_orderkey, od
      ORDER BY revenue DESC, o_orderkey LIMIT 10""")) { (s, dir) =>
      val c = Tables.df(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.df(s, dir, "orders")
        .filter(col("o_orderdate") < ts("1997-03-15 00:00:00"))
      val li = Tables.df(s, dir, "lineitem")
        .filter(col("l_shipdate") > ts("1997-03-15 00:00:00"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("od"))
        .agg(RelationalQueries.fsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    // Q13 shape: orders-per-customer distribution (LEFT JOIN preserving
    // zero-order customers, double aggregation).
    QueryDef("q56_tpch_q13", Some("""
      SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey) cc
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")) { (s, dir) =>
      val c = Tables.df(s, dir, "customer")
      val o = Tables.df(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // Q14 shape: promo revenue share — two conditional decimal sums, division
    // deferred to doubles so both engines round identically.
    QueryDef("q57_tpch_q14", Some("""
      SELECT round(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
               THEN CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END) AS DOUBLE)
             / CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE), 4)
             AS promo_share,
             count(*) AS n
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""")) { (s, dir) =>
      val li = Tables.df(s, dir, "lineitem")
        .filter(col("l_shipdate") >= ts("1997-09-01 00:00:00")
          && col("l_shipdate") < ts("1997-10-01 00:00:00"))
      val p = Tables.df(s, dir, "part")
      val rev = floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000 + lit(0.5))
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .agg(
          round(lit(100.0) *
            sum(when(col("p_type").like("PROMO%"), rev).otherwise(lit(0L))).cast("double")
            / sum(rev).cast("double"), 4).as("promo_share"),
          count(lit(1)).as("n"))
    },

    // Q18 shape: large-volume orders — HAVING-filtered semi join; the inner
    // aggregate reuses the same l_orderkey shuffle partitioning at scale.
    QueryDef("q58_tpch_q18", Some("""
      SELECT c_custkey, o_orderkey, o_totalprice, sum(l_quantity) AS total_qty
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
      GROUP BY c_custkey, o_orderkey, o_totalprice
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""")) { (s, dir) =>
      val li = Tables.df(s, dir, "lineitem")
      val big = li.groupBy(col("l_orderkey").as("bk"))
        .agg(sum(col("l_quantity")).as("tq")).filter(col("tq") > 150).select(col("bk"))
      val o = Tables.df(s, dir, "orders")
      val c = Tables.df(s, dir, "customer")
      o.join(big, o("o_orderkey") === big("bk"), "left_semi")
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(li, o("o_orderkey") === li("l_orderkey"))
        .groupBy(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },

    // Q19 shape: OR-of-ANDs bracket predicates over a broadcast part join.
    QueryDef("q59_tpch_q19", Some("""
      SELECT CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue,
             count(*) AS n
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30)""")) { (s, dir) =>
      val li = Tables.df(s, dir, "lineitem")
      val p = Tables.df(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(10, 30) && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(20, 50) && col("l_quantity").between(20, 30)))
        .agg(RelationalQueries.fsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n"))
    },

    // Q10 shape: returned-item revenue by customer — date-windowed, top 20.
    QueryDef("q60_tpch_q10", Some("""
      SELECT c_custkey, c_name, n_name,
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS revenue
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey LIMIT 20""")) { (s, dir) =>
      val c = Tables.df(s, dir, "customer")
      val o = Tables.df(s, dir, "orders")
        .filter(col("o_orderdate") >= ts("1997-10-01 00:00:00")
          && col("o_orderdate") < ts("1998-01-01 00:00:00"))
      val li = Tables.df(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val n = Tables.df(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(RelationalQueries.fsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // Q9 shape: profit by supplier nation × order year (5-way join; only
    // lineitem⋈orders shuffles — part/supplier/nation broadcast).
    QueryDef("q61_tpch_q9", Some("""
      SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0 AS profit
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%re%'
      GROUP BY n_name, o_year ORDER BY n_name, o_year DESC""")) { (s, dir) =>
      val li = Tables.df(s, dir, "lineitem")
      val p = Tables.df(s, dir, "part").filter(col("p_name").like("%re%"))
      val sup = Tables.df(s, dir, "supplier")
      val o = Tables.df(s, dir, "orders")
      val n = Tables.df(s, dir, "nation")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(RelationalQueries.fsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("profit"))
        .orderBy(col("n_name"), col("o_year").desc)
    },

    // Window family batch 2: RANK/DENSE_RANK/NTILE/LEAD/FIRST_VALUE (beyond
    // the reference — SURVEY.md §2.1 "no window functions").
    QueryDef("q62_window_extra", Some("""
      SELECT o_custkey, o_orderkey,
             rank() OVER w AS rnk,
             dense_rank() OVER w AS drnk,
             ntile(4) OVER w AS quartile,
             lead(o_orderkey) OVER w AS next_key,
             first_value(o_orderkey) OVER w AS first_key
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      ORDER BY o_custkey, o_orderkey""")) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      Tables.df(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        first_value(col("o_orderkey")).over(w).as("first_key"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // Kleene three-valued logic + null-strict functions (reference: filter
    // Kleene nulls at opteryx/operators/filter_node.py:66-82; null-compressed
    // function application at opteryx/functions/__init__.py:661-721; unary IS
    // ops at managers/expression/unary_operations.py:121-127). nullif injects
    // NULLs deterministically so every branch is exercised.
    QueryDef("q64_null_semantics", Some("""
      SELECT n_nationkey,
             v IS NULL AS is_n,
             v IS NOT NULL AS is_nn,
             (v > 10) IS NOT TRUE AS not_true,
             (v > 10) IS NOT FALSE AS not_false,
             ((v > 10) AND (n_regionkey = 0)) AS and3,
             ((v > 10) OR (n_regionkey = 0)) AS or3,
             v IS NOT DISTINCT FROM n_nationkey AS nse,
             upper(CAST(v AS VARCHAR)) AS up_null,
             n_nationkey NOT IN (1, 2) AS notin,
             len(list_filter(CAST([] AS INTEGER[]), y -> y > 0)) > 0 AS any_empty,
             len(list_filter(CAST([] AS INTEGER[]), y -> y > 0)) = 0 AS all_empty
      FROM (SELECT n_nationkey, n_regionkey, nullif(n_nationkey % 7, 3) AS v FROM nation) t
      ORDER BY n_nationkey""")) { (s, dir) =>
      Tables.df(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"),
          nullif(col("n_nationkey") % 7, lit(3)).as("v"))
        .select(
          col("n_nationkey"),
          col("v").isNull.as("is_n"),
          col("v").isNotNull.as("is_nn"),
          expr("(v > 10) IS NOT TRUE").as("not_true"),
          expr("(v > 10) IS NOT FALSE").as("not_false"),
          ((col("v") > 10) && (col("n_regionkey") === 0)).as("and3"),
          ((col("v") > 10) || (col("n_regionkey") === 0)).as("or3"),
          (col("v") <=> col("n_nationkey")).as("nse"),
          upper(col("v").cast("string")).as("up_null"),
          (!col("n_nationkey").isin(1, 2)).as("notin"),
          exists(lit(Array.empty[Int]), y => y > 0).as("any_empty"),
          forall(lit(Array.empty[Int]), y => y > 0).as("all_empty"))
        .orderBy(col("n_nationkey"))
    },

    // NOT IN against a list containing NULL — the classic three-valued trap:
    // x NOT IN (..., NULL) is never TRUE, so the filter returns zero rows on
    // both engines (reference ops table: managers/expression/ops.py:150-260).
    QueryDef("q65_not_in_null", Some("""
      SELECT count(*) AS n FROM nation
      WHERE n_nationkey NOT IN (SELECT nullif(s_nationkey, s_nationkey) FROM supplier)""")) { (s, dir) =>
      val nulls = Tables.df(s, dir, "supplier")
        .select(nullif(col("s_nationkey"), col("s_nationkey")).as("k"))
      val n = Tables.df(s, dir, "nation")
      // NOT IN (subquery) = null-aware anti join — Spark plans exactly that
      n.join(nulls, n("n_nationkey") <=> nulls("k")
          || nulls("k").isNull || n("n_nationkey").isNull, "left_anti")
        .agg(count(lit(1)).as("n"))
    },

    // Schema-on-read drift: union by name with typed-null backfill (reference
    // normalize_morsel at opteryx/operators/read_node.py:91-129).
    QueryDef("q63_union_byname", Some("""
      SELECT k, nm FROM (
        SELECT n_nationkey AS k, n_name AS nm FROM nation
        UNION ALL BY NAME
        SELECT s_suppkey AS k FROM supplier)
      ORDER BY k, nm""")) { (s, dir) =>
      val n = Tables.df(s, dir, "nation")
        .select(col("n_nationkey").as("k"), col("n_name").as("nm"))
      val sup = Tables.df(s, dir, "supplier").select(col("s_suppkey").as("k"))
      n.unionByName(sup, allowMissingColumns = true)
        .select(col("k"), col("nm"))
        .orderBy(col("k"), col("nm"))
    }
  )
}
