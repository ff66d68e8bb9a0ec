package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSqlSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark
  private lazy val g = {
    val eng = Graft(spark)
    eng.registerDir(SharedSpark.sf)
    eng
  }

  test("json arrow operators") {
    val r = g.query("SELECT event_id, props ->> 'k' AS k FROM events ORDER BY event_id LIMIT 3")
    assert(r.columns.toSeq == Seq("event_id", "k"))
    assert(r.count() == 3)
    val direct = g.query("SELECT props -> 'k' AS k FROM events WHERE props @? 'k' LIMIT 1")
    assert(direct.head().getString(0) != null)
  }

  test("lambda arrows and literal arrows survive the JSON rewrite") {
    // Spark lambda with integer body — must NOT become get_json_object
    val t = g.query("SELECT transform(array(1,2,3), x -> 1) AS a")
    assert(t.head().getSeq[Int](0) == Seq(1, 1, 1))
    // lambda with expression body never matches the accessor shape
    val t2 = g.query("SELECT aggregate(array(1,2,3), 0, (acc, x) -> acc + x) AS s")
    assert(t2.head().getInt(0) == 6)
    // arrow inside a string literal is content
    val lit = g.query("SELECT 'a -> 1' AS s")
    assert(lit.head().getString(0) == "a -> 1")
    // comment containing an apostrophe must not invert literal tracking
    val c = g.query("-- don't trip the literal scanner\nSELECT 'it''s fine' AS s -- ok\n")
    assert(c.head().getString(0) == "it's fine")
  }

  test("chained JSON arrows rewrite to nested get_json_object") {
    // parses and runs (events props has no nested objects, so value is null —
    // the point is that `props -> 'a' ->> 'b'` no longer fails to parse)
    val r = g.query("SELECT props -> 'a' ->> 'b' AS v FROM events LIMIT 1")
    assert(r.columns.toSeq == Seq("v"))
    assert(r.count() == 1)
    // arrow accessor as a function argument keeps working
    val f = g.query(
      "SELECT count(*) AS n FROM events WHERE CAST(props ->> 'k' AS BIGINT) >= 0")
    assert(f.head().getLong(0) > 0)
  }

  test("GENERATE_SERIES with nested calls and multiple occurrences") {
    val n = g.query(
      "SELECT sum(col) AS s FROM (SELECT * FROM GENERATE_SERIES(1, cardinality(array(1,2,3))))")
    assert(n.head().getLong(0) == 6)
    val two = g.query(
      """SELECT (SELECT sum(col) FROM (SELECT * FROM GENERATE_SERIES(1, 3))) +
        |       (SELECT sum(col) FROM (SELECT * FROM GENERATE_SERIES(4, 5))) AS s""".stripMargin)
    assert(two.head().getLong(0) == 15)
  }

  test("DISTINCT ON rewrite picks first row per key") {
    val r = g.query(
      """SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal
        |FROM customer ORDER BY c_nationkey, c_acctbal DESC""".stripMargin)
    val rows = r.collect()
    assert(rows.map(_.getInt(0)).distinct.length == rows.length)
    // must agree with the q06 window formulation modulo tie-breaks on acctbal
    val viaWindow = SparkEntry.queries("q06_distinct_on")(spark, SharedSpark.sf).collect()
    assert(rows.length == viaWindow.length)
  }

  test("path tables resolve") {
    val r = g.query(s"SELECT count(*) AS n FROM '${SharedSpark.sf}/nation.parquet'")
    assert(r.head().getLong(0) == 25)
  }

  test("temporal FOR DATES BETWEEN filters the scan") {
    val all = g.query("SELECT count(*) AS n FROM events").head().getLong(0)
    val some = g.query(
      "SELECT count(*) AS n FROM events FOR DATES BETWEEN '2024-01-01' AND '2024-01-03'")
      .head().getLong(0)
    assert(some > 0 && some < all)
    // joins keep working with the original name as alias
    val j = g.query(
      """SELECT count(*) AS n FROM events FOR DATES BETWEEN '2024-01-01' AND '2024-01-03'
        |WHERE events.value > 50""".stripMargin).head().getLong(0)
    assert(j > 0 && j <= some)
  }

  test("FOR on a non-temporal relation is a no-op") {
    val n = g.query("SELECT count(*) AS n FROM nation FOR YESTERDAY").head().getLong(0)
    assert(n == 25)
  }

  test("positional parameters bind injection-safe") {
    val r = g.query("SELECT count(*) AS n FROM customer WHERE c_nationkey = ?", 3)
    assert(r.head().getLong(0) > 0)
  }

  test("named parameters bind injection-safe (reference ast_rewriter semantics)") {
    val r = g.query(
      "SELECT count(*) AS n FROM customer WHERE c_nationkey = :nk AND c_mktsegment = :seg",
      Map("nk" -> 3, "seg" -> "BUILDING"))
    val direct = g.query(
      "SELECT count(*) AS n FROM customer WHERE c_nationkey = 3 AND c_mktsegment = 'BUILDING'")
    assert(r.head().getLong(0) == direct.head().getLong(0))
    // a value that looks like SQL stays a value — binding, not splicing
    val inj = g.query("SELECT count(*) AS n FROM customer WHERE c_mktsegment = :seg",
      Map("seg" -> "' OR '1'='1"))
    assert(inj.head().getLong(0) == 0)
  }

  test("FOR DATES IN named ranges resolve per the reference's parse_range") {
    // events data is historical (2024) so THIS_MONTH/LAST_MONTH select zero
    // rows — the point is the clause parses, plans, and filters
    val n = g.query("SELECT count(*) AS n FROM events FOR DATES IN THIS_MONTH")
      .head().getLong(0)
    assert(n == 0)
    val m = g.query("SELECT count(*) AS n FROM events FOR DATES IN LAST_MONTH")
      .head().getLong(0)
    assert(m == 0)
    val e = intercept[IllegalArgumentException] {
      g.query("SELECT count(*) AS n FROM events FOR DATES IN NEXT_DECADE")
    }
    assert(e.getMessage.contains("NEXT_DECADE"))
  }

  test("temporal FOR over a partitioned dataset prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dated").toString
    Tables.df(spark, SharedSpark.sf, "events")
      .withColumn("dt", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("ts")))
      .write.mode("overwrite").partitionBy("dt").parquet(dir)
    g.registerPartitioned("events_dated", dir, "dt")
    val all = g.query("SELECT count(*) AS n FROM events_dated").head().getLong(0)
    val df = g.query(
      "SELECT count(*) AS n FROM events_dated FOR DATES BETWEEN '2024-01-01' AND '2024-01-02'")
    assert(df.head().getLong(0) > 0 && df.head().getLong(0) < all)
    // partition pruning: the FOR range must arrive as PartitionFilters on dt
    // (plan string — the scan may sit under AQE wrapper nodes)
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters: ["))
      .getOrElse(fail(s"no PartitionFilters in plan:\n$plan"))
    assert(pf.replaceAll(".*PartitionFilters: \\[", "").contains("dt"),
      s"expected partition filters on dt: $pf")
  }

  test("comments are stripped") {
    val r = g.query("SELECT 1 AS x -- trailing comment\n/* block */")
    assert(r.head().getInt(0) == 1)
  }

  test("virtual datasets: $planets, $satellites, $no_table, $stop_words, $variables") {
    assert(g.query("SELECT count(*) AS n FROM $planets").head().getLong(0) == 9)
    assert(g.query("SELECT name FROM $planets WHERE id = 3").head().getString(0) == "Earth")
    val j = g.query("""
      SELECT p.name, count(*) AS n_sats
      FROM $planets p JOIN $satellites s ON p.id = s.planet_id
      GROUP BY p.name ORDER BY n_sats DESC, p.name LIMIT 3""").collect()
    assert(j.length == 3)
    assert(g.query("SELECT 1 AS one FROM $no_table").head().getInt(0) == 1)
    assert(g.query("SELECT count(*) AS n FROM $stop_words").head().getLong(0) > 100)
    assert(g.query("SELECT count(*) AS n FROM $variables").head().getLong(0) > 0)
  }

  test("FAKE table function generates random columns") {
    val df = g.query("SELECT * FROM FAKE(100, 3)")
    assert(df.columns.toSeq == Seq("column_0", "column_1", "column_2"))
    assert(df.count() == 100)
  }

  test("GENERATE_SERIES and UNNEST table functions") {
    val s = g.query("SELECT sum(col) AS s FROM (SELECT * FROM GENERATE_SERIES(1, 100))")
    assert(s.head().getLong(0) == 5050)
    val u = g.query("SELECT col AS v FROM (SELECT * FROM UNNEST(array(10, 20, 30)))")
    assert(u.collect().map(_.getInt(0)).toSeq == Seq(10, 20, 30))
  }

  test("JSON views define, load, and compose with the dialect") {
    g.defineView("big_orders", "SELECT * FROM orders WHERE o_totalprice > 200000")
    assert(g.query("SELECT count(*) AS n FROM big_orders").head().getLong(0) > 0)
    val vf = java.nio.file.Files.createTempFile("views", ".json")
    java.nio.file.Files.writeString(vf,
      """{"nation_json": "SELECT n_nationkey AS k, upper(n_name) AS nm FROM nation"}""")
    g.loadViews(vf.toString)
    assert(g.query("SELECT count(*) AS n FROM nation_json").head().getLong(0) == 25)
  }

  test("EXECUTE prepared statements bind positionally") {
    g.prepare("cust_by_nation", "SELECT count(*) AS n FROM customer WHERE c_nationkey = ?")
    val viaExec = g.query("EXECUTE cust_by_nation (3)").head().getLong(0)
    val direct = g.query("SELECT count(*) AS n FROM customer WHERE c_nationkey = 3").head().getLong(0)
    assert(viaExec == direct && viaExec > 0)
    g.prepare("seg", "SELECT count(*) AS n FROM customer WHERE c_mktsegment = ?")
    assert(g.query("EXECUTE seg ('BUILDING')").head().getLong(0) > 0)
  }

  test("EXECUTE binds quoted commas and '' escapes as one string each") {
    g.prepare("pair", "SELECT ? AS a, ? AS b")
    val r = g.query("EXECUTE pair ('x,y', 'it''s')").head()
    assert((r.getString(0), r.getString(1)) == ("x,y", "it's"))
  }

  test("explain returns a formatted plan") {
    val plan = g.explain("SELECT count(*) FROM lineitem WHERE l_quantity > 10")
    assert(plan.contains("Scan parquet") || plan.contains("PushedFilters") || plan.nonEmpty)
  }

  test("JSON arrows accept a string-literal LHS, chained") {
    assert(g.query("SELECT '{\"k\": 42}' ->> 'k' AS v").head().getString(0) == "42")
    assert(g.query("SELECT '{\"a\": {\"b\": \"deep\"}}' -> 'a' ->> 'b' AS v")
      .head().getString(0) == "deep")
    assert(g.query("SELECT '[10, 20, 30]' -> 1 AS v").head().getString(0) == "20")
    // literal LHS with a lambda arrow earlier in the same statement
    val mixed = g.query(
      "SELECT transform(array(1), x -> x + 1) AS a, '{\"v\": 9}' ->> 'v' AS v")
    assert(mixed.head().getString(1) == "9")
  }

  test("quantified scanner: function-call RHS, subquery forms, aggregate ANY untouched") {
    // array-function RHS (the old identifier-only regex missed these)
    assert(g.query("SELECT 'x' != ALL(array('y', 'z')) AS v").head().getBoolean(0))
    assert(g.query("SELECT 3 < ANY(transform(array(1, 2), x -> x * 2)) AS v")
      .head().getBoolean(0))
    // subquery forms → IN / extremum scalar subquery
    val inForm = g.query(
      "SELECT count(*) AS n FROM nation WHERE n_regionkey = ANY (SELECT r_regionkey FROM region WHERE r_regionkey < 2)")
    assert(inForm.head().getLong(0) > 0)
    val allForm = g.query(
      "SELECT count(*) AS n FROM supplier WHERE s_acctbal > ALL (SELECT 0.0)")
    val direct = g.query(
      "SELECT count(*) AS n FROM supplier WHERE s_acctbal > 0.0")
    assert(allForm.head().getLong(0) == direct.head().getLong(0))
    // bare ANY(...) with no comparison operator is Spark's boolean aggregate
    assert(!g.query("SELECT any(n_regionkey > 99) AS v FROM nation").head().getBoolean(0))
  }

  test("numeric literal spellings: 0x hex and underscore separators") {
    assert(g.query("SELECT 0x1F AS v").head().getAs[Number](0).longValue == 31L)
    assert(g.query("SELECT 1_000_000 AS v").head().getAs[Number](0).longValue == 1000000L)
    // inside a string literal these are content, not literals
    assert(g.query("SELECT '0x1F and 1_000' AS v").head().getString(0) == "0x1F and 1_000")
  }

  test("numeric literal edges: hex overflow surfaces as SQL error, backticked names untouched") {
    // > Long.MaxValue: the rewriter must leave the token for Spark to report,
    // not throw NumberFormatException out of the shim
    val err = intercept[Exception](g.query("SELECT 0xFFFFFFFFFFFFFFFF AS v").collect())
    assert(!err.isInstanceOf[NumberFormatException], s"leaked: $err")
    // digit-leading backtick-quoted identifiers keep their underscores
    assert(g.query("SELECT `1_2` AS v FROM (SELECT 42 AS `1_2`)")
      .head().getAs[Number](0).longValue == 42L)
  }

  test("lambda arrows with literal bodies stay lambdas; accessors in plain calls still rewrite") {
    // string-literal lambda body inside a higher-order function (ADVICE r2)
    assert(g.query("SELECT transform(array(1, 2), x -> 'tag') AS a")
      .head().getSeq[String](0) == Seq("tag", "tag"))
    // integer lambda body with a parenthesized parameter list
    assert(g.query("SELECT aggregate(array(1, 2), 0, (acc, x) -> 7) AS v")
      .head().getInt(0) == 7)
    // bare identifier after '(' in a NON-higher-order call is an accessor
    assert(g.query("SELECT length(j ->> 'k') AS v FROM (SELECT '{\"k\": \"abc\"}' AS j)")
      .head().getInt(0) == 3)
    // integer-subscript accessor directly inside coalesce
    assert(g.query("SELECT coalesce(j -> 0, 'x') AS v FROM (SELECT '[5, 6]' AS j)")
      .head().getString(0) == "5")
  }

  test("quantified LIKE: multi-space NOT LIKE, native pattern lists preserved") {
    // 'NOT  LIKE' (double space) must not corrupt the rewritten lambda
    assert(g.query("SELECT 'abc' NOT  LIKE ALL(array('z%', 'q%')) AS v")
      .head().getBoolean(0))
    // Spark's native pattern-list form is not an array RHS — left alone
    assert(g.query("SELECT 'hello' LIKE ANY ('z%', 'h%') AS v").head().getBoolean(0))
    assert(!g.query("SELECT 'hello' LIKE ALL ('z%', 'h%') AS v").head().getBoolean(0))
    // LIKE-family over a subquery is rejected with a clear message
    val e = intercept[IllegalArgumentException](
      g.query("SELECT 'x' LIKE ANY (SELECT n_name FROM nation) AS v"))
    assert(e.getMessage.contains("LIKE-family"))
  }

  test("quantified subqueries: ANSI NULL and empty-set semantics") {
    def one(sql: String): org.apache.spark.sql.Row = g.query(sql).head()
    // empty set: ALL → TRUE, ANY → FALSE
    assert(one("SELECT 5 > ALL (SELECT v FROM (SELECT 1 AS v) WHERE v > 10) AS r").getBoolean(0))
    assert(!one("SELECT 5 > ANY (SELECT v FROM (SELECT 1 AS v) WHERE v > 10) AS r").getBoolean(0))
    // NULL element flips a would-be TRUE into UNKNOWN, but a refute still wins
    assert(one("SELECT 5 > ALL (SELECT * FROM VALUES (1), (NULL) AS t(v)) AS r").isNullAt(0))
    assert(!one("SELECT 0 > ALL (SELECT * FROM VALUES (1), (NULL) AS t(v)) AS r").getBoolean(0))
    assert(one("SELECT 5 > ANY (SELECT * FROM VALUES (1), (NULL) AS t(v)) AS r").getBoolean(0))
    assert(one("SELECT 0 > ANY (SELECT * FROM VALUES (1), (NULL) AS t(v)) AS r").isNullAt(0))
    // NULL lhs over a non-empty set is UNKNOWN
    assert(one("SELECT CAST(NULL AS INT) > ALL (SELECT * FROM VALUES (1) AS t(v)) AS r").isNullAt(0))
    // = ALL / != ANY forms (previously unsupported)
    assert(one("SELECT 3 = ALL (SELECT * FROM VALUES (3), (3) AS t(v)) AS r").getBoolean(0))
    assert(!one("SELECT 3 = ALL (SELECT * FROM VALUES (3), (4) AS t(v)) AS r").getBoolean(0))
    assert(one("SELECT 3 = ALL (SELECT v FROM (SELECT 1 AS v) WHERE v > 10) AS r").getBoolean(0))
    assert(one("SELECT 3 = ALL (SELECT * FROM VALUES (3), (NULL) AS t(v)) AS r").isNullAt(0))
    assert(one("SELECT 3 != ANY (SELECT * FROM VALUES (3), (4) AS t(v)) AS r").getBoolean(0))
    assert(!one("SELECT 3 != ANY (SELECT * FROM VALUES (3), (3) AS t(v)) AS r").getBoolean(0))
    assert(!one("SELECT 3 != ANY (SELECT v FROM (SELECT 1 AS v) WHERE v > 10) AS r").getBoolean(0))
    // unary-minus LHS: the sign folds INTO the captured operand (round-4
    // ADVICE — `-5` must not become `-(CASE ...)`), incl. WHERE context
    assert(one("SELECT -5 > ALL (SELECT * FROM VALUES (-7), (-9) AS t(v)) AS r").getBoolean(0))
    assert(!one("SELECT -5 > ALL (SELECT * FROM VALUES (-3) AS t(v)) AS r").getBoolean(0))
    assert(one("SELECT -5 = ANY (SELECT * FROM VALUES (-5), (1) AS t(v)) AS r").getBoolean(0))
    assert(g.query(
      "SELECT count(*) AS n FROM nation WHERE -5 > ALL (SELECT -n_nationkey - 1 FROM nation WHERE n_nationkey >= 5)")
      .head().getLong(0) == 25L)
    // binary minus still chains: whole arithmetic LHS is captured
    assert(one("SELECT 10 - 5 = ANY (SELECT * FROM VALUES (5) AS t(v)) AS r").getBoolean(0))
    // binary minus after CASE … END captures the whole CASE (round-5
    // ADVICE — treating the sign as unary stranded `CASE … END` mid-rewrite)
    assert(one("SELECT CASE WHEN 1 = 1 THEN 8 ELSE 0 END - 3 = ANY (SELECT * FROM VALUES (5) AS t(v)) AS r").getBoolean(0))
    assert(!one("SELECT CASE WHEN 1 = 0 THEN 8 ELSE 0 END - 3 = ANY (SELECT * FROM VALUES (5) AS t(v)) AS r").getBoolean(0))
    // nested CASE inside the LHS still matches its own END
    assert(one("SELECT CASE WHEN 1 = 1 THEN CASE WHEN 2 = 2 THEN 9 ELSE 0 END ELSE 0 END - 4 = ANY (SELECT * FROM VALUES (5) AS t(v)) AS r").getBoolean(0))
  }

  test("nested quantified subqueries: the subquery text is pasted once per level") {
    def sub(j: Int): String =
      if (j == 0) "SELECT r_regionkey FROM region"
      else s"SELECT r_regionkey FROM region WHERE r_regionkey >= ALL (${sub(j - 1)})"
    def nested(k: Int): String =
      s"SELECT n_nationkey FROM nation WHERE n_nationkey > ALL (${sub(k - 1)}) ORDER BY n_nationkey"
    for (k <- 1 to 5) {
      val sql = nested(k)
      val grown = GraftSql.rewrite(sql).sql.length - sql.length
      assert(grown <= 600 * k, s"$k levels: the rewrite added $grown chars")
    }
    // every region key is >= ALL only for the maximum (4), so nations 5..24
    assert(g.query(nested(2)).collect().map(_.getAs[Number](0).longValue).toSeq == (5L to 24L))
    // lhs stays outside the subquery, so it resolves wherever a comparison
    // does: an aggregate lhs under HAVING and in a grouped SELECT list
    // (region key sums 50, 47, 68, 77, 58 against max 56), a JOIN condition,
    // and an outer reference two levels up
    def longs(sql: String): Seq[Long] =
      g.query(sql).collect().map(_.getAs[Number](0).longValue).toSeq
    assert(longs("SELECT n_regionkey FROM nation GROUP BY n_regionkey " +
      "HAVING SUM(n_nationkey) > ALL (SELECT r_regionkey * 14 FROM region) ORDER BY n_regionkey") ==
      Seq(2L, 3L, 4L))
    assert(g.query("SELECT n_regionkey, SUM(n_nationkey) > ALL (SELECT r_regionkey * 14 FROM region) " +
      "AS b FROM nation GROUP BY n_regionkey ORDER BY n_regionkey").collect()
      .map(_.getBoolean(1)).toSeq == Seq(false, false, true, true, true))
    assert(longs("SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey " +
      "AND n_nationkey > ALL (SELECT r_regionkey * 4 FROM region) ORDER BY n_nationkey") ==
      (17L to 24L))
    assert(longs("SELECT r_regionkey FROM region r WHERE EXISTS (SELECT 1 FROM nation n " +
      "WHERE n.n_regionkey = r.r_regionkey AND r.r_regionkey > ALL " +
      "(SELECT n2.n_regionkey FROM nation n2 WHERE n2.n_nationkey < 3)) ORDER BY r_regionkey") ==
      Seq(3L, 4L))
    // `= ANY` is IN, never quantified_cmp; called by hand it is refused
    val e = intercept[Exception](g.query("SELECT quantified_cmp(1, (SELECT named_struct(" +
      "'cnt', 1L, 'nulls', 0L, 'min', 1, 'max', 1)), '=', 'ANY') AS v").collect())
    assert(String.valueOf(e.getMessage).contains("quantified_cmp"))
  }

  test("visibility filters: DNF injected at every resolution, pushed to the scan") {
    val totalNation = g.query("SELECT count(*) AS n FROM nation").head().getLong(0)
    // OR of two clauses, one with an AND pair
    g.setVisibilityFilters("nation", Seq(
      Seq(("n_regionkey", "Eq", 1)),
      Seq(("n_regionkey", "Eq", 2), ("n_nationkey", "Lt", 100))))
    try {
      // the filter applies under any spelling: bare scan, alias, join side
      val n1 = g.query("SELECT count(*) AS n FROM nation").head().getLong(0)
      val n2 = g.query("SELECT count(*) AS n FROM nation AS x WHERE x.n_nationkey >= 0")
        .head().getLong(0)
      assert(n1 == n2 && n1 < totalNation && n1 > 0)
      val joined = g.query(
        "SELECT count(*) AS n FROM region JOIN nation ON r_regionkey = n_regionkey")
        .head().getLong(0)
      assert(joined == n1)
      // pushdown: the visibility predicate reaches the parquet scan
      val plan = g.query("SELECT n_name FROM nation").queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("n_regionkey"),
        s"visibility filter must push to the scan:\n$plan")
      // empty DNF hides the relation (reference's TRUE=FALSE injection)
      g.setVisibilityFilters("nation", Seq.empty)
      assert(g.query("SELECT count(*) AS n FROM nation").head().getLong(0) == 0L)
    } finally g.clearVisibilityFilters("nation")
    assert(g.query("SELECT count(*) AS n FROM nation").head().getLong(0) == totalNation)
  }

  test("visibility filters: InList / Like / IsNull operators") {
    g.setVisibilityFilters("region", Seq(Seq(("r_name", "InList", Seq("AFRICA", "ASIA")))))
    try {
      val names = g.query("SELECT r_name FROM region ORDER BY r_name")
        .collect().map(_.getString(0)).toSeq
      assert(names == Seq("AFRICA", "ASIA"))
    } finally g.clearVisibilityFilters("region")
    g.setVisibilityFilters("region", Seq(Seq(("r_name", "Like", "AMER%"))))
    try
      assert(g.query("SELECT count(*) AS n FROM region").head().getLong(0) == 1L)
    finally g.clearVisibilityFilters("region")
    g.setVisibilityFilters("region", Seq(Seq(("r_name", "IsNotNull", null))))
    try
      assert(g.query("SELECT count(*) AS n FROM region").head().getLong(0) == 5L)
    finally g.clearVisibilityFilters("region")
  }

  test("string_split treats a column-valued separator literally; LEN sizes arrays") {
    // '.' from a column must split literally, not as regex-any-char
    val r = g.query(
      "SELECT string_split(s, sep) AS parts FROM (SELECT 'a.b.c' AS s, '.' AS sep)")
      .head().getSeq[String](0)
    assert(r == Seq("a", "b", "c"))
    val pipe = g.query(
      "SELECT string_split(s, sep) AS parts FROM (SELECT 'x|y' AS s, '|' AS sep)")
      .head().getSeq[String](0)
    assert(pipe == Seq("x", "y"))
    // reference LEN accepts lists as well as strings (functions registry)
    assert(g.query("SELECT len(string_split('a b c', ' ')) AS n").head().getInt(0) == 3)
    assert(g.query("SELECT len('abcd') AS n").head().getInt(0) == 4)
  }

  test("cast spellings: SAFE_CAST, bare VARCHAR, BLOB, EXTRACT(EPOCH)") {
    assert(g.query("SELECT SAFE_CAST('abc' AS INT) AS v").head().isNullAt(0))
    assert(g.query("SELECT CAST(42 AS VARCHAR) AS v").head().getString(0) == "42")
    assert(g.query("SELECT BLOB('ab') = 'ab' AS v").head().getBoolean(0))
    assert(g.query(
      "SELECT EXTRACT(EPOCH FROM TIMESTAMP '1970-01-01 00:01:00') AS v")
      .head().getLong(0) == 60L)
  }

  test("multi-statement scripts: SET then SELECT, last result wins") {
    val r = g.query("SET @mscript = 'Earth'; SELECT name FROM $planets WHERE name = @mscript")
    assert(r.count() == 1 && r.head().getString(0) == "Earth")
    val two = g.query("SET @x1 = 10; SET @x2 = 32; SELECT @x1 + @x2 AS v")
    assert(two.head().getAs[Number](0).intValue == 42)
    // semicolons inside literals don't split
    assert(g.query("SELECT 'a;b' AS v").head().getString(0) == "a;b")
  }

  test("information_schema.tables/columns reflect the catalog") {
    val t = g.query("SELECT table_name FROM information_schema.tables WHERE table_name = 'customer'")
    assert(t.count() == 1)
    val c = g.query(
      "SELECT column_name FROM information_schema.columns WHERE table_name = 'region' ORDER BY ordinal_position")
      .collect().map(_.getString(0)).toSeq
    assert(c == Seq("r_regionkey", "r_name"))
  }

  test("infix XOR binds between AND and OR, not at comparison level") {
    val r = g.query(
      "SELECT TRUE XOR FALSE AS a, 2 > 1 XOR 3 > 4 AS b, " +
        "TRUE AND TRUE XOR FALSE AS c, TRUE XOR FALSE XOR TRUE AS e, " +
        "CASE WHEN 1 > 2 XOR 2 > 1 THEN 'y' ELSE 'n' END AS d")
      .head()
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2))
    assert(!r.getBoolean(3))
    assert(r.getString(4) == "y")
    // XOR at OR-operand position: OR is the boundary on both sides
    val or = g.query("SELECT FALSE OR TRUE XOR TRUE OR FALSE AS v").head()
    assert(!or.getBoolean(0))
    // inside a WHERE over a relation
    val w = g.query(
      "SELECT id FROM $planets WHERE id > 7 XOR id < 3 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq
    assert(w == Seq(1, 2, 8, 9))
    // the word inside a string literal is content
    assert(g.query("SELECT 'a XOR b' AS v").head().getString(0) == "a XOR b")
  }

  test("b/r literal prefixes strip only outside string literals") {
    val r = g.query(
      "SELECT 'a b''c'' d' AS s, b'abc' AS t, r'x.d' AS u, 'B b' AS w").head()
    assert(r.getString(0) == "a b'c' d")
    assert(r.getString(1) == "abc")
    assert(r.getString(2) == "x.d")
    assert(r.getString(3) == "B b")
  }

  test("@@vars: aliased as bare select items, plain expressions elsewhere") {
    val bare = g.query("SELECT @@version, @@autocommit")
    assert(bare.columns.toSeq == Seq("version", "autocommit"))
    assert(bare.head().isNullAt(0))
    val expr = g.query(
      "SELECT CASE WHEN @@autocommit IS NULL THEN 'null' ELSE 'set' END AS w")
    assert(expr.head().getString(0) == "null")
    assert(g.query("SELECT 1 AS v WHERE @@a = @@b").count() == 0)
  }

  test("unquoted hyphenated identifier chains resolve as path tables") {
    val dir = new java.io.File("target/hyph-fixture")
    spark.range(5).selectExpr("id AS v").write.mode("overwrite").parquet(dir.getPath)
    assert(g.query("SELECT count(*) AS n FROM target.hyph-fixture")
      .head().getLong(0) == 5)
    // ordinary dotted names and spaced arithmetic never match
    assert(g.query("SELECT count(*) AS n FROM $planets WHERE id - 1 > 7")
      .head().getLong(0) == 1)
  }

  test("hyphen chains inside string literals are content, not path tables") {
    assert(g.query("SELECT 'FROM testdata.hyphened-name' AS s")
      .head().getString(0) == "FROM testdata.hyphened-name")
  }

  test("INTERVAL - INTERVAL stays native arithmetic") {
    val r = g.query(
      "SELECT INTERVAL '3' DAY - INTERVAL '2' DAY = INTERVAL '1' DAY AS v").head()
    assert(r.getBoolean(0))
  }

  test("INTERVAL minuend swaps to the reference's operand-minus-interval form") {
    val r = g.query(
      "SELECT INTERVAL '1' DAY - TIMESTAMP '2024-01-02 00:00:00' = TIMESTAMP '2024-01-01 00:00:00' AS v, " +
        "INTERVAL '2' HOUR - current_timestamp < current_timestamp AS w").head()
    assert(r.getBoolean(0))
    assert(r.getBoolean(1))
    // interval-on-the-right stays native
    val n = g.query(
      "SELECT TIMESTAMP '2024-01-02 00:00:00' - INTERVAL '1' DAY = TIMESTAMP '2024-01-01 00:00:00' AS v").head()
    assert(n.getBoolean(0))
  }

  test("CASE branches mixing string literals and bare booleans widen to STRING") {
    val r = g.query(
      "SELECT CASE WHEN id > 0 THEN 'TRUE' ELSE FALSE END AS result FROM $planets LIMIT 1")
    assert(r.head().getString(0) == "TRUE")
    assert(g.query("SELECT CASE WHEN 1 = 2 THEN 'x' ELSE FALSE END AS v")
      .head().getString(0) == "false")
    // an all-boolean CASE keeps its BOOLEAN type
    val b = g.query("SELECT CASE WHEN 1 = 1 THEN TRUE ELSE FALSE END AS v")
    assert(b.schema.head.dataType == org.apache.spark.sql.types.BooleanType)
  }

  test("virtual column aliases rewrite only the owning relation's qualifier") {
    val earthSats = g.query(
      "SELECT COUNT(*) AS n FROM $satellites WHERE planetId = 3").head().getLong(0)
    assert(earthSats > 0)
    // s.planet_id resolves via the satellites alias; p.id is untouched
    val joined = g.query(
      "SELECT COUNT(*) AS n FROM $planets p JOIN $satellites s ON p.id = s.planet_id WHERE p.name = 'Earth'")
    assert(joined.head().getLong(0) == earthSats)
    // a same-named column on ANOTHER table must not be renamed: build a
    // temp view carrying planet_id and join it with $satellites
    spark.sql("SELECT 3 AS planet_id").createOrReplaceTempView("my_probe")
    val other = g.query(
      "SELECT COUNT(*) AS n FROM my_probe JOIN $satellites s ON my_probe.planet_id = s.planetId")
    assert(other.head().getLong(0) == earthSats)
  }

  test("rewrites run to completion however many occurrences a statement holds") {
    def items(n: Int)(f: Int => String) = (1 to n).map(f).mkString("SELECT ", ", ", " FROM t")
    val arrows = GraftSql.rewrite(items(65)(i => s"j -> 'k$i' AS a$i")).sql
    assert(!arrows.contains("->"), arrows)
    val xors = GraftSql.rewrite(items(33)(i => s"p$i XOR q$i AS x$i")).sql
    assert(!xors.toUpperCase.contains("XOR"), xors)
    val centuries = GraftSql.rewrite(items(33)(i => s"EXTRACT(CENTURY FROM d$i) AS c$i")).sql
    assert(!centuries.toUpperCase.contains("CENTURY"), centuries)
    val series = GraftSql.rewrite(
      items(33)(i => s"(SELECT count(*) FROM GENERATE_SERIES(1, $i)) AS s$i")).sql
    assert(!series.toUpperCase.contains("GENERATE_SERIES"), series)
  }

  test("splitStatements: ; and -- inside literals, '' escapes") {
    assert(GraftSql.splitStatements("SELECT 'a;--b' AS v; SELECT 'it''s;' AS w -- c;d\n") ==
      Seq("SELECT 'a;--b' AS v", "SELECT 'it''s;' AS w"))
  }

  // collected, not counted: a count() prunes the failing projection
  test("2-argument regexp_extract[_all] returns the whole match (group 0)") {
    assert(g.query("SELECT size(regexp_extract_all('a1b22c333', '[0-9]+')) AS n")
      .head().getInt(0) == 3)
    assert(g.query("SELECT regexp_extract('ab12cd', '[0-9]+') AS v").head().getString(0) == "12")
  }

  test("simhash takes text (tokenized as Kit.words) or a token array, nothing else") {
    assert(g.query("SELECT simhash('hello') = simhash('hello') AS v").head().getBoolean(0))
    assert(g.query("SELECT simhash('Hello World') = simhash(array('hello', 'world')) AS v")
      .head().getBoolean(0))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      g.query("SELECT simhash(42) AS v").collect())
    assert(e.getMessage.contains("simhash"), e.getMessage)
  }

  test("printf formats DECIMAL arguments with %f") {
    assert(g.query("SELECT printf('%05.2f', 3.14159) AS v").head().getString(0) == "03.14")
  }

  // The literal alternative `'(?:[^']|'')*'` recursed once per character in
  // java.util.regex, so a match attempt from a closing quote across a long
  // quote-free stretch overflowed the stack from 2,033 characters on.
  test("rewrites a statement of several thousand characters") {
    def stmt(n: Int) = "SELECT 'a' AS x, " + "1 + " * n + "1 AS y, 'c' AS z"
    val long = stmt(2000)
    assert(long.length > 8000)
    assert(GraftSql.rewrite(long).sql.endsWith("1 AS y, 'c' AS z"))
    val r = g.query(stmt(500)).head()
    assert(r.getString(0) == "a" && r.getInt(1) == 501 && r.getString(2) == "c")
  }
}
