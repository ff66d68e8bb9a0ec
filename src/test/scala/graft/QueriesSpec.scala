package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every declared query must run at sf0.001, produce rows, and have unique,
  * stable column names (the driver's hash-compare sorts columns by name, so
  * duplicates or mismatches silently break the gate). */
class QueriesSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  // Pair-emitting dedup queries may legitimately return zero rows on tiny
  // synthetic data; everything else must return at least one row.
  private val mayBeEmpty = Set("p02_dedup_minhash", "p04_dedup_jaccard",
    "p05_dedup_embedding", "p17_dedup_jaccard_capped",
    "p18_dedup_components", "p20_contamination", // pair/overlap-emitting — may be empty on tiny data
    "p23_semantic_dedup", // same: near-dup pairs may not exist in tiny synthetic data
    "q71_tpch_q22", // every sf0.001 customer has orders
    // ClickBench gate twins keep the perf corpus's selective filters /
    // OFFSETs; constants are tuned to be non-empty at the sf0.01 gate scale,
    // which can still underflow the 10x smaller spec corpus here.
    "cb20", "cb37", "cb38", "cb39", "cb41", "cb42", "cb43")

  SparkEntry.allDefs.foreach { d =>
    test(s"${d.name} runs and is well-formed") {
      val df = d.run(spark, SharedSpark.sf)
      val cols = df.columns.toSeq
      assert(cols.distinct.size == cols.size, s"duplicate column names: $cols")
      val n = df.count()
      if (!mayBeEmpty(d.name)) assert(n > 0, s"${d.name} returned no rows")
    }
  }

  test("p26 template: an EMPTY snapshot means every batch row is new (round-5 ADVICE)") {
    // bloom_filter_agg over zero rows evaluates to NULL; without the
    // coalesce(might_contain(..), false) guards both branches would drop
    // every row, silently disagreeing with the oracle's NOT IN semantics.
    Tables.df(spark, SharedSpark.sf, "documents").createOrReplaceTempView("p26e_documents")
    val batchRows = spark.sql(
      "SELECT count(DISTINCT md5(text)) AS n FROM p26e_documents WHERE doc_id >= 0")
      .head().getLong(0)
    val out = spark.sql("""
      WITH snap AS (
        SELECT md5(text) AS h FROM p26e_documents WHERE doc_id < 0),
      batch AS (
        SELECT doc_id, md5(text) AS h FROM p26e_documents WHERE doc_id >= 0),
      definitely_new AS (
        SELECT doc_id, h FROM batch
        WHERE NOT coalesce(might_contain(
          (SELECT bloom_filter_agg(xxhash64(h), 1000000L) FROM snap),
          xxhash64(h)), false)),
      confirmed_new AS (
        SELECT b.doc_id, b.h FROM batch b
        LEFT ANTI JOIN snap ON b.h = snap.h
        WHERE coalesce(might_contain(
          (SELECT bloom_filter_agg(xxhash64(h), 1000000L) FROM snap),
          xxhash64(b.h)), false))
      SELECT min(doc_id) AS doc_id, h
      FROM (SELECT * FROM definitely_new UNION ALL SELECT * FROM confirmed_new)
      GROUP BY h""").count()
    assert(out == batchRows, s"empty snapshot must pass all $batchRows batch rows, got $out")
  }

  test("q15 banded-range plan equals the nested-loop baseline twin") {
    val banded = SparkEntry.queries("q15_join_theta")(spark, SharedSpark.sf)
      .collect().map(_.toSeq).toSeq
    val nlj = operators.RelationalQueriesTwins.thetaJoinNlj(spark, SharedSpark.sf)
      .collect().map(_.toSeq).toSeq
    assert(banded == nlj)
  }

  test("fsum fails loudly past 2^63 instead of wrapping silently") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // two addends just under Long.MaxValue: a plain long sum would wrap to a
    // negative number; the guarded fsum must throw instead
    val big = Seq(9.0e18, 9.0e18).toDF("v")
    val ex = intercept[Throwable] {
      big.agg(operators.Kit.fsum(col("v"), 0).as("s")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("fsum")),
      s"expected the fsum overflow error, got: $ex")
    // and below the headroom it stays exact
    val ok = Seq(1.5, 2.25).toDF("v")
      .agg(operators.Kit.fsum(col("v"), 2).as("s"))
      .collect()(0).getDouble(0)
    assert(ok == 3.75)
    // the DECIMAL fold is exact too: ten 0.1s over ten partitions sum to 1.0
    // (a double sum gives 0.9999999999999999), and round-then-cast keeps
    // sub-scale noise out of the sum
    val tenths = Seq.fill(10)(0.1).toDF("v").repartition(10)
      .agg(operators.Kit.rsum(col("v"), 9).as("s")).collect()(0).getDouble(0)
    assert(tenths == 1.0)
    val noise = Seq(1).toDF("i").agg(operators.Kit.rsum(lit(4e-10), 9).as("s"))
      .collect()(0).getDouble(0)
    assert(noise == 0.0)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
