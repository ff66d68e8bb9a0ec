package perfbench

import org.apache.spark.sql.SparkSession

/** Checks, on a one-core session, that the statement runner counts a result
  * whose fingerprint differs from the expected one as a failure, and that
  * the fingerprint ignores row order. Exits non-zero on any mismatch. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val bench = new Bench(Opts("selftest", 1, 1, trace = false, "", "", "", "", "", 1, "run"))
      val build = () => spark.range(0, 50, 1, 3).selectExpr("id % 7 AS k", "id / 3.0 AS v")
      val df = build()
      val good = Fingerprint.of(df.schema, df.collect())
      def run(expected: Option[String]) =
        bench.execute(spark, Stmt("range", None, build, Workloads.fingerprintCheck(expected)), 1, 0)
      val results = Seq(
        "expected fingerprint passes" -> run(Some(good)).error.isEmpty,
        "wrong fingerprint fails" -> run(Some(good.reverse)).error.isDefined,
        "missing fingerprint fails" -> run(None).error.isDefined,
        "row order is ignored" -> (Fingerprint.of(df.schema, df.collect().reverse) == good))
      results.foreach { case (what, ok) => println(s"${if (ok) "ok" else "FAILED"} $what") }
      if (results.exists(!_._2)) sys.exit(1)
    } finally spark.stop()
  }
}
