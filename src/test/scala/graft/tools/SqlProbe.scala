package graft.tools

import java.io.PrintWriter
import graft.{Graft, GraftSession, SparkEntry, Verify}

/** Runs every gate query's own oracle text through `Graft.query` (the
  * shared engine, [[graft.Graft.engine]]) and writes the results in
  * `Verify`'s layout — a `<out>/<name>` parquet directory per query plus
  * `oracle_sql.json` — so `tools/check.py <scale-dir> <out>` classifies
  * which statements the SQL path already answers like the oracle. Also writes `<out>/probe.tsv`, one
  * line per query: name, `ok` or `error`, the first 200 characters of the
  * error, the SQL and DataFrame times in ms — warm medians of `passes`
  * timed runs each, after two warm-ups, both into the `noop` sink,
  * interleaved and alternating which side goes first — and the
  * interquartile range of the DataFrame runs in ms, the noise a difference
  * of the medians must exceed to count (the DataFrame side is timed only
  * where the SQL side ran):
  *
  *   sbt "Test/runMain graft.tools.SqlProbe <scale-dir> probe_out [prefix…]"
  *   python tools/check.py <scale-dir> probe_out
  *
  * Trailing name prefixes restrict the run, as in `Verify`. The session is
  * `Verify`'s: `local[SPARK_GRAFT_CPUS]`, default 4.
  */
object SqlProbe {

  private val passes = 7

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SqlProbe <scale-dir> <out-dir> [prefix…]")
    val (dir, out) = (args(0), args(1))
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.prepare(spark)
    new java.io.File(out).mkdirs()
    def ms(f: => Unit): Long = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1000000
    }
    val tsv = new PrintWriter(s"$out/probe.tsv", "UTF-8")
    var ok = 0
    val defs = SparkEntry.allDefs.filter(d =>
      d.oracle.isDefined && (only.isEmpty || only.exists(d.name.startsWith)))
    defs.foreach { d =>
      val text = d.oracle.get
      def sql() = Graft.engine(spark, dir).query(text)
      val line =
        try {
          sql().coalesce(1).write.mode("overwrite").parquet(s"$out/${d.name}")
          def sqlRun() = ms(sql().write.format("noop").mode("overwrite").save())
          def dfRun() = ms(d.run(spark, dir).write.format("noop").mode("overwrite").save())
          sqlRun(); dfRun(); dfRun()
          val (sqlTimes, dfTimes) = (1 to passes).map { i =>
            if (i % 2 == 1) { val t = sqlRun(); (t, dfRun()) }
            else { val t = dfRun(); (sqlRun(), t) }
          }.unzip
          def at(ts: Seq[Long], q: Int) = ts.sorted.apply(q * (ts.size - 1) / 4)
          ok += 1
          s"${d.name}\tok\t\t${at(sqlTimes, 2)}\t${at(dfTimes, 2)}\t${at(dfTimes, 3) - at(dfTimes, 1)}"
        } catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("\\s+", " ").take(200)
          s"${d.name}\terror\t$msg\t\t\t"
        }
      tsv.println(line)
      tsv.flush()
    }
    tsv.close()
    Verify.writeOracleSql(out)
    println(s"SQLPROBE ${defs.size} queries, $ok ran -> $out")
    spark.stop()
  }
}
