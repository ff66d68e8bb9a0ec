package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** [[Graft.engine]] keeps the session's views pointed at the dir a statement
  * runs on. SQL-form gate queries ([[QueryDef.sql]]) and the ClickBench
  * statements read those views, and one session runs them on several dirs:
  * ScaleCheck interleaves two scales, specs run queries on fixture dirs. A
  * stale view reads the other dir's rows without any error (the round-14
  * wrong-dir bug: every cb scale ratio came back ~1.0).
  */
class SharedEngineSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  test("a SQL-form query reads the rows of the dir it runs on, whatever ran before") {
    val tmp = Files.createTempDirectory("graft-shared-engine")
    Tables.names.filterNot(_ == "nation").foreach { n =>
      Files.copy(Paths.get(SharedSpark.sf, s"$n.parquet"), tmp.resolve(s"$n.parquet"))
    }
    Tables.df(spark, SharedSpark.sf, "nation").filter("n_nationkey < 5")
      .write.parquet(tmp.resolve("nation.parquet").toString)
    val q03 = SparkEntry.queries("q03_projection")
    def keys(dir: String): Seq[Long] =
      q03(spark, dir).collect().map(_.getAs[Number](0).longValue).toSeq
    val all = Tables.df(spark, SharedSpark.sf, "nation").count()
    assert(all > 5)
    assert(keys(SharedSpark.sf).size == all)
    assert(keys(tmp.toString) == (0L until 5L))
    assert(keys(SharedSpark.sf).size == all)
    // a registration of the same view names outside the shared engine
    Graft(spark).registerDir(tmp.toString)
    assert(keys(SharedSpark.sf).size == all)
  }
}
