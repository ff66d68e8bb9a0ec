package graft.tools

import java.nio.file.{Files, Paths}
import graft.{SharedSpark, SparkEntry}

/** Optimized logical plan of every gate query, one `<query>.txt` per query
  * in the output directory, with the run-dependent tokens masked: expression
  * ids (`#123`), fresh lambda variable names (`x_17`), JVM lambda class
  * names (`$$Lambda/0x…`) and object hash codes (`@1a2b3c4d`). Plans come
  * from the test session (`local[8]`), so `Tables.dfSpread`'s repartition
  * width is the same on every machine. Comparing the plans of two trees is
  * one `diff -r` of their dumps:
  *
  *   sbt "Test/runMain graft.tools.PlanDump /root/testdata/sf0.001 plans_a"
  *   diff -r plans_a plans_b
  *
  * Queries whose construction runs an action (truth-tier guards, bloom
  * builds) run it here too.
  */
object PlanDump {

  private val masks = Seq(
    "#\\d+" -> "#",
    "\\b(lambda [A-Za-z]+)_\\d+" -> "$1_",
    "\\$\\$Lambda[$/\\w]*" -> "\\$\\$Lambda",
    "@[0-9a-f]{4,}" -> "@")

  def mask(plan: String): String =
    masks.foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PlanDump <scale-dir> <out-dir>")
    val Array(dir, out) = args
    val spark = SharedSpark.spark
    Files.createDirectories(Paths.get(out))
    var failed = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val text =
        try fn(spark, dir).queryExecution.optimizedPlan
          .treeString(verbose = true, maxFields = Int.MaxValue)
        catch { case e: Exception => failed += 1; s"FAILED: ${e.getClass.getName}\n" }
      Files.write(Paths.get(out, s"$name.txt"), mask(text).getBytes("UTF-8"))
    }
    println(s"PLANDUMP ${SparkEntry.queries.size} queries, $failed failed -> $out")
    spark.stop()
  }
}
