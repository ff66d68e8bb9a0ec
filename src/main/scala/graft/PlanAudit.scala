package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec}
import graft.plans.ExecutedPlan

/** Plan-quality audit. Two modes:
  *  - no query names: audit EVERY gate query and write `PLANS.md` — a
  *    per-query table of shuffle-exchange count, join strategies, scan
  *    pushdown, and red flags (nested-loop/cartesian on non-tiny sides,
  *    wide scans) so plan regressions are reviewable round over round.
  *    Plans are compiled (not executed), so the audit is cheap; queries
  *    whose construction runs eager actions (p26 bloom build) still pay
  *    those;
  *  - explicit names: build and execute each query [[Runs]] times, print
  *    the seconds of every run, then the formatted plan of the last run —
  *    AQE's Final Plan (`isFinalPlan=true`) followed by its Initial Plan.
  */
object PlanAudit {

  /** Fresh-JVM runs need this many iterations before the JIT converges
    * (BENCH_NOTES.md, round-18 "Probe discipline note"). */
  val Runs = 5

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val explicit = args.drop(1).toSeq
    if (explicit.nonEmpty) {
      explicit.foreach { n =>
        println(s"\n========== $n ==========")
        var last: DataFrame = null
        for (i <- 1 to Runs) {
          val t0 = System.nanoTime()
          last = SparkEntry.queries(n)(spark, dir)
          ExecutedPlan.run(last)
          println(f"[plan-audit] $n run $i ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
        println(last.queryExecution.explainString(ExplainMode.fromString("formatted")))
      }
      spark.stop()
      return
    }
    val sb = new StringBuilder
    sb.append("# PLANS — per-query physical-plan audit (compiled, not executed)\n\n")
    sb.append(s"Scale dir: `$dir`. Columns: shuffle exchanges / broadcast-hash ")
    sb.append("/ sort-merge+shuffled-hash / nested-loop / cartesian joins; scans ")
    sb.append("with pushed filters over total scans; widest read schema.\n")
    sb.append("`bnlj` is acceptable when the broadcast side is 1-row or ")
    sb.append("bounded-tiny by construction (scalar-subquery thresholds, ")
    sb.append("centroid/query sets, CROSS JOIN coverage queries); `CARTESIAN` ")
    sb.append("never is. Exchange counts are the pre-AQE initial plan — AQE ")
    sb.append("exchange reuse typically executes fewer.\n\n")
    sb.append("| query | xchg | bhj | smj | nlj | cart | pushed/scans | maxCols | flags |\n")
    sb.append("|---|---|---|---|---|---|---|---|---|\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        // executedPlan (not sparkPlan): exchanges exist only after
        // EnsureRequirements; under AQE this is the initial adaptive plan —
        // compiled, not run
        val plan = fn(spark, dir).queryExecution.executedPlan
        val nodes = ExecutedPlan.collectAll(plan)
        val xchg = nodes.count(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
        val bhj = nodes.count(_.nodeName.contains("BroadcastHashJoin"))
        val smj = nodes.count(n => n.nodeName.contains("SortMergeJoin")
          || n.nodeName.contains("ShuffledHashJoin"))
        val nlj = nodes.count(_.nodeName.contains("BroadcastNestedLoopJoin"))
        val cart = nodes.count(_.nodeName.contains("CartesianProduct"))
        val scans = nodes.collect { case f: FileSourceScanExec => f }
        val pushed = scans.count(s => s.dataFilters.nonEmpty || s.partitionFilters.nonEmpty)
        val maxCols = if (scans.isEmpty) 0 else scans.map(_.requiredSchema.size).max
        val flags = Seq(
          if (cart > 0) Some("CARTESIAN") else None,
          // BNLJ is acceptable only for tiny/1-row broadcast sides (scalar
          // subqueries, centroid sets) — flag it for review either way
          if (nlj > 0) Some("bnlj") else None,
          if (xchg > 6) Some(s"xchg=$xchg") else None).flatten.mkString(" ")
        sb.append(s"| $name | $xchg | $bhj | $smj | $nlj | $cart | $pushed/${scans.size} | $maxCols | $flags |\n")
      } catch {
        case e: Throwable =>
          sb.append(s"| $name | - | - | - | - | - | - | - | ERR ${e.getClass.getSimpleName} |\n")
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes("UTF-8"))
    println(sb.toString)
    spark.stop()
  }
}
