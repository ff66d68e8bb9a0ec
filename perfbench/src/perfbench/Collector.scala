package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Scheduler-side counters and spans for the traced run, attributed to the
  * statement whose thread submitted the job (the `perfbench.stmt` local
  * property, which Spark carries into the threads that run a query's
  * stages and broadcasts). Jobs submitted while the statement's DataFrame
  * is still being built carry `perfbench.phase = build`. */
final class Collector(clock: Long => Double) extends SparkListener {
  import Collector._

  private val jobStmt = new ConcurrentHashMap[Int, Integer]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Double]()
  private val stageStmt = new ConcurrentHashMap[Int, Integer]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val perStmt = new ConcurrentHashMap[Int, Counters]()
  val spans = new ConcurrentLinkedQueue[Span]()

  def counters(stmt: Int): Counters = perStmt.computeIfAbsent(stmt, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(StmtKey))).foreach { s =>
      val stmt = s.toInt
      jobStmt.put(e.jobId, stmt)
      jobStart.put(e.jobId, clock(e.time))
      e.stageIds.foreach(stageStmt.put(_, stmt))
      val c = counters(stmt)
      c.add("exec.jobs", 1)
      if (props.exists(p => p.getProperty(PhaseKey) == "build")) c.add("operators.eager_jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStmt.get(e.jobId)).foreach { stmt =>
      spans.add(Span("exec.job", jobStart.get(e.jobId), clock(e.time), stmt))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageStmt.get(info.stageId)).foreach { stmt =>
      counters(stmt).add("exec.stages", 1)
      for (s <- info.submissionTime; f <- info.completionTime)
        spans.add(Span("exec.stage", clock(s), clock(f), stmt))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageStmt.get(e.stageId)).foreach { stmt =>
      val c = counters(stmt)
      c.add("exec.tasks", 1)
      if (e.reason != Success) c.add("exec.task_failures", 1)
      Option(stageSubmit.get(e.stageId)).foreach { t =>
        c.add("exec.sched_delay_ms", math.max(0L, e.taskInfo.launchTime - t).toDouble)
      }
      Option(e.taskMetrics).foreach { m =>
        c.add("exec.task_run_ms", m.executorRunTime.toDouble)
        c.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        c.add("exec.gc_ms", m.jvmGCTime.toDouble)
        c.add("exec.input_mb", m.inputMetrics.bytesRead / Mb)
        c.add("exec.input_rows", m.inputMetrics.recordsRead.toDouble)
        c.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / Mb)
        c.add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / Mb)
        c.add("exec.spill_mb", m.diskBytesSpilled / Mb)
      }
    }

  def spansOf(stmt: Int): Seq[Span] = spans.asScala.filter(_.stmt == stmt).toSeq
}

object Collector {
  val StmtKey = "perfbench.stmt"
  val PhaseKey = "perfbench.phase"
  private val Mb = 1024.0 * 1024.0

  final case class Span(name: String, start: Double, end: Double, stmt: Int)

  final class Counters {
    private val m = new ConcurrentHashMap[String, java.lang.Double]()
    def add(k: String, v: Double): Unit = m.merge(k, v, (a, b) => a + b)
    def toMap: Map[String, Double] = m.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }
}
