package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import graft.{Graft, GraftSession, GraftSql, SparkEntry, Tables}

/** One statement of a workload: how to build its DataFrame through the
  * engine's public entry points, and how to judge the collected result
  * (None = correct, Some(reason) = wrong). `sql` is set for statements that
  * go through the dialect layer. */
final case class Stmt(name: String, sql: Option[String], build: () => DataFrame,
    check: (DataFrame, Array[Row]) => Option[String])

/** One execution of a statement and what it recorded. Times are ms since
  * the benchmark started. */
final class Exec(val id: Int, val stmt: Stmt, val pass: Int, val thread: Int) {
  var start = 0.0
  var end = 0.0
  var error: Option[String] = None
  var rows = 0L
  val spans = ArrayBuffer[Collector.Span]()
  val counters = new Collector.Counters
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, battery: String, known: String, expected: String, out: String, cores: Int,
    mode: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      need("data"), m.getOrElse("battery", ""), m.getOrElse("known", ""), m.getOrElse("expected", ""),
      need("out"),
      m.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      m.getOrElse("mode", "run"))
  }
}

/** A workload: its untimed warm-up passes and the statement order of each
  * timed pass k = 1, 2, ...; an empty pass ends the run early. */
trait Workload {
  def clients: Int
  def warm: Seq[Seq[Stmt]]
  def pass(k: Int): Seq[Stmt]
}

object Workloads {
  /** The relational and TPC-H gate statements (`q*`); the benchmark times
    * every eighth in name order, so that the warm-up and a dozen timed
    * passes, each in its own order, fit in one short run. */
  def gateNames: Seq[String] =
    SparkEntry.queries.keys.filter(_.startsWith("q")).toSeq.sorted.zipWithIndex
      .collect { case (n, i) if i % 8 == 0 => n }

  def readExpected(path: String): Map[String, String] =
    tsv(path).collect { case Array(n, f) => n -> f }.toMap

  def fingerprintCheck(expected: Option[String]): (DataFrame, Array[Row]) => Option[String] =
    (df, rows) => {
      val got = Fingerprint.of(df.schema, rows)
      expected match {
        case None => Some(s"no expected fingerprint (got $got)")
        case Some(e) if e != got => Some(s"fingerprint $got, expected $e")
        case _ => None
      }
    }

  def gate(spark: SparkSession, dir: String, expected: Map[String, String]): Seq[Stmt] = {
    val qs = SparkEntry.queries
    gateNames.map { n =>
      Stmt(n, None, () => qs(n)(spark, dir), fingerprintCheck(expected.get(n)))
    }
  }

  /** Closed loop over the gate statements, every pass in its own
    * seed-shuffled order: `WarmPasses` untimed ones, then the timed ones.
    * Warming on shuffled orders too keeps the JIT from specialising on one
    * order that the timed passes then break. */
  val WarmPasses = 4

  def tpch(stmts: Seq[Stmt], seed: Long, clientCount: Int): Workload = new Workload {
    val clients = clientCount
    val warm = (1 to WarmPasses).map(k => pass(-k))
    def pass(k: Int) = new Random(seed * 1000003L + k).shuffle(stmts)
  }

  final case class Shape(line: Int, rows: Long, cols: Int, sql: String)

  private def tsv(path: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.trim.nonEmpty && !l.startsWith("#")).map(_.split("\t")).toSeq
    finally src.close()
  }

  /** Known failures: `error<TAB>sql`, keyed by the statement text. */
  def readKnownFailures(path: String): Map[String, String] =
    tsv(path).collect { case Array(err, sql) => sql.trim -> err }.toMap

  /** shapes.tsv rows: `rows<TAB>cols<TAB>sql`, rows -1 = at least one row.
    * Left out: statements that read absolute file paths (the benchmark
    * reads data only from its own directory), repeated statements, and the
    * `known` failures. */
  def readShapes(path: String, known: Map[String, String]): Seq[Shape] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().zipWithIndex
      .filter { case (l, _) => l.trim.nonEmpty && !l.startsWith("#") }
      .map { case (l, i) =>
        val Array(r, c, sql) = l.split("\t", 3)
        Shape(i + 1, r.trim.toLong, c.trim.toInt, sql.trim)
      }.filterNot(s => s.sql.contains("'/") || known.contains(s.sql)).toSeq
      .groupBy(_.sql).values.map(_.head).toSeq.sortBy(_.line)
    finally src.close()
  }

  def shapeStmt(g: Graft, s: Shape): Stmt =
    Stmt(s"shapes.tsv:${s.line}", Some(s.sql), () => g.query(s.sql), { (df, rows) =>
      val cols = df.schema.length
      val n = rows.length.toLong
      if (cols != s.cols) Some(s"$cols columns, expected ${s.cols}")
      else if (s.rows == -1 && n < 1) Some("no rows, expected at least one")
      else if (s.rows >= 0 && n != s.rows) Some(s"$n rows, expected ${s.rows}")
      else None
    })

  /** Dialect statements, each run once per process. Every 50th statement
    * is the fixed warm-up; the rest is cut into `perPass` contiguous strata
    * and timed pass k takes the k-th statement of every stratum, so each
    * pass covers the whole file in the same proportions. The sample is the
    * same for every seed (the seed sets the order within each pass), so
    * runs with different seeds time the same statements. */
  def dialect(g: Graft, shapes: Seq[Shape], seed: Long, perPass: Int = 32): Workload = {
    val (warmSet, pool) = shapes.zipWithIndex.partition(_._2 % 50 == 0)
    val strata = pool.map(_._1).grouped(math.ceil(pool.size.toDouble / perPass).toInt).toVector
    new Workload {
      val clients = 1
      val warm = Seq(warmSet.map(s => shapeStmt(g, s._1)))
      def pass(k: Int) =
        new Random(seed * 1000003L + k).shuffle(strata.flatMap(_.lift(k - 1)).map(shapeStmt(g, _)))
    }
  }
}

/** Runs one workload in this JVM and returns the raw record that
  * `run.py` turns into metrics. */
final class Bench(o: Opts) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  def now(): Double = (System.nanoTime() - nano0) / 1e6
  def clock(epochMs: Long): Double = (epochMs - epoch0).toDouble

  private val ids = new AtomicInteger(0)
  private val collector = if (o.trace) Some(new Collector(clock)) else None
  private val setup = scala.collection.mutable.LinkedHashMap[String, Double]()

  private def timed[T](key: String)(f: => T): T = {
    val s = now()
    val r = f
    setup(key) = now() - s
    r
  }

  private def span[T](e: Exec, name: String)(f: => T): T =
    if (!o.trace) f
    else {
      val s = now()
      try f finally e.spans += Collector.Span(name, s, now(), e.id)
    }

  def execute(spark: SparkSession, st: Stmt, pass: Int, thread: Int): Exec = {
    val e = new Exec(ids.incrementAndGet(), st, pass, thread)
    val sc = spark.sparkContext
    sc.setLocalProperty(Collector.StmtKey, e.id.toString)
    sc.setLocalProperty(Collector.PhaseKey, "build")
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var result: Option[(DataFrame, Array[Row])] = None
    e.start = now()
    try {
      // Traced runs time the dialect rewrite on its own; Graft.query then
      // repeats it internally, which the tracing overhead includes.
      if (o.trace) st.sql.foreach { sql =>
        span(e, "graftsql.rewrite")(try GraftSql.rewrite(sql) catch { case _: Exception => () })
      }
      val df = span(e, if (st.sql.isDefined) "graft.query" else "operators.build")(st.build())
      sc.setLocalProperty(Collector.PhaseKey, "collect")
      val rows = span(e, "driver.collect")(df.collect())
      e.end = now()
      result = Some((df, rows))
    } catch {
      case t: Throwable =>
        e.end = now()
        e.error = Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).linesIterator.nextOption().getOrElse("")}")
    } finally {
      sc.setLocalProperty(Collector.StmtKey, null)
      sc.setLocalProperty(Collector.PhaseKey, null)
    }
    result.foreach { case (df, rows) =>
      e.rows = rows.length.toLong
      e.error = st.check(df, rows)
      if (o.trace) plan(df, e, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    }
    e
  }

  private def plan(df: DataFrame, e: Exec, compiles: Long): Unit = {
    val qe = df.queryExecution
    qe.tracker.phases.foreach { case (phase, p) =>
      e.spans += Collector.Span(s"catalyst.$phase", clock(p.startTimeMs), clock(p.endTimeMs), e.id)
    }
    qe.tracker.rules.filter(_._1.contains("PredicateCompaction")).values.foreach { r =>
      e.counters.add("plans.compaction_ms", r.totalTimeNs / 1e6)
      e.counters.add("plans.compaction_invocations", r.numInvocations.toDouble)
      e.counters.add("plans.compaction_effective", r.numEffectiveInvocations.toDouble)
    }
    e.counters.add("catalyst.exchanges", exchanges(qe.executedPlan).toDouble)
    e.counters.add("codegen.compiles", compiles.toDouble)
  }

  private def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _: ReusedExchangeExec => 1
    case x: Exchange => 1 + x.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }

  /** Closed loop: `clients` threads take the statements of pass 1, 2, ...
    * in order, each starting its next statement when the previous one has
    * returned. Pass k+1 is begun only while `another(k)` holds. Passes are
    * not fenced, so no client idles while another finishes a pass. */
  private def closedLoop(spark: SparkSession, pass: Int => Seq[Stmt], another: Int => Boolean,
      clients: Int, pool: ExecutorService): Seq[Exec] = {
    var k = 0
    var queue: Seq[Stmt] = Nil
    def next(): Option[(Stmt, Int)] = synchronized {
      if (queue.isEmpty && another(k)) {
        k += 1
        queue = pass(k)
      }
      queue.headOption.map { st => queue = queue.tail; (st, k) }
    }
    val done = new ConcurrentLinkedQueue[Exec]()
    val workers = (0 until clients).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var item = next()
          while (item.isDefined) {
            done.add(execute(spark, item.get._1, item.get._2, t))
            item = next()
          }
        }
      })
    }
    workers.foreach(_.get())
    done.asScala.toSeq.sortBy(_.start)
  }

  def run(): Map[String, Any] = {
    val spark = timed("setup.session_ms") {
      val s = GraftSession.builder(s"local[${o.cores}]", o.cores).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    collector.foreach(spark.sparkContext.addSparkListener)
    val sf01 = s"${o.data}/sf0.01"
    val sf0001 = s"${o.data}/sf0.001"
    val known =
      if (o.workload == "dialect_adhoc") Workloads.readKnownFailures(o.known)
      else Map.empty[String, String]
    val (wl, perPass) = o.workload match {
      case "tpch_serial" | "tpch_concurrent" =>
        timed("setup.prepare_ms")(GraftSession.prepare(spark))
        timed("setup.tables_ms")(Tables.registerAll(spark, sf01))
        val stmts = Workloads.gate(spark, sf01, Workloads.readExpected(o.expected))
        val clients = if (o.workload == "tpch_serial") 1 else o.cores
        (Workloads.tpch(stmts, o.seed, clients), stmts.size)
      case "dialect_adhoc" =>
        val g = timed("setup.prepare_ms")(Graft(spark))
        timed("setup.tables_ms")(g.registerDir(sf0001))
        (Workloads.dialect(g, Workloads.readShapes(o.battery, known), o.seed), 32)
      case other => sys.error(s"unknown workload '$other'")
    }
    val pool = Executors.newFixedThreadPool(wl.clients)
    val warmed = timed("setup.warm_ms") {
      closedLoop(spark, k => wl.warm(k - 1), _ < wl.warm.size, wl.clients, pool)
    }
    val warmPasses = warmed.groupBy(_.pass).toSeq.sortBy(_._1).map { case (_, es) =>
      es.map(_.end).max - es.map(_.start).min
    }
    val warmFailures = warmed.filter(_.error.isDefined).map(e => s"${e.stmt.name}: ${e.error.get}")
    warmFailures.distinct.foreach(f => System.err.println(s"[perfbench] warm-up failure $f"))

    val timedStart = now()
    val setupS = (epoch0 - jvmStart) / 1000.0 + timedStart / 1000.0
    var execs = closedLoop(spark, wl.pass,
      k => k == 0 || now() - timedStart < o.seconds * 1000, wl.clients, pool)
    val timedEnd = now()
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    collector.foreach { c =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      execs.foreach { e =>
        e.spans ++= c.spansOf(e.id)
        c.counters(e.id).toMap.foreach { case (key, v) => e.counters.add(key, v) }
      }
    }
    val statements = execs.map { e =>
      Map("id" -> e.id, "name" -> e.stmt.name, "pass" -> e.pass, "thread" -> e.thread,
        "start" -> e.start, "end" -> e.end, "rows" -> e.rows, "error" -> e.error,
        "counters" -> e.counters.toMap)
    }.toSeq
    val spans = execs.flatMap(_.spans).map(s =>
      Map("name" -> s.name, "start" -> s.start, "end" -> s.end, "stmt" -> s.stmt)).toSeq
    execs = Nil
    // Collections a pause apart let Spark's ContextCleaner drop the broadcast
    // and shuffle state of plans the previous one found unreachable; the
    // lowest reading is the retained heap.
    val rt = Runtime.getRuntime
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    }.min
    val xmx = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
      .map(_.toString).filter(_.startsWith("-Xmx")).lastOption.getOrElse("")
    Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "env" -> Map("nproc" -> o.cores, "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> spark.version, "xmx" -> xmx, "max_heap_mb" -> rt.maxMemory / (1024.0 * 1024.0),
        "seed" -> o.seed, "statements_per_pass" -> perPass),
      "setup_s" -> setupS, "setup" -> setup, "warm_passes_ms" -> warmPasses,
      "warm_failures" -> warmFailures.distinct,
      "known_failures_left_out" -> known.map { case (sql, err) => s"$err: $sql" },
      "timed" -> Map("start" -> timedStart, "end" -> timedEnd),
      "slots" -> o.cores, "clients" -> wl.clients,
      "statements" -> statements, "spans" -> spans, "heap_retained_mb" -> heapMb)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val record =
      if (o.mode == "fingerprints") fingerprints(o, o.out + ".dump")
      else new Bench(o).run()
    val w = new java.io.PrintWriter(o.out, "UTF-8")
    try w.write(Json.write(record)) finally w.close()
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
  }

  /** Fingerprint of every gate statement's result, for the expected file.
    * Each result is also written as parquet under `<out>.dump/`, next to
    * `oracle_sql.json`, so the oracle checker can validate it. */
  private def fingerprints(o: Opts, dump: String): Map[String, Any] = {
    val spark = GraftSession.builder(s"local[${o.cores}]", o.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.prepare(spark)
    val dir = s"${o.data}/sf0.01"
    val qs = SparkEntry.queries
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => Workloads.gateNames.contains(n) }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dump))
    val w = new java.io.PrintWriter(s"$dump/oracle_sql.json", "UTF-8")
    try w.write(Json.write(oracle)) finally w.close()
    Map("fingerprints" -> Workloads.gateNames.map { n =>
      val df = qs(n)(spark, dir)
      val rows = df.collect()
      df.write.mode("overwrite").parquet(s"$dump/$n")
      n -> Fingerprint.of(df.schema, rows)
    }.toMap)
  }
}
