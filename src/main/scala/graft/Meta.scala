package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import graft.plans.ExecutedPlan

/** Meta/ops statement surface (SURVEY.md §7 M5): SHOW COLUMNS [EXTENDED],
  * SET @var / SHOW var, EXPLAIN [ANALYZE]. The reference implements these as
  * physical operators (opteryx/operators/show_columns_node.py,
  * set_variable_node.py, show_value_node.py, explain_node.py); here each is a
  * thin catalog/metrics view over Spark state.
  */
object Meta {

  // trailing FOR <temporal> is accepted and ignored: columns are schema
  // metadata, and the schema is not versioned (reference behaves the same)
  val ShowColumnsRe =
    """(?is)^\s*SHOW\s+(EXTENDED\s+)?COLUMNS\s+(?:FROM|IN)\s+([\w.$]+)(?:\s+FOR\s+.+?)?\s*;?\s*$""".r
  val ShowCreateViewRe =
    """(?is)^\s*SHOW\s+CREATE\s+VIEW\s+([\w.$]+)\s*;?\s*$""".r
  val SetVarRe = """(?is)^\s*SET\s+@(\w+)\s*=\s*(.+?)\s*;?\s*$""".r
  val ShowVarRe = """(?is)^\s*SHOW\s+@?([\w.]+)\s*;?\s*$""".r
  val ExplainRe =
    """(?is)^\s*EXPLAIN(\s+ANALYZE)?(?:\s+FORMAT\s+(TEXT|MERMAID))?\s+(.+)$""".r

  /** `SHOW COLUMNS FROM t` — name/type/nullable; EXTENDED adds per-column
    * stats (count, nulls, approx distinct, min, max) computed in ONE
    * distributed aggregate pass over the relation (not per-column jobs —
    * reference computes the same profile, show_columns_node.py). */
  def showColumns(spark: SparkSession, table: String, extended: Boolean): DataFrame = {
    import spark.implicits._
    val df = spark.table(table)
    val base = df.schema.fields.map(f => (f.name, f.dataType.simpleString, f.nullable))
    if (!extended) base.toSeq.toDF("name", "type", "nullable")
    else {
      val aggs = df.schema.fields.flatMap { f =>
        val c = col(f.name)
        Seq(
          count(c).as(s"__cnt_${f.name}"),
          sum(when(c.isNull, 1).otherwise(0)).as(s"__nulls_${f.name}"),
          approx_count_distinct(c).as(s"__dist_${f.name}"),
          min(c).cast("string").as(s"__min_${f.name}"),
          max(c).cast("string").as(s"__max_${f.name}"))
      }
      val r = df.agg(aggs.head, aggs.tail.toSeq: _*).head()
      base.map { case (n, t, nl) =>
        (n, t, nl,
          r.getAs[Long](s"__cnt_$n"),
          r.getAs[Long](s"__nulls_$n"),
          r.getAs[Long](s"__dist_$n"),
          Option(r.getAs[String](s"__min_$n")).orNull,
          Option(r.getAs[String](s"__max_$n")).orNull)
      }.toSeq.toDF("name", "type", "nullable", "count", "nulls",
        "approx_distinct", "min", "max")
    }
  }

  /** `SHOW CREATE VIEW v` (reference: opteryx/operators/show_create_node.py)
    * — the stored defining SQL for a graft-defined view, falling back to
    * Spark's own SHOW CREATE TABLE for catalog views. */
  def showCreateView(spark: SparkSession, views: graft.sources.Views,
      name: String): DataFrame = {
    import spark.implicits._
    if (views.isDefined(name))
      Seq((name, s"CREATE VIEW $name AS ${views.sqlFor(name)}")).toDF("view", "create_statement")
    else spark.sql(s"SHOW CREATE TABLE $name")
      .withColumnRenamed("createtab_stmt", "create_statement")
      .select(org.apache.spark.sql.functions.lit(name).as("view"), col("create_statement"))
  }

  /** `SET @var = <expr>` → Spark 4 session variable; references are rewritten
    * by [[GraftSql]] to `system.session.<var>` (unambiguous vs columns). */
  def setVariable(spark: SparkSession, name: String, valueExpr: String): DataFrame =
    spark.sql(s"DECLARE OR REPLACE VARIABLE `$name` = $valueExpr")

  /** `SHOW <variable>` — session variable if declared, else spark.conf key
    * (the reference's show_value_node covers both variables and settings). */
  def showValue(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    val asVar =
      try Some(spark.sql(s"SELECT `system`.`session`.`$name` AS value").head().get(0))
      catch { case _: Throwable => None }
    val v = asVar.orElse(spark.conf.getOption(name)).map(String.valueOf).orNull
    Seq((name, v)).toDF("name", "value")
  }

  /** `EXPLAIN` → formatted plan. `EXPLAIN ANALYZE` → execute fully, then
    * render the physical plan with per-operator runtime metrics (rows,
    * shuffle sizes, timing) — the reference's QueryStatistics sensor surface
    * (models/query_statistics.py, serial_engine.py:85-96). `FORMAT MERMAID`
    * renders the same tree as a mermaid flowchart (serial_engine.py:70-120,
    * utils/mermaid.py: `flowchart BT`, nodes + row-labelled edges). */
  def explain(spark: SparkSession, df: DataFrame, analyze: Boolean,
      format: String = "TEXT"): DataFrame = {
    import spark.implicits._
    if (format != null && format.equalsIgnoreCase("MERMAID")) {
      if (analyze) ExecutedPlan.run(df)
      return mermaid(df.queryExecution.executedPlan, analyze)
        .split('\n').toSeq.toDF("plan")
    }
    val text =
      if (!analyze)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      else {
        val sb = new StringBuilder
        def walk(p: SparkPlan, depth: Int): Unit = {
          val interesting = p.metrics.filter { case (_, m) => m.value > 0 }
            .map { case (k, m) => s"$k=${m.value}" }.mkString(", ")
          sb.append("  " * depth).append(p.nodeName)
          if (interesting.nonEmpty) sb.append("  [").append(interesting).append("]")
          sb.append('\n')
          ExecutedPlan.children(p).foreach(walk(_, depth + 1))
        }
        walk(ExecutedPlan.run(df), 0)
        sb.toString
      }
    text.split('\n').toSeq.toDF("plan")
  }

  /** The executed plan as a mermaid `flowchart BT` — data flows bottom-up
    * like the reference's rendering (opteryx/utils/mermaid.py:1-22): one
    * `NODE_i["name"]` per operator, edges child→parent labelled with the
    * child's output row count when ANALYZE ran. */
  private def mermaid(root: SparkPlan, analyze: Boolean): String = {
    val sb = new StringBuilder("flowchart BT\n\n")
    var nextId = 0
    def esc(s: String): String = s.replace("\"", "'")
    def walk(p: SparkPlan): Int = {
      val id = nextId; nextId += 1
      sb.append(s"""  NODE_$id["${esc(p.nodeName)}"]""").append('\n')
      ExecutedPlan.children(p).foreach { c =>
        val cid = walk(c)
        val rows = if (analyze) c.metrics.get("numOutputRows").map(_.value) else None
        rows match {
          case Some(r) => sb.append(s"""  NODE_$cid -- "$r rows" --> NODE_$id""").append('\n')
          case None => sb.append(s"  NODE_$cid --> NODE_$id").append('\n')
        }
      }
      id
    }
    walk(root)
    sb.toString
  }
}
