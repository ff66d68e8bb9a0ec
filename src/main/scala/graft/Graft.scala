package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** The user-facing engine facade — the Spark-native equivalent of the
  * reference's `opteryx.query()` / DB-API surface
  * (reference: opteryx/__init__.py:151-264, opteryx/cursor.py:39).
  *
  * {{{
  * val g = Graft(spark)                         // or Graft.embedded()
  * g.registerDir("/data/sf0.01")                // testdata-layout tables
  * g.query("SELECT event_type, props ->> 'k' FROM events LIMIT 5")
  * g.query("SELECT * FROM 'path/to/file.parquet'")
  * g.query("SELECT DISTINCT ON (c_nationkey) c_nationkey, c_name FROM customer ORDER BY c_nationkey, c_acctbal DESC")
  * g.query("SELECT count(*) FROM events FOR DATES BETWEEN '2024-01-01' AND '2024-02-01'")
  * }}}
  */
class Graft(val spark: SparkSession) {

  GraftSession.prepare(spark)

  /** table → event-time column for temporal `FOR` resolution. Mirrors the
    * reference's Diachronic connector capability
    * (reference: opteryx/connectors/capabilities/). */
  private val temporalColumns =
    scala.collection.mutable.Map[String, String]("events" -> "ts")

  def registerTemporalColumn(table: String, column: String): Unit =
    temporalColumns(table.toLowerCase) = column

  /** Register every table of a testdata-layout directory as a temp view. */
  def registerDir(dir: String): Unit = Tables.registerAll(spark, dir)

  /** Register an arbitrary DataFrame (the reference's `register_df`,
    * opteryx/__init__.py:95-97). */
  def registerDf(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  /** Register a JDBC-backed table (the reference's SqlConnector,
    * opteryx/connectors/sql_connector.py:64-240). Catalyst pushes
    * projections, predicates, LIMIT, and (v2 paths) partial aggregates into
    * the remote engine — the Spark-native equivalent of the reference's
    * `pushed_sql` fragment pushdown (sql_connector.py:205-216). */
  def registerJdbc(name: String, url: String, table: String,
      options: Map[String, String] = Map.empty): Unit =
    graft.sources.Jdbc.table(spark, url, table, options).createOrReplaceTempView(name)

  /** Register the result of a full SQL statement run remotely — the
    * reference's whole-query pushdown surface. */
  def registerJdbcQuery(name: String, url: String, sql: String,
      options: Map[String, String] = Map.empty): Unit =
    graft.sources.Jdbc.query(spark, url, sql, options).createOrReplaceTempView(name)

  /** Register an Iceberg catalog on this session (the reference's
    * IcebergConnector, opteryx/connectors/iceberg_connector.py:122-330).
    * Needs the iceberg-spark-runtime jar on the classpath — absent in this
    * environment, so registration fails with a documented error while the
    * full planning surface (snapshot selection, temporal-FOR → time-travel
    * mapping, catalog conf) stays live and spec-covered; see
    * [[graft.sources.Iceberg]]. */
  def registerIcebergCatalog(name: String, warehouse: String,
      catalogType: String = "hadoop"): Unit =
    graft.sources.Iceberg.registerCatalog(spark, name, catalogType, warehouse)

  /** Register one Iceberg table as a view, optionally at a snapshot id or a
    * point-in-time (graft temporal `FOR` specs map via
    * [[graft.sources.Iceberg.temporalForToTimeTravel]]). */
  def registerIceberg(name: String, table: String,
      snapshotId: Option[Long] = None, asOf: Option[String] = None): Unit = {
    val tt = snapshotId.map(graft.sources.Iceberg.TimeTravel.version)
      .orElse(asOf.map(graft.sources.Iceberg.TimeTravel.asOf))
    graft.sources.Iceberg.scan(spark, table, tt).createOrReplaceTempView(name)
  }

  // -- row-level visibility filters ---------------------------------------
  // (reference: logical_planner.py:1116-1145 apply_visibility_filters via
  // binder/__init__.py:216 — per-relation DNF injected above every scan)

  private val visibilityBase = scala.collection.mutable.Map.empty[String, DataFrame]

  /** Install a row-level visibility filter on `table`: every subsequent
    * resolution of the table — any query, any alias, any join position —
    * sees only rows satisfying the DNF ([[Visibility]] documents the
    * clause model; empty DNF hides the relation). The filter view wraps
    * the CURRENT base relation, the same mechanism as temporal `FOR`, so
    * simple predicates push down to the scan. Re-registering the table
    * (registerDir/registerDf) replaces the wrapped view and drops the
    * filter — call setVisibilityFilters again after re-registration. */
  def setVisibilityFilters(table: String, dnf: Visibility.Dnf): Unit = {
    val base = visibilityBase.getOrElseUpdate(table, spark.table(table))
    base.filter(Visibility.toColumn(dnf)).createOrReplaceTempView(table)
  }

  /** Remove a visibility filter, restoring the unfiltered relation. */
  def clearVisibilityFilters(table: String): Unit =
    visibilityBase.remove(table).foreach(_.createOrReplaceTempView(table))

  /** Register a Hive-partitioned dataset (e.g. `.../dt=2024-01-01/part-0.parquet`)
    * with its partition column as the temporal axis: `FOR` clauses then
    * become partition-pruned scans (the reference's partitioned Diachronic
    * datasets — testdata/partitioned/dated). */
  def registerPartitioned(name: String, path: String, dateColumn: String): Unit = {
    spark.read.parquet(path).createOrReplaceTempView(name)
    temporalColumns(name.toLowerCase) = dateColumn
  }

  /** Run a statement in the graft dialect (ANSI Spark SQL + the reference's
    * extensions). Positional `?` parameters are bound injection-safe via
    * Spark's parameterized-SQL API. */
  /** JSON-defined views + prepared statements (reference:
    * opteryx/planner/views, EXECUTE at logical_planner.py:757-827). */
  val views = new graft.sources.Views(spark)
  private val prepared = scala.collection.mutable.Map.empty[String, String]

  def defineView(name: String, sql: String): Unit = {
    views.define(name, sql)
    query(sql).createOrReplaceTempView(name)
  }
  def loadViews(path: String): Unit = {
    views.loadJson(path)
    views.materializeAll(s => GraftSql.rewrite(s).sql)
  }
  def prepare(name: String, sql: String): Unit = prepared(name) = sql

  /** Catalog-backed schema resolver for the virtual-dataset bare-alias
    * guard: lets GraftSql resolve an unqualified alias in a multi-relation
    * statement when no competing relation carries the column (reference
    * binder resolves aliases per-relation). Unknown names → None
    * (conservative suppression). Cheap: Spark caches analyzed temp-view
    * plans, and the guard consults this only for statements that reference
    * an alias-bearing virtual view. */
  private val schemaOf: String => Option[Set[String]] = name =>
    try Some(spark.table(name).schema.fieldNames.map(_.toLowerCase).toSet)
    catch { case _: Exception => None }

  private val executeRe = """(?is)^\s*EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*;?\s*$""".r

  def query(sql: String, args: Any*): DataFrame = queryImpl(sql, args, Map.empty)

  /** Named `:name` parameter binding (reference:
    * opteryx/planner/ast_rewriter.py:39-50,95-170 — parameters substituted
    * post-parse, never string-spliced) via Spark's map-form parameterized
    * SQL, which binds the same injection-safe way. */
  def query(sql: String, params: Map[String, Any]): DataFrame =
    queryImpl(sql, Nil, params)

  private def queryImpl(sql: String, args: Seq[Any], named: Map[String, Any]): DataFrame = {
    // multi-statement scripts (`SET @x = ...; SELECT ...`) run sequentially;
    // the last statement's result is the script's result (reference:
    // variations corpus runs SET+SELECT as one string)
    val parts = GraftSql.splitStatements(sql)
    if (parts.length > 1)
      return parts.map(p => queryImpl(p, args, named)).last
    // EXECUTE <prepared> (p1, p2, ...) — positional binds, injection-safe
    sql match {
      case executeRe(name, params) if prepared.contains(name) =>
        // split on the commas outside literals: `('x,y', 'it''s')` binds two
        val bound: Seq[Any] = Option(params).filter(_.trim.nonEmpty).toSeq.flatMap { p =>
          val group = s"($p)"
          val cuts = (0 +: SqlScan.topLevelCommas(group, SqlScan.literalMask(group), 0,
            group.length - 1)) :+ (group.length - 1)
          cuts.sliding(2).map(c => group.substring(c(0) + 1, c(1)).trim).map {
            case s if s.startsWith("'") && s.endsWith("'") =>
              s.substring(1, s.length - 1).replace("''", "'")
            case n if n.matches("""-?\d+""") => n.toLong
            case d if d.matches("""-?\d*\.\d+""") => d.toDouble
            case other => other
          }
        }
        return queryImpl(prepared(name), bound, named)
      case _ => ()
    }
    // meta-statement surface (SHOW COLUMNS / SET @var / SHOW var / EXPLAIN)
    sql match {
      case Meta.ShowColumnsRe(ext, table) =>
        val resolved =
          if (table.startsWith("$"))
            graft.sources.VirtualDatasets.prefix + table.drop(1)
          else table
        return Meta.showColumns(spark, resolved, ext != null)
      case Meta.ShowCreateViewRe(name) =>
        return Meta.showCreateView(spark, views, name)
      case Meta.SetVarRe(name, value) =>
        return Meta.setVariable(spark, name, GraftSql.rewrite(value).sql)
      case Meta.ExplainRe(analyze, format, inner) =>
        return Meta.explain(spark, queryImpl(inner, args, named), analyze != null,
          if (format == null) "TEXT" else format)
      case Meta.ShowVarRe(name)
          if !Set("tables", "databases", "views", "functions", "columns")
            .contains(name.toLowerCase) =>
        return Meta.showValue(spark, name)
      case _ => ()
    }
    val rw = GraftSql.rewrite(sql, schemaOf)
    // $variables / $statistics are session-state-dependent — refresh per statement
    if (rw.sql.contains(graft.sources.VirtualDatasets.prefix + "variables"))
      graft.sources.VirtualDatasets.variables(spark)
        .createOrReplaceTempView(graft.sources.VirtualDatasets.prefix + "variables")
    if (rw.sql.contains(graft.sources.VirtualDatasets.prefix + "statistics"))
      graft.sources.VirtualDatasets.statistics(spark)
        .createOrReplaceTempView(graft.sources.VirtualDatasets.prefix + "statistics")
    // information_schema views reflect the catalog at statement time
    if (rw.sql.contains("graft_infoschema_tables"))
      graft.sources.VirtualDatasets.infoSchemaTables(spark)
        .createOrReplaceTempView("graft_infoschema_tables")
    if (rw.sql.contains("graft_infoschema_columns"))
      graft.sources.VirtualDatasets.infoSchemaColumns(spark)
        .createOrReplaceTempView("graft_infoschema_columns")
    // zero-config path tables → temp views (Catalyst prunes/pushes down into
    // the scan exactly as for a catalog table)
    rw.pathTables.foreach { p =>
      graft.sources.Formats.read(spark, p)
        .createOrReplaceTempView(GraftSql.viewNameFor(p))
    }
    // temporal FOR ranges → event-time-filtered views over the base
    // relation, so the predicate sits at the scan (partition/row-group
    // pruning applies) rather than over the query result
    rw.temporal.foreach { t =>
      // `$planets FOR ...` captures the raw `$name` spelling (extractTemporal
      // runs before the virtual-table rewrite) — normalize to the registered
      // view name here
      val relation =
        if (t.relation.startsWith("$"))
          graft.sources.VirtualDatasets.prefix + t.relation.drop(1)
        else t.relation
      val base = spark.table(relation)
      val filtered = temporalColumns.get(relation.toLowerCase) match {
        case Some(c) =>
          // compare in the column's own type so a DATE/STRING partition
          // column keeps its literal comparison — that is what lets Catalyst
          // prune Hive partitions instead of scanning everything and
          // filtering rows
          import org.apache.spark.sql.types.{DateType, StringType}
          base.schema(c).dataType match {
            case DateType =>
              base.filter(col(c) >= expr(s"cast(${t.start} as date)")
                && col(c) <= expr(s"cast(${t.end} as date)"))
            case StringType =>
              base.filter(col(c) >= expr(s"cast(cast(${t.start} as date) as string)")
                && col(c) <= expr(s"cast(cast(${t.end} as date) as string)"))
            case _ =>
              base.filter(col(c) >= expr(s"cast(${t.start} as timestamp_ntz)")
                && col(c) < expr(s"cast(${t.end} as timestamp_ntz) + interval 1 day"))
          }
        case None if relation.equalsIgnoreCase(
            graft.sources.VirtualDatasets.prefix + "planets") =>
          // $planets pseudo-temporality: the fact sheet "as of" the range's
          // end excludes planets not yet discovered (reference
          // planet_data.py:77-88)
          base.filter(expr(
            graft.sources.VirtualDatasets.planetsAsOfPredicate(t.end)))
        case None => base // non-temporal relation: FOR reads current state
      }
      filtered.createOrReplaceTempView(t.viewName)
    }
    if (named.nonEmpty) spark.sql(rw.sql, named)
    else if (args.nonEmpty) spark.sql(rw.sql, args.toArray)
    else spark.sql(rw.sql)
  }

  /** Stream results incrementally — the reference's
    * `query_to_arrow_batches` surface (opteryx/__init__.py:228-264): rows
    * arrive partition by partition without materializing the full result on
    * the driver. */
  def stream(sql: String, args: Any*): Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    query(sql, args: _*).toLocalIterator().asScala
  }

  def explain(sql: String): String = {
    val rw = GraftSql.rewrite(sql, schemaOf)
    spark.sql(rw.sql).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }
}

object Graft {
  def apply(spark: SparkSession): Graft = new Graft(spark)

  /** Zero-config embedded session, like `import opteryx; opteryx.query(...)`. */
  def embedded(): Graft = new Graft(GraftSession.create())

  // One engine per session, never evicted: acceptable because the only
  // callers are the gate/bench/verify processes, whose sessions live for
  // the whole JVM — an embedder with many short-lived sessions would want
  // weak keys here (same note as Tables.df). An engine holds no per-dir
  // state; the views it reads are the session's, which [[engine]] points.
  private val engines = new java.util.concurrent.ConcurrentHashMap[SparkSession, Graft]()

  /** The views [[engine]] keeps pointed at its dir: the testdata tables and
    * ClickBench's `cb_hits`. */
  private val sharedViews = Tables.names :+ "cb_hits"

  // Per session: the dir its shared views were last registered for, and the
  // view relations that registration created.
  private val pointed =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, (String, Seq[AnyRef])]()

  /** The engine every SQL-form gate statement ([[QueryDef.sql]]) and every
    * ClickBench statement runs on, with the session's views pointed at
    * `dir`. Temp views are SESSION-global: when one session alternates
    * between dirs (ScaleCheck times every statement at sf0.1 and at the 10×
    * synth interleaved, a spec runs a query on a fixture dir), each call
    * must re-point the views at ITS dir or the statement silently reads the
    * other dir's tables (found round 14: every cb ratio came back ~1.0).
    * Any other registration of the same names (a plain `Graft.registerDir`,
    * a visibility filter) replaces the view relation, so the check is by
    * identity of the registered relations, not by a dir marker alone.
    */
  def engine(s: SparkSession, dir: String): Graft = s.synchronized {
    val g = engines.computeIfAbsent(s, _ => Graft(s))
    val catalog = s.sessionState.catalog
    def registered: Seq[AnyRef] = sharedViews.map(catalog.getRawTempView(_).orNull)
    val current = Option(pointed.get(s)).exists { case (d, views) =>
      d == dir && views.corresponds(registered)(_ eq _)
    }
    if (!current) {
      // recorded only after every view is swapped: a swap that throws half
      // way leaves the old record, which no longer matches the views
      g.registerDir(dir)
      g.query(ClickBench.hitsView).createOrReplaceTempView("cb_hits")
      pointed.put(s, (dir, registered))
    }
    g
  }
}
