package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every gate query: the batches in registry order, each batch's defs in
    * its own order. */
  val allDefs: Seq[QueryDef] = Seq(
    RelationalQueries.defs, RelationalQueries2.defs, RelationalQueries3.defs,
    RelationalQueries4.defs, TpchQueries.defs, PipelineQueries.defs,
    PipelineQueries2.defs, PipelineQueries3.defs, PipelineQueries4.defs,
    PipelineQueries5.defs, PipelineQueries6.defs, PipelineQueries7.defs,
    PipelineQueries8.defs, PipelineQueries9.defs, PipelineQueries10.defs,
    PipelineQueries11.defs, PipelineQueries12.defs, PipelineQueries13.defs,
    PipelineQueries14.defs, PipelineQueries15.defs, PipelineQueries16.defs,
    PipelineQueries17.defs, PipelineQueries18.defs, PipelineQueries19.defs,
    PipelineQueries20.defs, PipelineQueries21.defs, PipelineQueries22.defs,
    PipelineQueries23.defs, PipelineQueries24.defs, PipelineQueries25.defs,
    PipelineQueries26.defs, PipelineQueries27.defs, PipelineQueries28.defs,
    PipelineQueries29.defs, PipelineQueries30.defs, PipelineQueries31.defs,
    PipelineQueries32.defs, PipelineQueries33.defs, PipelineQueries34.defs,
    PipelineQueries35.defs, PipelineQueries36.defs, PipelineQueries37.defs,
    PipelineQueries38.defs, PipelineQueries39.defs, PipelineQueries40.defs,
    PipelineQueries41.defs, PipelineQueries42.defs, PipelineQueries43.defs,
    PipelineQueries44.defs, PipelineQueries45.defs, PipelineQueries46.defs,
    PipelineQueries47.defs, PipelineQueries48.defs, PipelineQueries49.defs,
    PipelineQueries50.defs, PipelineQueries51.defs, PipelineQueries52.defs,
    PipelineQueries53.defs, PipelineQueries54.defs, PipelineQueries55.defs,
    PipelineQueries56.defs, PipelineQueries57.defs, PipelineQueries58.defs,
    PipelineQueries59.defs, PipelineQueries60.defs, PipelineQueries61.defs,
    PipelineQueries62.defs, PipelineQueries63.defs, PipelineQueries64.defs,
    PipelineQueries65.defs, ClickBenchGate.defs
  ).flatten

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * SURVEY.md §7 M1 slice: scan→filter→groupBy→agg→sort→limit. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.defs.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(o => d.name -> o.trim)).toMap
}
