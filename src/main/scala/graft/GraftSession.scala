package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the graft engine.
  *
  * Mirrors the reference engine's embedded-session ergonomics
  * (reference: opteryx/__init__.py:118-122 Connection/Cursor surface) but is a
  * thin layer over SparkSession: Catalyst + Tungsten are the engine, we only
  * pick scale-appropriate defaults.
  *
  * Scale notes (targets a multi-executor cluster even though tests run
  * local[32]):
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  *    and dynamic join-strategy switching replace the reference's hand-rolled
  *    adaptive tricks (bloom-disable, partial-agg bail-out —
  *    reference: opteryx/operators/inner_join_node.py:129-135,
  *    aggregate_and_group_node.py:249-279).
  *  - Runtime bloom-filter join pruning on: equivalent of the reference's
  *    build-side bloom filter (reference: opteryx/operators/inner_join_node.py:84-137).
  */
object GraftSession {

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.parquet carries TIMESTAMP(NANOS) which the vectorized reader
      // rejects; read as long and convert in Tables.df (truncation to µs
      // matches DuckDB's nanosecond handling).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // Spill sizing for the 100-TB target: 128 MiB input splits and 64 MiB
      // post-shuffle advisory partitions keep per-task state well under
      // executor memory even at full scale, and AQE coalesces the tiny-SF
      // case back down (the reference never spills — it buffers whole
      // aggregations in RAM, aggregate_node.py:218-221; Spark's spill path
      // is what lets the same plans run at 1000x the data).
      .config("spark.sql.files.maxPartitionBytes", (128 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (64 * 1024 * 1024).toString)
      // r19 OPTIMIZATION (guide §1.1 empirical loop; measured, not guessed):
      // Spark's whole-stage-codegen/projection compile cache
      // (CodeGenerator.cache) defaults to 100 entries PER JVM. A session
      // running the 432-query gate generates tens of thousands of distinct
      // codegen units, so every re-execution of a query recompiled its
      // entire plan through Janino — the r18 "per-query scheduling floor"
      // was mostly compile thrash. Measured on the r19 container (11-query
      // isolated instrument, min basis, canary-guarded): raising the cache
      // to 10k cut the subset sum 30.2 -> 23.1 s (-24%) and the bench
      // canary itself 0.30 -> 0.10 s, with every query improving 10-31%.
      // This caches COMPILED CODE keyed on generated source (never data or
      // results) and is not scale- or core-count-dependent: a production
      // driver/executor serving many distinct plans wants the same. 25000
      // covers the full gate's unit count with headroom; entries beyond it
      // LRU-evict exactly as before. This is a STATIC conf, read once per
      // JVM: it applies only when this builder creates the JVM's first
      // session. getOrCreate on an existing session keeps the old value.
      .config("spark.sql.codegen.cache.maxEntries", "25000")

  def create(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    prepare(spark)
    spark
  }

  /** Ensure graft functions are registered on an externally-created session
    * (Verify/Bench build their own sessions per the driver contract). */
  def prepare(spark: SparkSession): SparkSession = {
    Functions.registerAll(spark)
    graft.sources.VirtualDatasets.register(spark)
    // Custom optimizer rule (predicate range-merge + contradiction→empty;
    // see plans/PredicateCompaction.scala). Cluster deployments can instead
    // set spark.sql.extensions=graft.plans.GraftExtensions.
    if (!spark.experimental.extraOptimizations.contains(graft.plans.PredicateCompaction))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.PredicateCompaction
    spark
  }
}
