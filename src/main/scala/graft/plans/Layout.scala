package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Physical-layout tooling for 100-TB-scale plans: bucketed co-located
  * joins, skew salting, and partitioned writes.
  *
  * The reference is single-node so it never faces shuffle cost; on a
  * 1000-executor cluster the dominant term of every big join/agg is the
  * exchange. These helpers remove or split exchanges:
  *
  *  - bucketing: write both join sides bucketed by the join key → Spark
  *    reads co-partitioned data and the SortMergeJoin runs with NO Exchange
  *    on either side (verified in LayoutSpec by walking the executed plan);
  *  - salting: explode a hot build-side key into N salt replicas and spread
  *    probe rows across them — turns one straggler partition into N even
  *    ones when AQE's skew splitting isn't applicable (e.g. the skew is in
  *    a hash aggregation or the build side of a broadcast-ineligible join).
  */
object Layout {

  /** Write `df` bucketed+sorted by `key` as a managed table, so subsequent
    * equi-joins/aggregations on `key` skip their Exchange (and the sort,
    * because buckets are written sorted). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // a stray location from a previous JVM (table metadata is per-session but
    // the warehouse dir persists) would fail CREATE TABLE AS — clear it
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(warehouse, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
  }

  /** Salted inner equi-join for skewed keys.
    *
    * `left` (large, skewed on `key`) gets a uniform salt in [0, salts);
    * `right` (the smaller side) is replicated `salts` times. The join key
    * becomes (key, salt), so the hot key's rows spread over `salts`
    * partitions instead of one.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String, salts: Int): DataFrame = {
    val salted = left.withColumn("__salt", (rand(seed = 42) * salts).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Count Exchange operators in the executed plan (post-AQE), descending
    * through adaptive query stages — the metric a scale review cares about. */
  def countExchanges(df: DataFrame): Int = {
    def count(p: SparkPlan): Int =
      (if (p.isInstanceOf[ShuffleExchangeLike]) 1 else 0) +
        ExecutedPlan.children(p).map(count).sum
    count(ExecutedPlan.run(df))
  }

  /** Hive-style partitioned write (date/key directory layout) — the storage
    * side of partition pruning: queries filtering on `partitionCols` read
    * only matching directories. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
}
