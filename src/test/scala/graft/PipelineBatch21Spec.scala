package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Properties of the batch-21 operators beyond the driver gate: bucket-band
  * laws for the dup-distance profile, chi-square accounting for
  * seasonality, and matrix conservation for cross-source duplication.
  */
class PipelineBatch21Spec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  private def byName(n: String) = SparkEntry.allDefs.find(_.name == n).get

  test("p92: distance buckets band their extrema and conserve the pair set") {
    val rows = byName("p92_dup_distance_profile").run(spark, SharedSpark.sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "no near-dup pairs — profile suspect")
    rows.foreach { case (b, n, mn, mx) =>
      assert(n > 0)
      assert(mn >= (1L << b) && mx < (1L << (b + 1)),
        s"bucket $b: extrema outside its power-of-two band")
      assert(mn <= mx)
    }
    val nPairs = graft.operators.Kit.minhashPairs(spark, SharedSpark.sf).count()
    assert(rows.map(_._2).sum == nPairs, "profile does not conserve the pair set")
  }

  test("p93: seasonality cells account for every event and the peak is the max hour") {
    val rows = byName("p93_event_seasonality").run(spark, SharedSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4), r.getDouble(5)))
    val ev = Tables.df(spark, SharedSpark.sf, "events")
    assert(rows.map(_._2).sum == ev.count(), "type totals do not cover the stream")
    rows.foreach { case (t, n, hours, chi2, peak, share) =>
      assert(hours >= 1 && hours <= 24, s"$t: impossible hour-cell count")
      assert(chi2 >= 0, s"$t: negative chi-square")
      assert(peak >= 0 && peak <= 23, s"$t: peak hour out of range")
      assert(share >= 1.0 / 24 - 1e-6 && share <= 1.0, s"$t: peak share out of range")
      // the reported peak really is the argmax hour
      val top = ev.filter(col("event_type") === t)
        .groupBy(hour(col("ts")).as("h")).count()
        .orderBy(col("count").desc, col("h")).head()
      assert(top.getInt(0) == peak, s"$t: peak hour mismatch")
      assert(math.abs(top.getLong(1).toDouble / n - share) < 1e-6, s"$t: peak share mismatch")
    }
  }

  test("p94: the dup matrix conserves pairs and keys cells canonically") {
    val rows = byName("p94_cross_source_dup_matrix").run(spark, SharedSpark.sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val nPairs = graft.operators.Kit.minhashPairs(spark, SharedSpark.sf).count()
    assert(rows.map(_._3).sum == nPairs, "matrix cells do not conserve the pair set")
    rows.foreach { case (a, b, n, leftDocs) =>
      assert(a <= b, s"cell ($a,$b) not canonically ordered")
      assert(leftDocs >= 1 && leftDocs <= n, s"cell ($a,$b): left-doc count out of bounds")
    }
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length, "duplicate cell")
  }
}
