package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Properties of the batch-22 operators beyond the driver gate: the
  * zero-leak invariant and coverage for the component-safe split, gap
  * accounting for dedup-quality interaction, and family laws for
  * prefix-template detection.
  */
class PipelineBatch22Spec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  private def byName(n: String) = SparkEntry.allDefs.find(_.name == n).get

  test("p95: splits cover the corpus with zero cross-split near-dup pairs") {
    val rows = byName("p95_component_safe_split").run(spark, SharedSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val corpusN = Tables.df(spark, SharedSpark.sf, "documents").count()
    assert(rows.map(_._2).sum == corpusN, "splits do not partition the corpus")
    assert(rows.map(_._1).toSet.subsetOf(Set("train", "val")))
    rows.foreach { case (split, docs, comps, cross) =>
      assert(cross == 0, s"$split: near-dup pairs cross the split boundary")
      assert(comps <= docs, s"$split: more components than docs")
      assert(docs > 0)
    }
    // the train fraction should dominate under the 0.9 hash threshold
    val byName2 = rows.map(r => r._1 -> r._2).toMap
    if (byName2.contains("train") && byName2.contains("val"))
      assert(byName2("train") > byName2("val"))
  }

  test("p96: gap classes partition the pair set with consistent sums") {
    val rows = byName("p96_dedup_quality_gap").run(spark, SharedSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val nPairs = graft.operators.Kit.minhashPairs(spark, SharedSpark.sf).count()
    assert(rows.map(_._2).sum == nPairs, "gap classes do not partition the pairs")
    rows.foreach { case (cls, n, sumGap) =>
      assert(Set("same", "near", "far").contains(cls))
      assert(n > 0 && sumGap >= 0)
      // class bounds: 'same' pairs have (rounded) gap 0, so sum stays 0
      if (cls == "same") assert(sumGap == 0.0, "'same' class carries nonzero gap mass")
      if (cls == "far") assert(sumGap / n >= 0.05, "'far' class mean gap below its floor")
    }
  }

  test("p97: families are real multi-doc prefix collisions with stable ids") {
    val rows = byName("p97_prefix_families").run(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (fid, n, nSrc) =>
      assert(n >= 2, s"family $fid: single-member family emitted")
      assert(nSrc >= 1 && nSrc <= n, s"family $fid: source count out of bounds")
    }
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate family id")
    // replay one family: its members truly share the 8-token prefix
    rows.headOption.foreach { case (fid, n, _) =>
      val docs = Tables.df(spark, SharedSpark.sf, "documents")
        .select(col("doc_id"),
          concat_ws(" ", slice(split(lower(col("text")), "\\s+"), 1, 8)).as("p8"))
      val famPrefix = docs.filter(col("doc_id") === fid).head().getString(1)
      assert(docs.filter(col("p8") === famPrefix).count() == n,
        s"family $fid: replayed member count diverges")
    }
  }
}
