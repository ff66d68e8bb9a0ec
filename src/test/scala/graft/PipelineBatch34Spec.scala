package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Properties of the batch-34 operators beyond the driver gate: the LSH
  * bucket audit's ledger is internally consistent with the p02 pair
  * emission, the precedence flow matrix conserves duplicate mass and never
  * routes a document to a lower-precedence winner, and the JL sketch's
  * ratio histogram concentrates where the lemma says it must.
  */
class PipelineBatch34Spec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  private def byName(n: String) = SparkEntry.allDefs.find(_.name == n).get

  test("p128: bucket ledger is consistent and pair mass bounds the p02 candidate set") {
    val rows = byName("p128_lsh_bucket_skew").run(spark, SharedSpark.sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(rows.length == 4, "p02's scheme has exactly 4 bands")
    val nDocs = Tables.df(spark, SharedSpark.sf, "documents").count()
    rows.foreach { case (band, docs, buckets, singles, maxB, pairs, skew) =>
      assert(band >= 0 && band <= 3)
      assert(docs == nDocs, s"band $band: every doc hashes into every band")
      assert(buckets <= docs && singles <= buckets)
      assert(maxB >= 1 && maxB <= docs - singles + 1)
      assert(pairs >= maxB * (maxB - 1) / 2,
        s"band $band: pair mass below its own largest bucket")
      assert(math.abs(skew - maxB.toDouble * buckets / docs) < 1e-6)
    }
    // the union of per-band pair masses upper-bounds the DISTINCT p02
    // candidate pairs (a pair can collide in several bands)
    val estTotal = rows.map(_._6).sum
    val distinctPairs = graft.operators.Kit.minhashPairs(spark, SharedSpark.sf).count()
    assert(distinctPairs <= estTotal,
      s"distinct pairs $distinctPairs exceed summed bucket mass $estTotal")
  }

  test("p129: flow matrix conserves duplicate mass and respects precedence") {
    val rows = byName("p129_dedup_source_precedence").run(spark, SharedSpark.sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val d = Tables.df(spark, SharedSpark.sf, "documents")
      .select(md5(substring(col("text"), 1, 128)).as("dg"))
    val nDup = {
      val t = d.groupBy(col("dg")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n") - 1)).head()
      if (t.isNullAt(0)) 0L else t.getLong(0)
    }
    assert(rows.nonEmpty, "test corpus must exercise the flow matrix")
    assert(rows.map(_._3).sum == nDup, "flow matrix must account every non-keeper")
    rows.foreach { case (loser, winner, n) =>
      assert(n > 0)
      // precedence is lexicographic (source, doc_id): a loser can only lose
      // to a source at-or-before it in precedence order
      assert(winner <= loser, s"$loser lost to lower-precedence $winner")
    }
  }

  test("p130: JL ratios concentrate around 1 and the histogram is well-formed") {
    val rows = byName("p130_rp_sketch").run(spark, SharedSpark.sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val nPairs = rows.map(_._2).sum
    val nVecs = Tables.df(spark, SharedSpark.sf, "embeddings").count()
    assert(nPairs <= nVecs / 2 && nPairs > 0)
    rows.foreach { case (bucket, n, mean) =>
      assert(n > 0)
      assert(mean >= bucket / 10.0 - 1e-9 && mean <= (bucket + 1) / 10.0 + 1e-9,
        s"bucket $bucket mean $mean outside its own bin")
    }
    // distortion: with k=16 the JL ratio concentrates near 1 — demand the
    // bulk inside [0.5, 1.5] (loose: the lemma's tail bound at k=16 is weak
    // but the mass must still center)
    val inBand = rows.filter(r => r._1 >= 5 && r._1 <= 14).map(_._2).sum
    assert(inBand.toDouble / nPairs >= 0.8,
      s"only $inBand/$nPairs pairs inside the [0.5,1.5) ratio band")
  }
}
