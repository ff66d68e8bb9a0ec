package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.math.BigDecimal.RoundingMode
import graft.operators.Multimodal.AudioCodec

/** Batch-44 differentials: the audio landmark pipeline (codec contracts +
  * end-to-end group structure), Cramér–von Mises, the chunk-boundary
  * audit, the Hill estimator, referential integrity, and the session gap
  * sweep — each re-derived from scratch in plain Scala.
  */
class PipelineBatch44Spec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  private def byName(n: String) = SparkEntry.allDefs.find(_.name == n).get

  private def rN(x: Double, n: Int): Double =
    BigDecimal(java.math.BigDecimal.valueOf(x)).setScale(n, RoundingMode.HALF_UP)
      .toDouble

  private def bd(x: Double): BigDecimal =
    BigDecimal(java.math.BigDecimal.valueOf(x))

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("AudioCodec: duration-invariant fingerprints, seed-distinct across 32 seeds") {
    // variants of one recording (same seed, different lengths) collide
    for (seed <- 0 until 32) {
      val fps = Seq(32, 48, 64).map(f =>
        AudioCodec.fingerprint(AudioCodec.syntheticPcm(f * 256, seed)))
      assert(fps.distinct.size == 1, s"seed $seed variants disagree: $fps")
    }
    // different recordings don't
    val all = (0 until 32).map(s =>
      AudioCodec.fingerprint(AudioCodec.syntheticPcm(32 * 256, s)))
    assert(all.distinct.size == 32, s"fingerprint collision among seeds")
    // landmark stage sees a non-degenerate contour (the flat-energy trap)
    val e = AudioCodec.frameEnergies(AudioCodec.syntheticPcm(32 * 256, 7))
    assert(AudioCodec.landmarks(e.take(32)).nonEmpty, "flat energy contour")
  }

  test("p161: dedup groups equal the seed-group structure end-to-end") {
    val ids = Tables.df(spark, SharedSpark.sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val want = ids.groupBy(_ % 32).values.filter(_.length > 1)
      .map(g => (g.min, g.length.toLong, g.map(_ % 3).distinct.length.toLong))
      .toSeq.sortBy(_._1)
    val rows = byName("p161_audio_fingerprint_dedup").run(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == want)
  }

  test("p162: CvM statistic equals the pooled-ECDF derivation") {
    val ev = Tables.df(spark, SharedSpark.sf, "events")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .filter(t => t._1 == "click" || t._1 == "view")
    val xs = ev.filter(_._1 == "click").map(_._2)
    val ys = ev.filter(_._1 == "view").map(_._2)
    val (n, m) = (xs.length.toLong, ys.length.toLong)
    val values = (xs ++ ys).distinct.sorted
    var (cumx, cumy) = (0L, 0L)
    var sum = BigDecimal(0)
    values.foreach { v =>
      val tx = xs.count(_ == v)
      val ty = ys.count(_ == v)
      cumx += tx; cumy += ty
      val d = cumx.toDouble / n - cumy.toDouble / m
      sum += bd(rN((tx + ty) * d * d, 9))
    }
    val t = n.toDouble * m / ((n + m) * (n + m).toDouble) * sum.toDouble
    val row = byName("p162_cvm_two_sample").run(spark, SharedSpark.sf).head()
    assert((row.getLong(0), row.getLong(1)) == ((n, m)))
    assert(row.getDouble(2) == rN(t, 6), s"cvm: ${row.getDouble(2)} vs $t")
  }

  test("p163: boundary-pair counts equal the hash-join enumeration") {
    val docs = Tables.df(spark, SharedSpark.sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).toLowerCase.split("\\s+", -1)))
      .filter(_._2.length >= 16)
    val hs = docs.toSeq.map { case (id, t) =>
      (id, md5hex(t.take(8).mkString(" ")), md5hex(t.takeRight(8).mkString(" ")))
    }
    def stats(ps: Seq[(Long, Long)]): (Long, Long) =
      (ps.size.toLong, ps.map(_._1).distinct.size.toLong)
    val hh = stats(for ((a, ha, _) <- hs; (b, hb, _) <- hs
      if ha == hb && a < b) yield (a, b))
    val tt = stats(for ((a, _, ta) <- hs; (b, _, tb) <- hs
      if ta == tb && a < b) yield (a, b))
    val ht = stats(for ((a, _, ta) <- hs; (b, hb, _) <- hs
      if ta == hb && a != b) yield (a, b))
    val rows = byName("p163_chunk_boundary_audit").run(spark, SharedSpark.sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // categories with zero pairs don't emit a row (GROUP BY over found pairs)
    Seq("head_head" -> hh, "tail_tail" -> tt, "head_tail" -> ht).foreach {
      case (cat, want) if want._1 > 0 => assert(rows(cat) == want, cat)
      case (cat, _) => assert(!rows.contains(cat), cat)
    }
  }

  test("p164: Hill estimator equals the top-201 order-statistic derivation") {
    val v = Tables.df(spark, SharedSpark.sf, "events")
      .select("value").collect().map(_.getDouble(0)).sorted(Ordering[Double].reverse)
    val top = v.take(201)
    val xref = top.last
    val terms = top.filter(_ > xref).map(x => bd(rN(math.log(x / xref), 9)))
    val k = terms.length.toLong
    val alpha = k.toDouble / terms.sum.toDouble
    val row = byName("p164_hill_tail_index").run(spark, SharedSpark.sf).head()
    assert(row.getLong(0) == k)
    assert(row.getDouble(1) == rN(xref, 4))
    assert(row.getDouble(2) == rN(alpha, 6))
    assert(row.getDouble(3) == rN(alpha / math.sqrt(k.toDouble), 6))
  }

  test("p165: integrity checks equal the from-scratch key-set derivation") {
    val li = Tables.df(spark, SharedSpark.sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber").collect()
      .map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong,
        r.get(2).toString.toLong, r.get(3).toString.toLong))
    def keys(t: String, c: String): Set[Long] =
      Tables.df(spark, SharedSpark.sf, t).select(c).collect()
        .map(_.get(0).toString.toLong).toSet
    val orders = Tables.df(spark, SharedSpark.sf, "orders")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong))
    // one collect per key set, not one per row inside the count lambdas
    val orderKeys = keys("orders", "o_orderkey")
    val partKeys = keys("part", "p_partkey")
    val suppKeys = keys("supplier", "s_suppkey")
    val custKeys = keys("customer", "c_custkey")
    val want = Map(
      "fk_lineitem_orders" -> (li.length.toLong,
        li.count(l => !orderKeys(l._1)).toLong),
      "fk_lineitem_part" -> (li.length.toLong,
        li.count(l => !partKeys(l._2)).toLong),
      "fk_lineitem_supplier" -> (li.length.toLong,
        li.count(l => !suppKeys(l._3)).toLong),
      "fk_orders_customer" -> (orders.length.toLong,
        orders.count(o => !custKeys(o._2)).toLong),
      "pk_lineitem" -> (li.length.toLong,
        (li.length - li.map(l => (l._1, l._4)).distinct.length).toLong),
      "pk_orders" -> (orders.length.toLong,
        (orders.length - orders.map(_._1).distinct.length).toLong))
    val rows = byName("p165_referential_integrity").run(spark, SharedSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == want.keys.toSeq.sorted)
    rows.foreach { case (chk, total, bad) =>
      assert((total, bad) == want(chk), s"$chk: ($total, $bad) vs ${want(chk)}")
    }
    // and it actually detects a violation: an orphaned order probe
    val ordersDf = Tables.df(spark, SharedSpark.sf, "orders")
    val withOrphan = ordersDf.unionByName(
      ordersDf.limit(1).select(ordersDf.columns.map {
        case "o_custkey" => (org.apache.spark.sql.functions.lit(-999L) * 1).as("o_custkey")
        case c => org.apache.spark.sql.functions.col(c)
      }: _*))
    val bad = withOrphan.join(Tables.df(spark, SharedSpark.sf, "customer"),
      org.apache.spark.sql.functions.col("o_custkey") ===
        org.apache.spark.sql.functions.col("c_custkey"), "left_anti").count()
    assert(bad == 1L)
  }

  test("p166: gap sweep equals the per-user lag derivation") {
    val ev = Tables.df(spark, SharedSpark.sf, "events")
      .selectExpr("user_id", "event_id",
        "unix_micros(cast(ts as timestamp)) as us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gaps = ev.groupBy(_._1).values.flatMap { g =>
      val s = g.sortBy(t => (t._3, t._2)).map(_._3)
      s.zip(s.drop(1)).map { case (a, b) => b - a }
    }.toSeq
    val nUsers = ev.map(_._1).distinct.length.toLong
    val nEvents = ev.length.toLong
    val rows = byName("p166_session_gap_sweep").run(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    Seq(300L, 900L, 1800L, 3600L).zip(rows).foreach { case (gap, (g, ns, avg)) =>
      assert(g == gap)
      val want = nUsers + gaps.count(_ > gap * 1000000L)
      assert(ns == want, s"gap $gap: $ns vs $want")
      assert(avg == rN(nEvents.toDouble / want, 4))
    }
  }
}
