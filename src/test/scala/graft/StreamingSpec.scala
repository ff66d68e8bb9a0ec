package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** Structured Streaming specs: the streaming pipelines must agree with their
  * batch twins when fed the same bounded input. */
class StreamingSpec extends AnyFunSuite {
  private val spark = SharedSpark.spark

  /** File stream sources read directories; stage the single events.parquet
    * into one (as a production layout of arriving files would be). */
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-events")
    java.nio.file.Files.createSymbolicLink(
      d.resolve("events.parquet"),
      java.nio.file.Paths.get(SharedSpark.sf, "events.parquet"))
    d.toString
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
    val q = df.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try q.processAllAvailable()
    finally q.stop()
  }

  test("streaming windowed agg matches batch computation") {
    // the tumbling and the sliding (1h window, 15m slide) aggregation, each
    // against its batch twin
    Seq(
      ("win_agg", EventStreams.windowedAgg _, window(col("ts"), "1 hour")),
      ("slide_agg", EventStreams.slidingAgg _, window(col("ts"), "1 hour", "15 minutes"))
    ).foreach { case (name, agg, win) =>
      val stream = EventStreams.readEventStream(spark, eventsDir)
      runToMemory(agg(stream), name)
      val streamed = spark.table(name)
        .orderBy(col("window_start"), col("event_type"))
        .collect()

      val batch = Tables.df(spark, SharedSpark.sf, "events")
        .withColumn("ts", col("ts").cast("timestamp")) // match the stream's ltz type
        .groupBy(win.getField("start").as("window_start"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("window_start"), col("event_type"))
        .collect()

      assert(streamed.nonEmpty && streamed.length == batch.length, name)
      streamed.zip(batch).foreach { case (s, b) =>
        assert(s.get(0) == b.get(0) && s.get(1) == b.get(1) && s.getLong(2) == b.getLong(2),
          s"$name: $s vs $b")
      }
    }
  }

  test("streaming dedup keeps one row per event_id") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    val q = EventStreams.dedup(stream)
      .writeStream.outputMode("append").format("memory").queryName("dedup_out").start()
    try q.processAllAvailable()
    finally q.stop()
    val n = spark.table("dedup_out").count()
    val distinct = Tables.df(spark, SharedSpark.sf, "events")
      .select(col("event_id")).distinct().count()
    assert(n == distinct)
  }

  test("session windows produce bounded sessions") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    runToMemory(EventStreams.sessionAgg(stream), "sess_agg")
    val n = spark.table("sess_agg").count()
    assert(n > 0)
  }

  test("stream-stream time-range join matches batch equivalent") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    val q = EventStreams.streamStreamJoin(stream)
      .writeStream.outputMode("append").format("memory").queryName("ss_join").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("ss_join").count()

    val ev = Tables.df(spark, SharedSpark.sf, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batch = v.join(c, col("v_user") === col("c_user")
      && col("c_ts") >= col("v_ts")
      && col("c_ts") <= col("v_ts") + expr("INTERVAL 1 HOUR")).count()
    assert(streamed == batch)
    assert(streamed > 0)
  }

  test("readStream -> windowed agg -> writeStream parquet sink round-trip") {
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val stream = EventStreams.readEventStream(spark, eventsDir)
    // group by the intact window column — projecting window.start inside the
    // groupBy would strip the event-time metadata append mode requires
    val agg = stream.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))
    val q = agg
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$out/_ckpt")
      .format("parquet").option("path", s"$out/data").start()
    try q.processAllAvailable()
    finally q.stop()
    val written = spark.read.parquet(s"$out/data")
    // append mode emits only watermark-closed windows; with day-spanning
    // data all but the trailing hour close
    assert(written.count() > 0)
    assert(written.columns.toSet == Set("window_start", "event_type", "n", "total"))
  }

  test("flatMapGroupsWithState running totals match batch groupBy") {
    val stream = EventStreams.readEventStream(spark, eventsDir)
    val q = EventStreams.runningUserTotals(spark, stream)
      .writeStream.outputMode("update").format("memory").queryName("run_tot").start()
    try q.processAllAvailable()
    finally q.stop()
    // last emitted row per user == final totals
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n_events").desc)
    val finalRows = spark.table("run_tot")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val batch = Tables.df(spark, SharedSpark.sf, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalRows == batch)
  }

  private lazy val docsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-docs")
    java.nio.file.Files.createSymbolicLink(
      d.resolve("documents.parquet"),
      java.nio.file.Paths.get(SharedSpark.sf, "documents.parquet"))
    d.toString
  }

  test("streaming document dedup matches batch distinct-digest count") {
    val stream = graft.streaming.DocumentStreams.readDocumentStream(spark, docsDir)
    val q = graft.streaming.DocumentStreams.dedupByContent(stream)
      .writeStream.outputMode("append").format("memory").queryName("doc_dedup").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("doc_dedup").count()
    val batch = graft.streaming.DocumentStreams.cleanAndFingerprint(
      Tables.df(spark, SharedSpark.sf, "documents"))
      .select(col("digest")).distinct().count()
    assert(streamed == batch)
  }

  test("incremental span-count index matches the batch p24 cnt stage") {
    val stream = graft.streaming.DocumentStreams.readDocumentStream(spark, docsDir)
    runToMemory(graft.streaming.DocumentStreams.spanCounts(stream), "span_cnt")
    val streamed = spark.table("span_cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // batch twin: p24's span-count stage over the same bounded input
    val t = split(lower(col("text")), "\\s+")
    val batch = Tables.df(spark, SharedSpark.sf, "documents")
      .filter(org.apache.spark.sql.functions.size(t) >= 10)
      .select(explode(array_distinct(transform(
        sequence(lit(1), org.apache.spark.sql.functions.size(t) - 9, lit(5)),
        i => md5(concat_ws(" ", slice(t, i, lit(10))))))).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming incremental minhash screen matches the batch p84 candidate stage") {
    val docs = Tables.df(spark, SharedSpark.sf, "documents")
    // snapshot = the persisted 80% corpus; stream = the arriving 20% shard
    val snapshot = graft.streaming.DocumentStreams.bandTable(
      docs.filter(col("doc_id") % 10 < 8))
    val stream = graft.streaming.DocumentStreams.readDocumentStream(spark, docsDir)
      .filter(col("doc_id") % 10 >= 8)
    runToMemory(graft.streaming.DocumentStreams.minhashCandidates(stream, snapshot),
      "mh_cand")
    val streamed = spark.table("mh_cand")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // independent batch computation of the same cross-split candidate set
    val newBands = graft.streaming.DocumentStreams.bandTable(
      docs.filter(col("doc_id") % 10 >= 8))
    val batch = newBands.withColumnRenamed("doc_id", "new_id")
      .join(snapshot.withColumnRenamed("doc_id", "old_id"), Seq("band", "bucket"))
      .select(col("new_id"), col("old_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty, "no cross-split candidates — screen suspect")
    // every candidate the p84 gate verified as a dup must have been screened
    val dupIds = SparkEntry.queries("p84_incremental_minhash")(spark, SharedSpark.sf)
      .filter(col("is_dup")).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(dupIds.subsetOf(streamed.map(_._1)),
      "a gate-verified duplicate never surfaced as a streaming candidate")
  }

  test("streaming contamination (stream-static gram join) matches batch p20 pairs") {
    val docs = Tables.df(spark, SharedSpark.sf, "documents")
    val bench = graft.streaming.DocumentStreams.benchGrams(
      docs.filter(col("doc_id") % 20 === 0))
    val stream = graft.streaming.DocumentStreams.readDocumentStream(spark, docsDir)
      .filter(col("doc_id") % 20 =!= 0)
    runToMemory(graft.streaming.DocumentStreams.contamination(stream, bench), "contam")
    val streamed = spark.table("contam")
      .filter(col("shared_grams") >= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    val batch = SparkEntry.queries("p20_contamination")(spark, SharedSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("streaming per-language corpus stats match the batch aggregate") {
    val stream = graft.streaming.DocumentStreams.readDocumentStream(spark, docsDir)
    runToMemory(graft.streaming.DocumentStreams.langStats(stream), "doc_stats")
    val streamed = spark.table("doc_stats")
      .select(col("lang"), col("n_docs"), col("n_tokens"))
      .orderBy(col("lang")).collect()
    val batch = graft.streaming.DocumentStreams.cleanAndFingerprint(
      Tables.df(spark, SharedSpark.sf, "documents"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("lang")).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (a, b) =>
      assert(a.getString(0) == b.getString(0) && a.getLong(1) == b.getLong(1)
        && a.getLong(2) == b.getLong(2))
    }
  }

  test("incremental boilerplate-segment index matches the batch p49 df stage") {
    val stream = graft.streaming.DocumentStreams.readDocumentStream(spark, docsDir)
    runToMemory(graft.streaming.DocumentStreams.boilerplateCounts(stream), "boiler_cnt")
    val streamed = spark.table("boiler_cnt")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    // batch twin: p49's (source, segment) document-frequency stage over the
    // same bounded input, on the same md5 segment key
    val t = split(lower(col("text")), "\\s+")
    val batch = Tables.df(spark, SharedSpark.sf, "documents")
      .filter(org.apache.spark.sql.functions.size(t) >= 3)
      .select(col("source"), col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1L), floor(org.apache.spark.sql.functions.size(t) / 3).cast("long")),
          i => md5(concat_ws(" ", slice(t, (i * 3 - 2).cast("int"), lit(3))))))).as("seg"))
      .groupBy(col("source"), col("seg"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the threshold consumer's view: at least one source has a segment at
    // the batch p49 boilerplate threshold (df >= 2) in this corpus
    assert(streamed.values.exists(_ >= 2L))
  }

  test("streaming event gaps equal the batch lag-window gap set") {
    val stream = graft.streaming.EventStreams.readEventStream(spark, eventsDir)
    val q = graft.streaming.EventStreams.eventGaps(spark, stream)
      .writeStream.outputMode("update").format("memory").queryName("gap_out").start()
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("gap_out")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap

    val lagW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val us = unix_micros(col("ts").cast("timestamp"))
    val batch = Tables.df(spark, SharedSpark.sf, "events")
      .select(col("event_id"), (us - lag(us, 1).over(lagW)).as("gap_us"))
      .filter(col("gap_us").isNotNull)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamed == batch, "streaming gap set diverges from the batch lag window")
    assert(streamed.nonEmpty)
  }

  test("streaming rolling z-scores equal the batch p60 output bit-for-bit") {
    val stream = graft.streaming.EventStreams.readEventStream(spark, eventsDir)
    val q = graft.streaming.EventStreams.rollingZscores(spark, stream)
      .writeStream.outputMode("update").format("memory").queryName("zs_out").start()
    try q.processAllAvailable()
    finally q.stop()
    // Update mode re-emits a (user, day) row whenever later batches extend
    // the trailing window — keep each key's LAST emission (arrival order
    // within a key is the batch order thanks to the in-order file source).
    val streamed = spark.table("zs_out")
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toString) ->
        (r.getDouble(2), r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          r.getBoolean(5)))
      .toMap
    val batch = SparkEntry.allDefs.find(_.name == "p60_rolling_zscore").get
      .run(spark, SharedSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toString) ->
        (r.getDouble(2), r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          r.getBoolean(5)))
      .toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (k, b) =>
      assert(streamed(k) == b, s"$k: streaming ${streamed(k)} != batch $b")
    }
    assert(batch.nonEmpty)
  }

  test("streaming KMV sketch equals the batch p38 estimator bit-for-bit") {
    val stream = graft.streaming.DocumentStreams.readDocumentStream(spark, docsDir)
    val q = graft.streaming.DocumentStreams.kmvSketch(stream, 64)
      .writeStream.outputMode("update").format("memory").queryName("kmv_out").start()
    try q.processAllAvailable()
    finally q.stop()
    // Last emitted estimate per source (single micro-batch here, but the
    // contract is the same under any batching: state holds the k-minimum
    // distinct set regardless of arrival order).
    val streamed = spark.table("kmv_out")
      .groupBy(col("source")).agg(last(col("est")).as("est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val batch = SparkEntry.allDefs.find(_.name == "p38_kmv_distinct").get
      .run(spark, SharedSpark.sf)
      .select(col("source"), col("est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (src, bEst) =>
      // batch rounds to 4 decimals for the gate; apply the same grid here
      val sEst = math.rint(streamed(src) * 1e4) / 1e4
      assert(sEst == bEst, s"$src: streaming est $sEst != batch est $bEst")
    }
  }
}
