package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Kit

/** Streaming twins of the document-pipeline operators (SURVEY.md §2.6 is a
  * new capability — the reference has no streaming): the incremental form
  * of a training-data ingest. At 100 TB this is how the corpus actually
  * arrives — a continuous drop of files — and the batch plans in
  * PipelineQueries apply unchanged to each micro-batch because every stage
  * here is row-local except the dedup state (keyed by content digest) and
  * the per-language aggregate.
  */
object DocumentStreams {

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def readDocumentStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Row-local quality gate + content fingerprint — the streaming form of
    * p09 (quality) + p01's digest stage. Map-only: survives any scale. */
  def cleanAndFingerprint(docs: DataFrame): DataFrame =
    docs
      .withColumn("digest", md5(col("text")))
      .withColumn("n_tokens", size(split(col("text"), "\\s+")))
      .filter(col("n_tokens") >= 3 && length(trim(col("text"))) > 0)

  /** Exact content dedup — the streaming form of p01. State is keyed by
    * digest; in production you bound it with a watermark on ingest time
    * (documents carry none here, so state grows with unique content — the
    * same contract as batch distinct). */
  def dedupByContent(docs: DataFrame): DataFrame =
    cleanAndFingerprint(docs).dropDuplicates("digest")

  /** Incremental per-language corpus stats — the streaming form of p16's
    * summary aggregate. Partial aggregation per micro-batch, merged into
    * the state store exactly like a batch partial+final hash agg. */
  def langStats(docs: DataFrame): DataFrame =
    cleanAndFingerprint(docs)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        approx_count_distinct(col("digest")).as("approx_unique"))

  /** Distinct hashed `n`-token windows at stride `stride` (the p24 span
    * shape), computed row-locally — identical per micro-batch and in batch. */
  private def spanHashes(text: org.apache.spark.sql.Column, n: Int,
      stride: Int): org.apache.spark.sql.Column = {
    val t = Kit.words(text)
    // guard: sequence(1, size-n+1) is invalid when the doc is shorter than
    // one span — short docs get an empty span list, not an error
    when(size(t) >= n,
      array_distinct(transform(
        sequence(lit(1), size(t) - (n - 1), lit(stride)),
        i => md5(concat_ws(" ", slice(t, i, lit(n)))))))
      .otherwise(array().cast("array<string>"))
  }

  /** The static benchmark gram set consumed by [[contamination]] —
    * (bench_id, 5-gram hash) rows, row-locally computed from the held-out
    * benchmark documents. */
  def benchGrams(benchDocs: DataFrame): DataFrame =
    benchDocs.select(col("doc_id").as("bench_id"),
      explode(spanHashes(col("text"), 5, 1)).as("g"))

  /** Incremental span-count index — the streaming form of p24's `cnt` stage:
    * the running number of documents containing each 10-token/stride-5 span.
    * This is the STATE a streaming span-dedup consults (a micro-batch flags
    * a document's spans against these counts); span hashing is row-local, so
    * the only stateful stage is the keyed count — one state row per distinct
    * span, the same footprint as the batch groupBy. Documents carry no event
    * time, so production bounds this state with an ingest-time watermark —
    * the same contract as [[dedupByContent]]. */
  def spanCounts(docs: DataFrame): DataFrame =
    docs.filter(size(split(col("text"), "\\s+")) >= 10)
      .select(col("doc_id"), explode(spanHashes(col("text"), 10, 5)).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))

  /** Incremental boilerplate-segment index — the streaming form of p49's
    * document-frequency stage: the running number of documents (per source)
    * containing each 3-token segment, keyed on the segment's md5 so state
    * rows stay fixed-width. Segmentation and the per-document distinct are
    * row-local, so the only stateful stage is the keyed count — one state
    * row per distinct (source, segment), the same footprint as the batch
    * groupBy; a crossing of the boilerplate threshold is visible the
    * micro-batch it happens. Documents carry no event time, so production
    * bounds this state with an ingest-time watermark — the [[spanCounts]]
    * contract. */
  def boilerplateCounts(docs: DataFrame): DataFrame = {
    val t = Kit.words(col("text"))
    docs.filter(size(t) >= 3)
      .select(col("source"),
        explode(array_distinct(transform(
          sequence(lit(1L), floor(size(t) / 3).cast("long")),
          i => md5(concat_ws(" ", slice(t, (i * 3 - 2).cast("int"), lit(3))))))).as("seg"))
      .groupBy(col("source"), col("seg")).agg(count(lit(1)).as("df"))
  }

  /** Streaming KMV distinct-cardinality sketch — the incremental form of
    * p38: per source, maintain the k lexicographically-smallest DISTINCT
    * md5 trigram-shingle hashes seen so far (hex order IS numeric order for
    * fixed-width lowercase hex) and emit the standard (k-1)/h_(k) estimate
    * each update. The state is exactly k 32-char strings per source —
    * O(k), bounded for the stream's lifetime with no watermark needed,
    * which is the whole point of shipping a sketch instead of streaming
    * count(DISTINCT): the estimator's state does not grow with the corpus.
    *
    * Custom state via flatMapGroupsWithState (not an unsupported streaming
    * distinct-aggregate): merge each micro-batch's row-local-distinct gram
    * hashes into the retained k-minimum set. The k-th retained FULL hash
    * keys the estimate; only its first 13 hex digits (52 bits — exact in a
    * double) are ever converted to a number, so the estimate is
    * bit-identical to the batch p38 value over the same corpus (pinned by
    * StreamingSpec).
    */
  def kmvSketch(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("source"), explode(spanHashes(col("text"), 3, 1)).as("g"))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[String], (String, Int, Double)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (source, rows, state: org.apache.spark.sql.streaming.GroupState[Array[String]]) =>
          val cur = state.getOption.getOrElse(Array.empty[String])
          val merged = (cur ++ rows.map(_._2)).distinct.sorted.take(k)
          state.update(merged)
          val est =
            if (merged.length == k) {
              // 13 hex digits = 52 bits: exact in an IEEE double, and
              // v / 16^13 equals the batch side's Horner fraction bit-for-bit.
              val frac = java.lang.Long.parseLong(merged.last.substring(0, 13), 16)
                .toDouble / math.pow(16.0, 13.0)
              (k - 1).toDouble / frac
            } else -1.0
          Iterator((source, merged.length, est))
      }
      .toDF("source", "n_retained", "est")
  }

  /** The (doc_id, band, bucket) MinHash band table over 3-word shingles —
    * p84's banding, shared with p02 through [[graft.operators.Kit]] so the
    * batch snapshot side and the streaming probe side are provably the same
    * kernel. Row-local: the signature is a per-row expression, the band
    * fan-out a 4-element explode; docs too short for one 3-word shingle
    * emit no bands (see [[graft.operators.Kit.bands]]). */
  def bandTable(docs: DataFrame): DataFrame =
    Kit.bands(Kit.signatures(docs), 4, 2)

  /** Streaming incremental near-dup screen — the streaming form of p84's
    * candidate stage: arriving docs are shingled and minhash-banded
    * row-locally, then stream-static joined against the PERSISTED corpus
    * snapshot's band table on (band, bucket) — exactly how production
    * ingest dedup runs (the snapshot side changes per compaction, not per
    * micro-batch). A keyed count per (new doc, snapshot doc) collapses
    * multi-band hits, so each candidate pair surfaces once with its
    * band-hit count; exact verification stays a downstream batch join, as
    * in p84. */
  def minhashCandidates(docsStream: DataFrame, snapshotBands: DataFrame): DataFrame =
    bandTable(docsStream)
      .withColumnRenamed("doc_id", "new_id")
      .join(snapshotBands
        .select(col("doc_id").as("old_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .groupBy(col("new_id"), col("old_id"))
      .agg(count(lit(1)).as("n_band_hits"))

  /** Streaming benchmark-contamination — the p20 semantics with the corpus
    * ARRIVING as a stream and the benchmark gram set STATIC (eval suites
    * change rarely): a stream-static equi-join on the gram (the static side
    * is broadcast-size by the p20 contract, guarded there), then a keyed
    * count per (corpus doc, benchmark doc) pair. Per-document grams are
    * row-local-distinct, so the pair count equals the batch twin's
    * count(DISTINCT g) without a streaming-unsupported distinct aggregate. */
  def contamination(docsStream: DataFrame, benchGrams: DataFrame): DataFrame =
    docsStream
      .select(col("doc_id"), explode(spanHashes(col("text"), 5, 1)).as("g"))
      .join(benchGrams, "g")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared_grams"))
}
