package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 5 — corpus-preparation stages downstream of
  * dedup/filtering: chunking documents into overlapping token windows
  * (retrieval / pretraining-sample prep) and computing temperature-scaled
  * source mixing weights (the sampling schedule a trainer consumes).
  *
  * Both plans are row-local or tiny-aggregate only: chunking is an explode
  * over a per-row start sequence (no shuffle until the final ORDER BY, which
  * exists for the oracle's determinism, not the semantics); mixing weights
  * reduce the corpus to one row per source before any non-trivial work.
  */
object PipelineQueries5 {

  /** Chunk geometry: 32-token windows every 24 tokens (8-token overlap) —
    * sized to the synthetic corpus (~54 tokens/doc ⇒ 2-3 chunks) so the
    * gate exercises multi-chunk docs, boundary truncation, and the
    * single-chunk short-doc case at once. */
  private val ChunkSize = 32
  private val ChunkStride = 24

  val defs: Seq[QueryDef] = Seq(

    // -------------------------------------------------- document chunking

    // Overlapping token-window chunking: every document becomes
    // ceil(n_tokens / stride) chunks of up to ChunkSize tokens starting
    // every ChunkStride tokens, each carrying its token offset, length, and
    // an md5 of the chunk text (the identity a retrieval index or a
    // span-dedup pass would key on — and a content-exact correctness
    // signal for the gate).
    //
    // Scale shape: chunk starts are a per-row `sequence` explode — entirely
    // row-local, no shuffle, no state; output size is a constant factor
    // (~n/stride) of the corpus. At 100 TB this is a map-only stage; the
    // trailing ORDER BY is the gate's determinism contract, not part of the
    // operator (a real pipeline writes chunks unordered).
    QueryDef("p30_doc_chunking", Some(s"""
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents),
      st AS (
        SELECT doc_id, tk,
               unnest(list_transform(range(0, CAST(len(tk) AS BIGINT), $ChunkStride),
                 x -> CAST(x AS BIGINT))) AS start
        FROM t)
      SELECT doc_id,
             CAST(start / $ChunkStride AS BIGINT) AS chunk_idx,
             start AS start_tok,
             CAST(least($ChunkSize, len(tk) - start) AS BIGINT) AS n_tok,
             md5(array_to_string(list_slice(tk, start + 1, start + $ChunkSize), ' ')) AS chunk_md5
      FROM st ORDER BY doc_id, chunk_idx""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("tk"))
      t.select(col("doc_id"), col("tk"),
          explode(sequence(lit(0L), size(col("tk")).cast("long") - 1L,
            lit(ChunkStride.toLong))).as("start"))
        .select(col("doc_id"),
          (col("start") / ChunkStride).cast("long").as("chunk_idx"),
          col("start").as("start_tok"),
          least(lit(ChunkSize), size(col("tk")) - col("start").cast("int")).cast("long").as("n_tok"),
          md5(concat_ws(" ", slice(col("tk"), (col("start") + 1).cast("int"), lit(ChunkSize))))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // --------------------------------------------- source mixing weights

    // Temperature-scaled source mixing: the sampling weights a trainer uses
    // to rebalance heterogeneous sources. Raw token share per source is
    // flattened with exponent alpha (0 < alpha < 1 upsamples the tail —
    // alpha=1 is proportional, alpha=0 uniform), renormalized, and reported
    // with the effective epoch factor (weight/share — how many passes over
    // that source one corpus-epoch of sampling implies).
    //
    // Scale shape: one partial-aggregated groupBy collapses the corpus to
    // |sources| rows; everything after is arithmetic on that tiny frame
    // (the total rides along as a broadcast 1-row cross join, never a
    // driver collect). Map-side token counting is row-local.
    QueryDef("p31_mixing_weights", Some("""
      WITH per AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split_regex(lower(text), '\s+'))) AS BIGINT) AS tokens
        FROM documents GROUP BY source),
      tot AS (
        SELECT sum(tokens) AS all_tokens, sum(pow(tokens, 0.3)) AS z FROM per)
      SELECT source, n_docs, tokens,
             round(tokens / all_tokens, 6) AS share,
             round(pow(tokens, 0.3) / z, 6) AS weight,
             round((pow(tokens, 0.3) / z) / (tokens / all_tokens), 6) AS epochs
      FROM per CROSS JOIN tot ORDER BY source""")) { (s, dir) =>
      val per = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), size(Kit.words(col("text"))).cast("long").as("n"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("tokens"))
      val tot = per.agg(sum(col("tokens")).cast("double").as("all_tokens"),
        sum(pow(col("tokens"), lit(0.3))).as("z"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("tokens"),
          round(col("tokens") / col("all_tokens"), 6).as("share"),
          round(pow(col("tokens"), lit(0.3)) / col("z"), 6).as("weight"),
          round((pow(col("tokens"), lit(0.3)) / col("z")) /
            (col("tokens") / col("all_tokens")), 6).as("epochs"))
        .orderBy(col("source"))
    },

    // ------------------------------------- duplicated substring runs (p32)

    // Cross-document duplicated substring-RUN detection — the exact-span
    // tier of substring dedup (the signal suffix-array dedup à la Lee et
    // al. 2022, "Deduplicating Training Data Makes Language Models Better",
    // extracts; here re-expressed as a k-gram inverted index + island
    // merge, the shape that distributes). A position is duplicated when its
    // k-token gram occurs in ≥2 DISTINCT docs; consecutive duplicated
    // positions merge into maximal runs; per doc we report run count, gram
    // count, the longest run's token length, and the exact count of tokens
    // covered by at least one duplicated gram (consecutive runs closer
    // than k overlap in tokens — the lag-window term subtracts that
    // overlap, so no second pass over the position set is needed).
    //
    // Scale shape: one scan → row-local gram explode → groupBy(gram)
    // [partial-agg collapses repeats before the shuffle] → shuffle join
    // back on gram → per-doc windows (bounded by doc length) → per-doc agg.
    // Every shuffle is keyed (gram, then doc); no all-pairs stage, no
    // driver state — at 100 TB the gram index is the same one-shuffle
    // inverted index every substring-dedup pipeline builds.
    QueryDef("p32_substring_runs", Some("""
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk FROM documents),
      p AS (
        SELECT doc_id, tk,
               unnest(list_transform(range(1, CAST(greatest(len(tk) - 7, 0) AS BIGINT) + 1),
                 x -> CAST(x AS BIGINT))) AS pos
        FROM t WHERE len(tk) >= 8),
      g AS (
        SELECT doc_id, pos, md5(array_to_string(tk[pos:pos+7], ' ')) AS g FROM p),
      dg AS (SELECT g FROM g GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
      d AS (SELECT doc_id, pos FROM g WHERE g IN (SELECT g FROM dg)),
      r AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM d),
      isl AS (
        SELECT doc_id, grp, min(pos) AS start, count(*) AS len
        FROM r GROUP BY doc_id, grp),
      cov AS (
        SELECT doc_id, len,
               len + 7 AS covtok,
               lag(start + len + 6) OVER (PARTITION BY doc_id ORDER BY start) AS prev_end,
               start
        FROM isl),
      per AS (
        SELECT doc_id,
               sum(len) AS dup_grams,
               count(*) AS dup_spans,
               max(len + 7) AS max_span_tok,
               sum(covtok) - sum(greatest(0, coalesce(prev_end - start + 1, 0))) AS dup_tok_cov
        FROM cov GROUP BY doc_id)
      SELECT t.doc_id,
             CAST(coalesce(dup_grams, 0) AS BIGINT) AS dup_grams,
             CAST(coalesce(dup_spans, 0) AS BIGINT) AS dup_spans,
             CAST(coalesce(max_span_tok, 0) AS BIGINT) AS max_span_tok,
             CAST(coalesce(dup_tok_cov, 0) AS BIGINT) AS dup_tok_cov
      FROM t LEFT JOIN per USING (doc_id) ORDER BY doc_id""")) { (s, dir) =>
      val k = 8
      val docs = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("tk"))
      val grams = docs
        .filter(size(col("tk")) >= k)
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(1L), (size(col("tk")) - (k - 1)).cast("long")),
            i => struct(i.as("pos"),
              md5(concat_ws(" ", slice(col("tk"), i.cast("int"), lit(k)))).as("g")))).as("e"))
        .select(col("doc_id"), col("e.pos").as("pos"), col("e.g").as("g"))
      // grams seen in >= 2 distinct docs; the join back is gram-keyed
      // (shuffle join at scale — both sides partition on g).
      val dupG = grams.groupBy(col("g"))
        .agg(count_distinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("g"))
      val dup = grams.join(dupG, Seq("g")).select(col("doc_id"), col("pos"))
      val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val islands = dup
        .withColumn("grp", col("pos") - row_number().over(byDoc))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("pos")).as("start"), count(lit(1)).as("len"))
      val byStart = Window.partitionBy(col("doc_id")).orderBy(col("start"))
      val per = islands
        .withColumn("prev_end", lag(col("start") + col("len") + (k - 2), 1).over(byStart))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("len")).as("dup_grams"),
          count(lit(1)).as("dup_spans"),
          max(col("len") + (k - 1)).as("max_span_tok"),
          (sum(col("len") + (k - 1)) -
            sum(greatest(lit(0L), coalesce(col("prev_end") - col("start") + 1, lit(0L)))))
            .as("dup_tok_cov"))
      docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
          coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
          coalesce(col("max_span_tok"), lit(0L)).as("max_span_tok"),
          coalesce(col("dup_tok_cov"), lit(0L)).as("dup_tok_cov"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------ image perceptual dedup (p33)

    // Image near-duplicate detection by 64-bit average hash over REAL
    // decoded pixels (pure-JDK ImageIO — see [[Multimodal]]): each document
    // carries a deterministic PNG rendered at one of three resolutions from
    // a seed shared by doc_id%40, so the corpus contains genuine
    // pixel-different / perceptually-identical duplicates the byte-level
    // tiers (p01) cannot see. Decode + hash run partition-local
    // (mapPartitions, one decoder per partition); clusters are one
    // groupBy(hash).
    //
    // Oracle: the decode itself is not SQL-expressible, but the corpus's
    // duplicate STRUCTURE is — images share pixels iff they share the
    // doc_id%40 seed, and MultimodalSpec pins aHash scale-invariance across
    // the three render sizes plus cross-seed hash distinctness, so the
    // expected clusters are exactly the seed classes. The oracle computes
    // (rep_id, n_imgs, n_sizes) from doc_id arithmetic without decoding a
    // byte; the Spark half still decodes real pixels and groups by the real
    // 64-bit hash, so a decode or hash regression breaks the hash match.
    //
    // Scale shape: map-only decode+hash, one shuffle on the 64-bit hash;
    // per-cluster state is the bounded member list of a near-dup cluster
    // (the p02 caveat class). At 100 TB the decode stage is the pipeline's
    // dominant CPU cost and parallelizes per split.
    QueryDef("p33_image_phash_dedup", Some("""
      SELECT CAST(min(doc_id) AS BIGINT) AS rep_id,
             CAST(count(*) AS BIGINT) AS n_imgs,
             CAST(count(DISTINCT doc_id % 3) AS BIGINT) AS n_sizes
      FROM documents GROUP BY doc_id % 40 HAVING count(*) > 1
      ORDER BY rep_id""")) { (s, dir) =>
      import s.implicits._
      val assets = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 40).cast("int").as("seed"),
          (lit(64) + (col("doc_id") % 3).cast("int") * 32).as("px"))
        .as[(Long, Int, Int)]
      val hashed = assets.mapPartitions { it =>
        it.map { case (docId, seed, px) =>
          val png = Multimodal.ImageCodec.syntheticBlockPng(px, seed)
          val img = Multimodal.ImageCodec.decode(png).get
          (docId, px, Multimodal.ImageCodec.averageHash(img))
        }
      }.toDF("doc_id", "px", "ahash")
      hashed.groupBy(col("ahash"))
        .agg(min(col("doc_id")).as("rep_id"),
          count(lit(1)).as("n_imgs"),
          count_distinct(col("px")).as("n_sizes"))
        .filter(col("n_imgs") > 1)
        .select(col("rep_id"), col("n_imgs"), col("n_sizes"))
        .orderBy(col("rep_id"))
    },

    // --------------------------------------------- skew-aware join (p34)

    // Hot-key-salted equi-join ([[SkewJoin]]) exercised end-to-end: events
    // keyed by a Zipf-ish derived key where ONE key (0) owns ~30% of all
    // rows (user_id%10 ∈ {0,1,2} collapse onto it) joins a per-key customer
    // dim. The 10% hot-fraction threshold isolates exactly that key: its
    // rows join on (k, salt) across 8 replicas while the ~70 cold keys take
    // the plain path. The oracle is the PLAIN equi-join — the salted plan
    // must reproduce the identical multiset by construction.
    //
    // Scale shape: the hot set is found by one partial-aggregated count
    // (broadcast 1-row total, no driver collect); only hot keys replicate
    // build rows (x saltFactor on a tiny slice, never the whole build
    // side); the cold path is untouched. The fraction threshold keeps the
    // same query meaningful at any SF — an absolute row threshold tuned at
    // sf0.01 would salt everything (or nothing) at 100 TB.
    QueryDef("p34_skew_join", Some("""
      WITH ev AS (
        SELECT CASE WHEN user_id % 10 < 3 THEN 0 ELSE user_id % 100 END AS k, value
        FROM events),
      dim AS (
        SELECT c_custkey % 100 AS k, count(*) AS n_cust FROM customer GROUP BY k)
      SELECT ev.k AS k,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(ev.value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
             CAST(max(dim.n_cust) AS BIGINT) AS n_cust
      FROM ev JOIN dim ON ev.k = dim.k
      GROUP BY ev.k ORDER BY k""")) { (s, dir) =>
      val ev = Tables.df(s, dir, "events").select(
        when(col("user_id") % 10 < 3, lit(0L)).otherwise(col("user_id") % 100).as("k"),
        col("value"))
      val dim = Tables.df(s, dir, "customer")
        .groupBy((col("c_custkey") % 100).as("k"))
        .agg(count(lit(1)).as("n_cust"))
      SkewJoin.skewAwareJoinByFraction(ev, dim, Seq("k"),
          hotFraction = 0.1, saltFactor = 8)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_events"),
          Kit.dsum(col("value"), 6).as("sum_value"),
          max(col("n_cust")).as("n_cust"))
        .orderBy(col("k"))
    }
  )
}
