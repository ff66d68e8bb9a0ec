package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Functions, QueryDef, Tables}

/** Large-scale training-data pipeline operators: deduplication (exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine), similarity
  * search (brute-force and LSH-bucketed ANN), and text analysis
  * (language-ID, quality scoring, token counting, fingerprinting).
  *
  * Scale design notes (the sf data is tiny; the shapes are not):
  *  - every pairwise step is blocked (LSH band buckets / shared-shingle
  *    blocks) so candidate generation is a shuffle on the block key, never a
  *    global cross join — at 100 TB the cross join is impossible, the
  *    bucket join is routine;
  *  - signatures (minhash/simhash/hyperplane) are computed with higher-order
  *    functions on the row, not by exploding tokens through a shuffle, so
  *    signature generation is a map-only stage;
  *  - all hash functions are md5-derived and engine-agnostic, which is what
  *    lets DuckDB act as the oracle for every one of these.
  */
object PipelineQueries {

  val defs: Seq[QueryDef] = Seq(

    // -------------------------------------------------------- deduplication

    // Exact dedup: content-hash grouping; every doc mapped to its keeper
    // (min doc_id with identical text). Map-side hash + one shuffle on the
    // 16-byte digest — the canonical 100-TB exact-dedup plan.
    QueryDef.sql("p01_dedup_exact", """
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      FROM documents ORDER BY doc_id"""),

    // MinHash + LSH near-dedup: 3-word shingles → 8 minhashes → 4 bands of 2
    // → per-(band,bucket) grouping emits candidate pairs. Signature stage is
    // map-only (native codegen kernel over the shingle array); only the tiny
    // (band, bucket) keys shuffle, and the corpus is scanned exactly once.
    QueryDef("p02_dedup_minhash", Some("""
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS shingle FROM (
          SELECT doc_id, list_transform(
                   range(1, greatest(len(t) - 2, 0) + 1),
                   i -> array_to_string(t[i:i+2], ' ')) AS sh
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                FROM documents) x) y),
      mh AS (
        SELECT doc_id, h,
               min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
        FROM sh, range(0, 8) hs(h)
        GROUP BY doc_id, h),
      bands AS (
        SELECT doc_id, h // 2 AS band,
               md5(string_agg(minhash, '|' ORDER BY h)) AS bucket
        FROM mh GROUP BY doc_id, h // 2)
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      ORDER BY doc_a, doc_b""")) { (s, dir) =>
      Kit.minhashPairs(s, dir)
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // SimHash dedup: 32-bit majority-vote fingerprint per doc, computed
    // row-local; docs sharing a fingerprint are near-dup candidates.
    QueryDef("p03_dedup_simhash", Some("""
      WITH th AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents) t),
      bits AS (
        SELECT doc_id, b.bit,
               sum(CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END) AS vote
        FROM th, range(0, 32) b(bit)
        GROUP BY doc_id, b.bit)
      SELECT doc_id,
             CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id ORDER BY doc_id""")) { (s, dir) =>
      Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Functions.simhash32(Kit.words(col("text"))).as("simhash"))
        .orderBy(col("doc_id"))
    },

    // n-gram Jaccard near-dedup: blocked on shared shingles (never all-pairs),
    // exact |A∩B| / |A∪B| over distinct 3-shingles.
    // Evaluated alternative: AllPairs/PPJoin prefix filtering (rarity-ordered
    // prefixes suppress hot-shingle blowup). Measured 2x SLOWER at sf0.1 —
    // at t=0.2 the prefix trims only ~20% of tokens while adding a DF join,
    // two windows and a pair-distinct, and the intersection-via-groupBy here
    // already gets map-side partial aggregation. Prefix filtering wins at
    // high thresholds (t >= 0.7) or stop-phrase-skewed corpora; p17's
    // capped-DF variant is this pipeline's skew-safe tier.
    QueryDef("p04_dedup_jaccard", Some("""
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS shingle FROM (
          SELECT doc_id, list_transform(
                   range(1, greatest(len(t) - 2, 0) + 1),
                   i -> array_to_string(t[i:i+2], ' ')) AS sh
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                FROM documents) x) y),
      sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT doc_a, doc_b,
             round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
      ORDER BY doc_a, doc_b""")) { (s, dir) =>
      // Uncapped all-pairs TRUTH TIER: quadratic on purpose (exact
      // verification baseline). Bounded by contract like p17/p160 — past
      // the bound the prefix-filtered family (p191) is the scale plan.
      val sh = Kit.shingleRows(TruthTier.guard(s, dir, "documents",
        "p04_dedup_jaccard", "p191_jaccard_prefix_filter",
        "the exact pair set of the rare-capped shingles at its own threshold " +
          "via lossless prefix filtering; this op's uncapped 0.2 sweep runs " +
          "only on a bounded sample"))
      val jac = Kit.jaccard(col("i"), col("na"), col("nb"))
      Kit.jaccardPairs(sh)
        .filter(jac >= 0.2)
        .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // Embedding near-dup: cosine ≥ threshold over all pairs. Exact
    // (verification baseline); the LSH-bucketed scale path is p06/p07.
    // Double accumulation in index order matches DuckDB bit-for-bit.
    QueryDef("p05_dedup_embedding", Some("""
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.8
      ORDER BY vec_a, vec_b""")) { (s, dir) =>
      // All-pairs TRUTH TIER: exact verification baseline, quadratic on
      // purpose; bounded by contract — the LSH bucket join (p07) is the
      // scale path past the bound.
      val e = TruthTier.guard(s, dir, "embeddings",
        "p05_dedup_embedding", "p07_similarity_lsh",
        "an approximate LSH bucket join that can miss pairs; the exact " +
          "all-pairs set runs only on a bounded sample")
      val a = e.alias("a")
      val b = e.alias("b")
      val cos = Functions.cosineSimilarity(col("a.embedding"), col("b.embedding"))
      a.join(b, col("a.vec_id") < col("b.vec_id"))
        .filter(cos >= 0.8)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          round(cos, 6).as("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    },

    // -------------------------------------------------- similarity search

    // Brute-force cosine top-k: k best neighbors for each query vector
    // (query set broadcast against the corpus — the exact-rerank stage of
    // any large-scale ANN pipeline).
    QueryDef("p06_similarity_topk", Some("""
      SELECT q_id, n_id, sim, rn FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                          c.vec_id) AS rn
        FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
        JOIN embeddings c ON q.vec_id <> c.vec_id) t
      WHERE rn <= 5 ORDER BY q_id, rn""")) { (s, dir) =>
      val e = Tables.dfSpread(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 10).alias("q")
      val c = e.alias("c")
      val cos = Functions.cosineSimilarity(col("q.embedding"), col("c.embedding"))
      val w = Window.partitionBy(col("q.vec_id")).orderBy(cos.desc, col("c.vec_id"))
      broadcast(q).join(c, col("q.vec_id") =!= col("c.vec_id"))
        .select(col("q.vec_id").as("q_id"), col("c.vec_id").as("n_id"),
          round(cos, 6).as("sim"), row_number().over(w).as("rn"))
        .filter(col("rn") <= 5)
        .orderBy(col("q_id"), col("rn"))
    },

    // LSH-bucketed ANN (the scale path): 16 deterministic random hyperplanes
    // (±1 weights derived from md5) → 16-bit signature → bucket. Neighbor
    // candidates come from a bucket-equi-join instead of a cross join.
    QueryDef("p07_similarity_lsh", Some("""
      WITH w AS (
        SELECT h.h, d.d,
               CASE WHEN ('0x' || substr(md5(CAST(h.h AS VARCHAR) || ':' || CAST(d.d AS VARCHAR)), 1, 1))::INT % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS wt
        FROM range(0, 16) h(h), range(0, 64) d(d)),
      proj AS (
        SELECT e.vec_id, w.h, sum(w.wt * e.embedding[w.d + 1]::DOUBLE) AS dot
        FROM embeddings e, w
        GROUP BY e.vec_id, w.h)
      SELECT vec_id,
             CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << h) ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY vec_id ORDER BY vec_id""")) { (s, dir) =>
      // Row-local signature via higher-order functions: no explode, no
      // shuffle — each row folds its own 64 dims against 16 hash-derived
      // hyperplanes. (The DuckDB oracle computes the same sum by unnesting,
      // in a different addition order — both sides sum exact ±1.0 * float
      // products, but we keep doubles exact by summing index-ascending.)
      val weight = (h: Column, d: Column) =>
        when(conv(substring(md5(concat(h.cast("string"), lit(":"), d.cast("string"))), 1, 1), 16, 10)
          .cast("int") % 2 === 0, lit(1.0)).otherwise(lit(-1.0))
      val e = Tables.dfSpread(s, dir, "embeddings")
      e.select(
        col("vec_id"),
        aggregate(sequence(lit(0), lit(15)), lit(0L), (acc, h) => {
          val dot = aggregate(sequence(lit(0), lit(63)), lit(0.0),
            (a, d) => a + weight(h, d) * element_at(col("embedding"), d + 1).cast("double"))
          acc + when(dot > 0, call_function("shiftleft", lit(1L), h)).otherwise(0L)
        }).as("bucket"))
        .orderBy(col("vec_id"))
    },

    // ------------------------------------------------------- text analysis

    // Language ID via stopword-hit scoring with deterministic tie-break.
    QueryDef("p08_text_langid", Some("""
      WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is'))) AS s_en,
               len(list_filter(t, x -> x IN ('der','die','das','und','ist','ein'))) AS s_de,
               len(list_filter(t, x -> x IN ('el','la','de','y','es','un'))) AS s_es,
               len(list_filter(t, x -> x IN ('le','la','et','est','un','une'))) AS s_fr
        FROM (SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS t
              FROM documents) x)
      SELECT doc_id,
             CASE WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                  WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr THEN 'es'
                  WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
                  ELSE 'en' END AS pred_lang,
             s_en, s_de, s_es, s_fr,
             lang AS labeled
      FROM scored ORDER BY doc_id""")) { (s, dir) =>
      val hit = (t: Column, ws: Seq[String]) =>
        size(filter(t, x => x.isin(ws.map(lit(_)): _*)))
      Tables.dfSpread(s, dir, "documents")
        .withColumn("t", Kit.words(col("text")))
        .withColumn("s_en", hit(col("t"), Seq("the", "a", "and", "of", "to", "in", "is")))
        .withColumn("s_de", hit(col("t"), Seq("der", "die", "das", "und", "ist", "ein")))
        .withColumn("s_es", hit(col("t"), Seq("el", "la", "de", "y", "es", "un")))
        .withColumn("s_fr", hit(col("t"), Seq("le", "la", "et", "est", "un", "une")))
        .select(
          col("doc_id"),
          when(col("s_de") > col("s_en") && col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
            .when(col("s_es") > col("s_en") && col("s_es") > col("s_de") && col("s_es") >= col("s_fr"), "es")
            .when(col("s_fr") > col("s_en") && col("s_fr") > col("s_de") && col("s_fr") > col("s_es"), "fr")
            .otherwise("en").as("pred_lang"),
          col("s_en"), col("s_de"), col("s_es"), col("s_fr"),
          col("lang").as("labeled"))
        .orderBy(col("doc_id"))
    },

    // Quality scoring: length/punctuation/stopword/uniqueness signals.
    QueryDef("p09_text_quality", Some("""
      SELECT doc_id,
             n_chars,
             len(t) AS n_tokens,
             round(CAST(len(list_filter(t, x -> length(x) > 0)) AS DOUBLE) / greatest(n_chars, 1), 6) AS token_density,
             round(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE) / greatest(n_chars, 1), 6) AS punct_ratio,
             round(CAST(len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
                   / greatest(len(t), 1), 6) AS stopword_ratio,
             round(CAST(len(list_distinct(t)) AS DOUBLE) / greatest(len(t), 1), 6) AS uniq_ratio
      FROM (SELECT doc_id, n_chars, text,
                   string_split_regex(lower(text), '\s+') AS t
            FROM documents) x
      ORDER BY doc_id""")) { (s, dir) =>
      val t = col("t")
      Tables.dfSpread(s, dir, "documents")
        .withColumn("t", Kit.words(col("text")))
        .select(
          col("doc_id"),
          col("n_chars"),
          size(t).as("n_tokens"),
          round(size(filter(t, x => length(x) > 0)).cast("double") /
            greatest(col("n_chars"), lit(1)), 6).as("token_density"),
          round(regexp_count(col("text"), lit("[.,!?;:]")).cast("double") /
            greatest(col("n_chars"), lit(1)), 6).as("punct_ratio"),
          round(size(filter(t, x => x.isin("the", "a", "and", "of", "to", "in", "is"))).cast("double") /
            greatest(size(t), lit(1)), 6).as("stopword_ratio"),
          round(size(array_distinct(t)).cast("double") /
            greatest(size(t), lit(1)), 6).as("uniq_ratio"))
        .orderBy(col("doc_id"))
    },

    // Token counting: whitespace, word-regex, and a BPE-ish estimate.
    QueryDef("p10_text_tokens", Some("""
      SELECT doc_id,
             len(string_split_regex(text, '\s+')) AS n_ws,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
             CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_bpe_est
      FROM documents ORDER BY doc_id""")) { (s, dir) =>
      Tables.dfSpread(s, dir, "documents").select(
        col("doc_id"),
        size(split(col("text"), "\\s+")).as("n_ws"),
        regexp_count(lower(col("text")), lit(Kit.WordRe)).as("n_words"),
        ceil(col("n_chars") / 4.0).cast("bigint").as("n_bpe_est"))
        .orderBy(col("doc_id"))
    },

    // Document fingerprinting: whole-doc digest + min-hash style selected
    // grams (rolling winnow surrogate), all row-local.
    QueryDef("p11_text_fingerprint", Some("""
      WITH t AS (SELECT doc_id,
                        trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm,
                        string_split_regex(lower(text), '\s+') AS toks
                 FROM documents)
      SELECT doc_id,
             md5(norm) AS fp_doc,
             list_aggregate(list_transform(toks, t -> md5(t)), 'min') AS fp_min_token,
             list_aggregate(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> md5(array_to_string(toks[i:i+2], ' '))), 'min') AS fp_min_shingle
      FROM t ORDER BY doc_id""")) { (s, dir) =>
      Tables.dfSpread(s, dir, "documents")
        .withColumn("norm", trim(regexp_replace(lower(col("text")), "\\s+", " ")))
        .withColumn("toks", Kit.words(col("text")))
        .select(
          col("doc_id"),
          md5(col("norm")).as("fp_doc"),
          array_min(transform(col("toks"), t => md5(t))).as("fp_min_token"),
          array_min(transform(Functions.wordShingles(col("toks"), 3), sh => md5(sh)))
            .as("fp_min_shingle"))
        .orderBy(col("doc_id"))
    },

    // --------------------------------------------------------- multimodal

    // Opaque-binary column plumbing: bytes in, typed metadata out. (Real
    // decode is stubbed — see graft.operators.Multimodal — but the schema /
    // batching shape is the one a 100-TB image pipeline uses.)
    QueryDef("p12_multimodal_meta", Some("""
      SELECT doc_id,
             octet_length(text::BLOB) AS n_bytes,
             md5(text) AS digest,
             to_base64(substr(text, 1, 12)::BLOB) AS head_b64
      FROM documents ORDER BY doc_id""")) { (s, dir) =>
      Tables.dfSpread(s, dir, "documents").select(
        col("doc_id"),
        octet_length(col("text").cast("binary")).as("n_bytes"),
        md5(col("text")).as("digest"),
        base64(substring(col("text"), 1, 12).cast("binary")).as("head_b64"))
        .orderBy(col("doc_id"))
    },

    // ------------------------------------------------------ event streams

    // Tumbling-window aggregation (batch twin of the Structured Streaming
    // pipeline in graft.streaming — same plan shape with readStream).
    QueryDef("p13_events_window", Some("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""")) { (s, dir) =>
      Tables.df(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          Kit.dsum(col("value"), 6).as("total"))
        .orderBy(col("window_start"), col("event_type"))
    },

    // Sessionization: 30-minute-gap sessions via lag + cumulative flag sum —
    // pure window algebra, one shuffle on user_id.
    QueryDef.sql("p14_events_sessions", """
      WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, event_id,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged)
      SELECT user_id,
             count(DISTINCT session_id) AS n_sessions,
             count(*) AS n_events
      FROM sess GROUP BY user_id ORDER BY user_id""")
  )
}
