package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Functions, QueryDef, Tables}

/** Pipeline coverage batch 7 — corpus statistics and curation stages of a
  * training-data pipeline:
  *
  *  - p38 KMV distinct sketch (Bar-Yossef et al. 2002): mergeable bounded-
  *    state cardinality estimation per source — the sketch a 100 TB corpus
  *    profiler ships instead of count(DISTINCT ...) when the distinct
  *    domain itself is too large to shuffle for an exact answer per cut.
  *  - p39 token-budget selection: quality-ranked greedy selection under a
  *    per-source token budget — the "data mixing under a budget" step that
  *    turns scored documents into an actual training set.
  *  - p40 BPE pair counting (Sennrich et al. 2016 §3, first merge step):
  *    corpus→vocabulary collapse, then adjacent-symbol pair frequencies —
  *    the inner loop of tokenizer induction.
  *  - p41 vocabulary pruning / OOV-rate filtering: top-V vocabulary by
  *    corpus frequency, broadcast back, per-document out-of-vocabulary
  *    rate as a keep/drop signal, reported per language.
  *  - p42 Zipf frequency-slope profiling: log-log OLS over the per-source
  *    word frequency table — the boilerplate/template-collapse diagnostic.
  *  - p43 label-centroid coherence: per-label embedding centroids and
  *    cosine coherence of members against their own centroid.
  *  - p44 leakage-safe split: deterministic train/val/test assignment
  *    hashed on the leakage unit (source), never the document.
  *  - p45 vocabulary KL divergence: per-source distribution drift vs the
  *    corpus mix.
  *
  * Float determinism convention (as batch 6): per-row floating values are
  * either exact by construction (hex-fraction via Horner on powers of two,
  * integer-ratio division — identical IEEE ops on identical operands in
  * both engines) or pushed through the 1e-9 decimal grid before summation.
  */
object PipelineQueries7 {

  /** KMV parameters: k smallest hashes retained per group. */
  private val KmvK = 64

  /** Token budget per source for p39. */
  private val Budget = 800L

  /** p40: report the top pairs only. */
  private val TopPairs = 20

  /** p41: vocabulary size and keep threshold. */
  private val VocabV = 16
  private val OovKeep = 0.45

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------- KMV distinct sketch (p38)

    // K-minimum-values cardinality estimate of the distinct 3-token shingle
    // set per source, against the exact count. With the k smallest hash
    // fractions h_(1..k) of a uniformly hashed set of D distinct values,
    // E[h_(k)] = k/(D+1), so est = (k-1)/h_(k) is the standard unbiased
    // KMV estimator. md5 is the shared uniform hash; its hex ordering IS
    // its numeric ordering (fixed-width lowercase hex), so the rank window
    // orders by the string and only the k-th survivor is ever converted to
    // a number.
    //
    // Scale shape: shingling is row-local explode; the DISTINCT is one
    // gram-keyed shuffle with partial aggregation (the same dedup shuffle
    // p01 pays); the per-source rank window sorts the distinct-gram set —
    // spillable, and in production prefiltered by a conservative hash
    // threshold (keep frac < c*k/D_lower) so only O(k) candidates per
    // source reach the sort. The sketch itself is O(k) state per source
    // and MERGEABLE (union the candidate sets, re-take the k smallest) —
    // why profilers ship it across 1000 executors where an exact
    // count(DISTINCT) per cut would re-shuffle the corpus.
    QueryDef("p38_kmv_distinct", Some(s"""
      WITH t AS (
        SELECT source, string_split_regex(lower(text), '\\s+') AS tk FROM documents),
      p AS (
        SELECT source, tk,
               unnest(list_transform(range(1, CAST(len(tk) - 2 AS BIGINT) + 1),
                 x -> CAST(x AS BIGINT))) AS pos
        FROM t WHERE len(tk) >= 3),
      g AS (
        SELECT DISTINCT source, md5(array_to_string(tk[pos:pos+2], ' ')) AS g FROM p),
      d AS (SELECT source, count(*) AS d_exact FROM g GROUP BY source),
      r AS (
        SELECT source, g,
               row_number() OVER (PARTITION BY source ORDER BY g) AS rnk
        FROM g),
      k AS (
        SELECT source, max(${Kit.hexFracSql("g")}) AS kth
        FROM r WHERE rnk <= $KmvK GROUP BY source)
      SELECT d.source AS source,
             d_exact,
             round(${KmvK - 1}.0 / kth, 4) AS est,
             round(100.0 * (${KmvK - 1}.0 / kth - d_exact) / d_exact, 4) AS err_pct
      FROM d JOIN k ON d.source = k.source
      ORDER BY source""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), Kit.words(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
      val grams = t.select(col("source"),
        explode(transform(sequence(lit(1L), (size(col("tk")) - 2).cast("long")),
          i => md5(concat_ws(" ", slice(col("tk"), i.cast("int"), lit(3)))))).as("g"))
      // One pass over the distinct-gram set through the MERGEABLE sketch
      // aggregate (Functions.kmvAgg): O(k) buffer per source on the map
      // side (partial aggregation trims to the k minima before the
      // shuffle), merge associative, NO per-source sort of the distinct
      // set — the shape 1000 executors can run without ever materializing
      // a source's gram set in one place. The aggregator converts only the
      // k-th retained hash's first 13 hex digits (52 bits, exact in a
      // double), producing the same value as the oracle's Horner fraction
      // bit-for-bit (equality with the window form and the streaming twin
      // pinned in SketchSpec/StreamingSpec).
      grams.distinct()
        .groupBy(col("source"))
        .agg(count(lit(1)).as("d_exact"),
          Functions.kmvEst(col("g")).as("est_raw"))
        .select(col("source"),
          col("d_exact"),
          round(col("est_raw"), 4).as("est"),
          round(lit(100.0) * (col("est_raw") - col("d_exact")) /
            col("d_exact"), 4).as("err_pct"))
        .orderBy(col("source"))
    },

    // --------------------------------------- token-budget selection (p39)

    // Quality-ranked greedy selection under a per-source token budget:
    // score every document (type-token ratio — a deterministic stand-in
    // for any upstream quality model), rank per source by (score desc,
    // doc_id), and keep documents while the running token total stays
    // within budget. Reports per source how much survived and the quality
    // cutoff the budget implied — the curation step that turns "scored
    // corpus" into "training mix".
    //
    // Scale shape: scoring is row-local; the only shuffle is the per-source
    // sort feeding one running-sum window (spillable streaming frame, O(1)
    // aggregate state). At 100 TB a single source's documents can exceed
    // one partition's comfort — then the budget is allocated across salted
    // sub-shards pro-rata (same two-level trick as p28's sequence packing);
    // the greedy-within-shard result is identical when shards are split on
    // the same rank order.
    QueryDef("p39_token_budget", Some(s"""
      WITH t AS (
        SELECT source, doc_id, string_split_regex(lower(text), '\\s+') AS tk
        FROM documents),
      s AS (
        SELECT source, doc_id,
               CAST(len(tk) AS BIGINT) AS n_tok,
               CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS score
        FROM t),
      c AS (
        SELECT source, doc_id, n_tok, score,
               sum(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM s)
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(CASE WHEN cum <= $Budget THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
             CAST(sum(CASE WHEN cum <= $Budget THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
             round(min(CASE WHEN cum <= $Budget THEN score END), 6) AS cutoff_score
      FROM c GROUP BY source ORDER BY source""")) { (s, dir) =>
      val t = Tables.df(s, dir, "documents")
        .select(col("source"), col("doc_id"), Kit.words(col("text")).as("tk"))
      val scored = t.select(col("source"), col("doc_id"),
        size(col("tk")).cast("long").as("n_tok"),
        (size(array_distinct(col("tk"))).cast("double") / size(col("tk"))).as("score"))
      val bySrc = Window.partitionBy(col("source"))
        .orderBy(col("score").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      scored.withColumn("cum", sum(col("n_tok")).over(bySrc))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cum") <= Budget, 1L).otherwise(0L)).as("kept_docs"),
          sum(when(col("cum") <= Budget, col("n_tok")).otherwise(0L)).as("kept_tokens"),
          round(min(when(col("cum") <= Budget, col("score"))), 6).as("cutoff_score"))
        .orderBy(col("source"))
    },

    // ------------------------------------------- BPE pair counting (p40)

    // First merge step of byte-pair-encoding tokenizer induction: count
    // adjacent character pairs inside words, weighted by corpus word
    // frequency, and report the top merge candidates. The defining scale
    // property: the CORPUS collapses to its VOCABULARY before any
    // per-character work — pair explosion runs over |vocab| rows (bounded
    // by the token domain, not the corpus), so a 100 TB corpus pays one
    // word-keyed partial-agg shuffle and then finishes on kilobytes.
    QueryDef("p40_bpe_pairs", Some(s"""
      WITH wf AS (
        SELECT w, count(*) AS c
        FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents)
        GROUP BY w),
      p AS (
        SELECT w, c,
               unnest(list_transform(range(1, CAST(length(w) - 1 AS BIGINT) + 1),
                 x -> CAST(x AS BIGINT))) AS i
        FROM wf WHERE length(w) >= 2),
      pr AS (
        SELECT substr(w, CAST(i AS INT), 2) AS pair, sum(c) AS cnt
        FROM p GROUP BY pair),
      r AS (
        SELECT pair, cnt,
               row_number() OVER (ORDER BY cnt DESC, pair) AS rank
        FROM pr)
      SELECT CAST(rank AS BIGINT) AS rank, pair, CAST(cnt AS BIGINT) AS cnt
      FROM r WHERE rank <= $TopPairs ORDER BY rank""")) { (s, dir) =>
      val wf = Tables.dfSpread(s, dir, "documents")
        .select(explode(Kit.words(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val pairs = wf.filter(length(col("w")) >= 2)
        .select(col("w"), col("c"),
          explode(sequence(lit(1L), (length(col("w")) - 1).cast("long"))).as("i"))
        .select(expr("substr(w, CAST(i AS INT), 2)").as("pair"), col("c"))
        .groupBy(col("pair")).agg(sum(col("c")).as("cnt"))
      // Global top-N over the pair domain (bounded by charset^2, not corpus
      // size) — the single-partition window is over a few hundred rows.
      val rank = Window.orderBy(col("cnt").desc, col("pair"))
      pairs.withColumn("rank", row_number().over(rank))
        .filter(col("rank") <= TopPairs)
        .select(col("rank").cast("long").as("rank"), col("pair"),
          col("cnt").cast("long").as("cnt"))
        .orderBy(col("rank"))
    },

    // -------------------------------- vocabulary pruning / OOV rate (p41)

    // Top-V vocabulary by corpus frequency (deterministic tiebreak), then
    // per-document out-of-vocabulary rate as a keep/drop curation signal,
    // reported per language. The vocabulary is corpus-sized-aggregated
    // once and BROADCAST back — at 100 TB the join side that matters never
    // shuffles; per-document rates are one (lang, doc)-keyed partial agg.
    // Rates are exact integer ratios (identical IEEE division in both
    // engines); the per-language mean goes through the 1e-9 decimal grid
    // so it is order-independent.
    QueryDef("p41_vocab_prune", Some(s"""
      WITH t AS (
        SELECT lang, doc_id, string_split_regex(lower(text), '\\s+') AS tk
        FROM documents),
      wf AS (
        SELECT w, count(*) AS c
        FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
      v AS (
        SELECT w FROM (
          SELECT w, row_number() OVER (ORDER BY c DESC, w) AS rn FROM wf)
        WHERE rn <= $VocabV),
      tok AS (SELECT lang, doc_id, unnest(tk) AS w FROM t),
      per AS (
        SELECT lang, doc_id,
               count(*) AS n_tok,
               sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS oov
        FROM tok LEFT JOIN v ON tok.w = v.w
        GROUP BY lang, doc_id)
      SELECT lang,
             count(*) AS docs,
             CAST(sum(CASE WHEN CAST(oov AS DOUBLE) / n_tok <= $OovKeep
                      THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
             round(CAST(sum(CAST(round(CAST(oov AS DOUBLE) / n_tok, 9)
                               AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS avg_oov
      FROM per GROUP BY lang ORDER BY lang""")) { (s, dir) =>
      val t = Tables.df(s, dir, "documents")
        .select(col("lang"), col("doc_id"), Kit.words(col("text")).as("tk"))
      val wf = t.select(explode(col("tk")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val rank = Window.orderBy(col("c").desc, col("w"))
      val vocab = wf.withColumn("rn", row_number().over(rank))
        .filter(col("rn") <= VocabV)
        .select(col("w"), lit(1).as("inv"))
      val per = t.select(col("lang"), col("doc_id"), explode(col("tk")).as("w"))
        .join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("lang"), col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("inv").isNull, 1L).otherwise(0L)).as("oov"))
      val rate = col("oov").cast("double") / col("n_tok")
      per.groupBy(col("lang"))
        .agg(count(lit(1)).as("docs"),
          sum(when(rate <= OovKeep, 1L).otherwise(0L)).as("kept_docs"),
          round(Kit.rsum(rate, 9) /
            count(lit(1)), 6).as("avg_oov"))
        .orderBy(col("lang"))
    },

    // --------------------------------- Zipf frequency-slope profiling (p42)

    // Heavy-tail profiling: fit log(freq) ~ slope * log(rank) + intercept
    // per source over the word frequency table (ordinary least squares on
    // the log-log curve — natural text sits near slope -1; a source whose
    // slope collapses toward 0 is template/boilerplate-heavy, a classic
    // corpus-quality diagnostic). All sums run on the 1e-9 decimal grid, so
    // the regression is order-independent and engine-exact; ln() outputs
    // are gridded before any arithmetic so a last-ulp libm divergence
    // between engines cannot surface.
    //
    // Scale shape: the corpus collapses to (source, word) counts in one
    // partial-agg shuffle; ranking and regression run over vocabulary-sized
    // sets (the per-source window sorts |vocab_s| rows, not documents).
    QueryDef("p42_zipf_slope", Some("""
      WITH wc AS (
        SELECT source, w, count(*) AS c
        FROM (SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS w
              FROM documents)
        GROUP BY source, w),
      r AS (
        SELECT source, c, w,
               row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rnk
        FROM wc),
      g AS (
        SELECT source,
               round(ln(CAST(rnk AS DOUBLE)), 9) AS x,
               round(ln(CAST(c AS DOUBLE)), 9) AS y
        FROM r),
      s AS (
        SELECT source,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sx,
               CAST(sum(CAST(round(y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sy,
               CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx
        FROM g GROUP BY source)
      SELECT source,
             CAST(n AS BIGINT) AS n_vocab,
             round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
             round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               AS intercept
      FROM s ORDER BY source""")) { (s, dir) =>
      val wc = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), explode(Kit.words(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      val bySrc = Window.partitionBy(col("source")).orderBy(col("c").desc, col("w"))
      val g = wc.withColumn("rnk", row_number().over(bySrc))
        .select(col("source"),
          round(log(col("rnk").cast("double")), 9).as("x"),
          round(log(col("c").cast("double")), 9).as("y"))
      def gridSum(c: Column) = Kit.rsum(c, 9)
      val agg = g.groupBy(col("source")).agg(
        count(lit(1)).cast("double").as("n"),
        gridSum(col("x")).as("sx"),
        gridSum(col("y")).as("sy"),
        gridSum(col("x") * col("y")).as("sxy"),
        gridSum(col("x") * col("x")).as("sxx"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      agg.select(col("source"),
        col("n").cast("long").as("n_vocab"),
        round(slope, 6).as("slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
        .orderBy(col("source"))
    },

    // ------------------------------ label-centroid coherence (p43)

    // Per-label embedding centroids + cosine coherence — the E-step view a
    // curation pipeline uses to audit class structure (a label whose
    // members barely correlate with their own centroid is noisy or merged).
    // Centroid components are decimal-grid means (order-independent, both
    // engines exact); each vector's cosine against its centroid runs
    // through the same fused native kernel as p05 (index-order
    // accumulation, matching DuckDB's list_cosine_similarity bit-for-bit).
    //
    // Scale shape: posexplode is row-local; the (label, dim) partial agg
    // has output bounded by |labels| * dims regardless of corpus size; the
    // centroid table (|labels| rows) is BROADCAST back, so per-vector
    // cosine is map-only; the final per-label agg is tiny. One corpus-sized
    // keyed shuffle total.
    QueryDef("p43_label_centroids", Some("""
      WITH u AS (
        SELECT label, vec_id,
               unnest(list_transform(range(1, CAST(len(embedding) AS BIGINT) + 1),
                 x -> CAST(x AS BIGINT))) AS dim,
               embedding
        FROM embeddings),
      uv AS (SELECT label, vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS val FROM u),
      cent AS (
        SELECT label, dim,
               CAST(sum(CAST(round(val, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS m
        FROM uv GROUP BY label, dim),
      cvec AS (SELECT label, list(m ORDER BY dim) AS cv FROM cent GROUP BY label),
      c AS (
        SELECT e.label, e.vec_id,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), cv) AS cos
        FROM embeddings e JOIN cvec ON e.label = cvec.label)
      SELECT label,
             count(*) AS n_vecs,
             round(CAST(sum(CAST(round(cos, 9) AS DECIMAL(38,9))) AS DOUBLE)
                   / count(*), 6) AS avg_cos,
             round(min(cos), 6) AS min_cos
      FROM c GROUP BY label ORDER BY label""")) { (s, dir) =>
      val e = Tables.df(s, dir, "embeddings")
      val cvec = Kit.centroids(e, Seq("label"), col("embedding"))
      val cosCol = Functions.cosineSimilarity(col("embedding"), col("cv"))
      e.join(broadcast(cvec), Seq("label"))
        .withColumn("cos", cosCol)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(Kit.rsum(col("cos"), 9) /
            count(lit(1)), 6).as("avg_cos"),
          round(min(col("cos")), 6).as("min_cos"))
        .orderBy(col("label"))
    },

    // ------------------------------ leakage-safe train/val/test split (p44)

    // Deterministic 80/10/10 split keyed on the LEAKAGE UNIT (source), not
    // the document: every document of a source lands in the same split, so
    // near-duplicates inside a source can never straddle train/test — the
    // property document-level random splits silently violate. Assignment is
    // the md5 hex-fraction of the source name (same Horner grid as p38 —
    // reproducible across engines, runs, and cluster sizes with no stored
    // split table).
    //
    // Scale shape: assignment is a row-local expression; the only shuffle
    // is the final split-keyed partial agg. Rebalancing a skewed split
    // means changing the salt, never re-shuffling data.
    QueryDef("p44_leakage_safe_split", Some(s"""
      WITH t AS (
        SELECT source, doc_id,
               len(string_split_regex(lower(text), '\\s+')) AS n_tok,
               ${Kit.hexFracSql("md5(source)")} AS f
        FROM documents),
      a AS (
        SELECT source, doc_id, n_tok,
               CASE WHEN f < 0.8 THEN 'train'
                    WHEN f < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM t)
      SELECT split,
             count(DISTINCT source) AS n_sources,
             count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
      FROM a GROUP BY split ORDER BY split""")) { (s, dir) =>
      val t = Tables.df(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(Kit.words(col("text"))).cast("long").as("n_tok"),
          Kit.hexFrac(md5(col("source"))).as("f"))
      t.withColumn("split",
          when(col("f") < 0.8, "train").when(col("f") < 0.9, "val").otherwise("test"))
        .groupBy(col("split"))
        .agg(countDistinct(col("source")).as("n_sources"),
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"))
        .orderBy(col("split"))
    },

    // ----------------------- per-source vocabulary KL divergence (p45)

    // Distribution-drift monitoring: KL(P_source || Q_corpus) over the word
    // distribution — the per-cut drift statistic a corpus dashboard tracks
    // (a source whose KL jumps is shifting vocabulary vs the mix). No
    // smoothing needed: a source's vocabulary is a subset of the corpus
    // vocabulary, so Q(w) > 0 wherever P(w) > 0. Probabilities are exact
    // integer ratios; the ln of each ratio is gridded before the product
    // and the products re-gridded before decimal summation, so the
    // divergence is order-independent and engine-exact.
    //
    // Scale shape: one (source, word) partial-agg shuffle off the corpus;
    // everything downstream is vocabulary-sized (per-source totals
    // broadcast, corpus word counts broadcast, 1-row grand total).
    QueryDef("p45_vocab_kl", Some("""
      WITH wc AS (
        SELECT source, w, count(*) AS c
        FROM (SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS w
              FROM documents)
        GROUP BY source, w),
      ts AS (SELECT source, CAST(sum(c) AS DOUBLE) AS t_s FROM wc GROUP BY source),
      qw AS (SELECT w, CAST(sum(c) AS DOUBLE) AS cw FROM wc GROUP BY w),
      tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM wc),
      term AS (
        SELECT wc.source,
               round((wc.c / t_s) * round(ln((wc.c / t_s) / (cw / t)), 9), 9) AS kterm
        FROM wc
        JOIN ts ON wc.source = ts.source
        JOIN qw ON wc.w = qw.w
        CROSS JOIN tot)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_vocab,
             round(CAST(sum(CAST(kterm AS DECIMAL(38,9))) AS DOUBLE), 6) AS kl
      FROM term GROUP BY source ORDER BY source""")) { (s, dir) =>
      val wc = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), explode(Kit.words(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      val ts = wc.groupBy(col("source")).agg(sum(col("c")).cast("double").as("t_s"))
      val qw = wc.groupBy(col("w")).agg(sum(col("c")).cast("double").as("cw"))
      // Grand total from the |sources|-row frame, not a third wc consumer:
      // per-source totals are exact integers in doubles (< 2^53), so their
      // sum equals the oracle's sum(c) bit-for-bit. The remaining wc
      // consumers share one corpus pass at runtime via exchange reuse
      // (executed plan carries ReusedExchange; PLANS.md counts pre-AQE).
      val tot = ts.agg(sum(col("t_s")).as("t"))
      val p = col("c") / col("t_s")
      val q = col("cw") / col("t")
      wc.join(broadcast(ts), Seq("source"))
        .join(broadcast(qw), Seq("w"))
        .crossJoin(broadcast(tot))
        .select(col("source"), round(p * round(log(p / q), 9), 9).as("kterm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_vocab"),
          round(Kit.dsum(col("kterm"), 9), 6).as("kl"))
        .orderBy(col("source"))
    }
  )
}
