package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{Functions, QueryDef, Tables}

/** Pipeline coverage batch 27 — corpus-surgery dedup and quality tiers the
  * big web-corpus pipelines (C4, Gopher, CCNet) run between crawl and
  * training:
  *
  *  - p104 keep-first span removal: C4-style exact dedup that REMOVES all
  *    but the globally-first occurrence of every repeated token block
  *    (p24 measures the duplicated fraction; this op computes the actual
  *    retention decision per block).
  *
  *  - p105 containment dedup: asymmetric near-dup detection — a short
  *    document quoted wholesale inside a longer one has high containment
  *    |A∩B|/min(|A|,|B|) but LOW Jaccard, so symmetric thresholds (p02,
  *    p04, p17) never pair them. Same document-frequency cap as p17 keeps
  *    the candidate join skew-safe.
  *
  *  - p106 repeated-n-gram character mass (Gopher repetition rules,
  *    Rae et al. 2021 §A1.1): per document, the fraction of characters
  *    inside the most frequent 2-gram / 3-gram and inside any duplicated
  *    5-gram. Complements p22's token-level signals (type-token ratio,
  *    top-token mass) with the n-gram char-mass family.
  *
  *  - p107 perplexity buckets (CCNet, Wenzek et al. 2020): documents
  *    scored under the corpus unigram LM (p25's exact scoring) and cut
  *    into head/middle/tail terciles PER LANGUAGE — the mixing knob used
  *    to oversample fluent text without discarding the tail outright.
  */
object PipelineQueries27 {

  /** p104: non-overlapping block width (tokens). */
  private val BlockW = 10

  /** p105: containment threshold for emitted pairs; the Jaccard level a
    * symmetric dedup pass would have used (pairs under it are the ones
    * only containment catches). */
  private val ContThresh = 0.6
  private val JacLevel = 0.5

  val defs: Seq[QueryDef] = Seq(

    // -------------------- keep-first span removal (p104)

    // C4-style exact span dedup with removal semantics: the corpus is cut
    // into non-overlapping 10-token blocks (trailing partial blocks are
    // not dedup units); a block survives iff its document is the
    // lowest-doc_id holder of that block hash, and then only once per
    // distinct hash within that document. Per-document output is the
    // retention decision a rewrite pass would apply.
    //
    // Scale shape: block hashing is map-only (one md5 per 10 tokens, ~10×
    // cheaper than p24's stride-5 windows); the keeper election is ONE
    // partial-aggregated groupBy on the hash (min(doc_id) collapses
    // map-side, so a boilerplate block repeated a million times arrives
    // at the reducer as one row per task); the flag join back is an
    // equi-join on the hash with AQE skew splitting. No windows, no
    // all-pairs, no driver state.
    QueryDef("p104_span_keep_first", Some("""
      WITH tt AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                  FROM documents),
      sp AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(t) - 9, 0) + 1, 10),
                      i -> md5(array_to_string(t[i:i+9], ' ')))) AS h
        FROM tt WHERE len(t) >= 10),
      kd AS (SELECT h, min(doc_id) AS keeper FROM sp GROUP BY h)
      SELECT sp.doc_id,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(count(DISTINCT CASE WHEN sp.doc_id = kd.keeper THEN sp.h END)
                  AS BIGINT) AS kept_blocks,
             round(CAST(count(DISTINCT CASE WHEN sp.doc_id = kd.keeper THEN sp.h END)
                        AS DOUBLE) / count(*), 6) AS retained_fraction
      FROM sp JOIN kd ON sp.h = kd.h
      GROUP BY sp.doc_id ORDER BY sp.doc_id""")) { (s, dir) =>
      val tt = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("t"))
        .filter(size(col("t")) >= BlockW)
      val sp = tt.select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("t")) - (BlockW - 1), lit(BlockW)),
          i => md5(concat_ws(" ", slice(col("t"), i, lit(BlockW)))))).as("h"))
      val kd = sp.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
      val kept = countDistinct(when(col("doc_id") === col("keeper"), col("h")))
      sp.join(kd, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_blocks"),
          kept.as("kept_blocks"),
          round(kept.cast("double") / count(lit(1)), 6).as("retained_fraction"))
        .orderBy(col("doc_id"))
    },

    // ------------------------ containment dedup (p105)

    // Asymmetric containment over distinct trigram shingles:
    // |A∩B| / min(|A|,|B|). Blocking reuses p17's document-frequency cap
    // (shingles in >2% of the corpus never block — stop-phrase blowup is
    // what turns shingle joins quadratic at 100 TB); numerator and sizes
    // count capped shingles only, identically on both engines. The
    // `jaccard_missed` flag marks pairs a Jaccard-0.5 pass would NOT have
    // caught — the quote/subset dups that motivate the asymmetric score.
    QueryDef("p105_containment_dedup", Some("""
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS shingle FROM (
          SELECT doc_id, list_transform(
                   range(1, greatest(len(t) - 2, 0) + 1),
                   i -> array_to_string(t[i:i+2], ' ')) AS sh
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                FROM documents) x) y),
      df AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle),
      rare AS (
        SELECT sh.doc_id, sh.shingle FROM sh JOIN df ON sh.shingle = df.shingle
        WHERE df.n_docs <= greatest(2, CAST(floor((SELECT count(*) FROM documents) * 0.02) AS BIGINT))),
      sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT doc_a, doc_b,
             round(CAST(i AS DOUBLE) / least(sa.n, sb.n), 6) AS containment,
             round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard,
             CAST(CASE WHEN CAST(i AS DOUBLE) / (sa.n + sb.n - i) < 0.5
                  THEN 1 ELSE 0 END AS BIGINT) AS jaccard_missed
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(i AS DOUBLE) / least(sa.n, sb.n) >= 0.6
      ORDER BY doc_a, doc_b""")) { (s, dir) =>
      // CONTAINMENT dedup, bounded by contract (r17): pair generation is
      // the rare-capped full-blocking self-join — the p17 shape whose 100x
      // DNF was measured in r15. Containment's asymmetric threshold has no
      // committed lossless prefix twin here; past the bound, block by the
      // SMALLER side's prefix (overlap >= t*min) or audit on a bounded
      // sample — both recorded in BENCH_NOTES r17.
      val docs = TruthTier.guard(s, dir, "documents",
        "p105_containment_dedup", "p191_jaccard_prefix_filter",
        "the prefix-filter pattern applied on the smaller side's prefix " +
          "(overlap >= t*min bound), or a bounded audit sample")
      val cont = col("i").cast("double") / least(col("na"), col("nb"))
      val jac = Kit.jaccard(col("i"), col("na"), col("nb"))
      Kit.jaccardPairs(Kit.rareShingles(Kit.shingleRows(docs), docs))
        .filter(cont >= ContThresh)
        .select(col("doc_a"), col("doc_b"),
          round(cont, 6).as("containment"), round(jac, 6).as("jaccard"),
          when(jac < JacLevel, 1L).otherwise(0L).as("jaccard_missed"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // ------------- repeated-n-gram character mass (p106)

    // Gopher repetition rules, n-gram char-mass family: per document, the
    // fraction of token characters covered by (a) the single most
    // frequent 2-gram, (b) the single most frequent 3-gram (lexicographic
    // tiebreak), and (c) all occurrences of 5-grams that appear at least
    // twice. Character mass of an n-gram = occurrences × length of the
    // space-joined n-gram (the standard overlapping-window approximation;
    // the thresholds the paper applies — 0.20/0.18/0.10 — are calibrated
    // against exactly this overcount).
    //
    // Scale shape: MAP-ONLY. Every signal is a within-document statistic,
    // so nothing ever leaves its row: each n-gram stream is sorted
    // per-document (O(L log L) row-local) and counted as runs of equal
    // neighbours in one `aggregate` fold — no explode, no shuffle, no
    // window. At 100 TB this is a pure projection over the scan; the
    // explode+groupBy spelling (the oracle's) would shuffle ~3× the
    // corpus token count. Tiebreak parity with the oracle's
    // `ORDER BY c DESC, g`: the fold scans sorted order and only replaces
    // the champion on a STRICTLY longer run, so the lexicographically
    // smallest max-count gram wins on both engines.
    QueryDef("p106_gopher_repetition", Some("""
      WITH tt AS (
        SELECT doc_id, t,
               CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum')
                    AS BIGINT) AS total_chars
        FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
              FROM documents) x
        WHERE len(t) >= 5),
      ng AS (
        SELECT doc_id, total_chars, 2 AS n,
               unnest(list_transform(range(1, len(t) - 1 + 1),
                      i -> array_to_string(t[i:i+1], ' '))) AS g FROM tt
        UNION ALL
        SELECT doc_id, total_chars, 3 AS n,
               unnest(list_transform(range(1, len(t) - 2 + 1),
                      i -> array_to_string(t[i:i+2], ' '))) AS g FROM tt
        UNION ALL
        SELECT doc_id, total_chars, 5 AS n,
               unnest(list_transform(range(1, len(t) - 4 + 1),
                      i -> array_to_string(t[i:i+4], ' '))) AS g FROM tt),
      cnt AS (
        SELECT doc_id, n, g, min(total_chars) AS total_chars, count(*) AS c
        FROM ng GROUP BY doc_id, n, g),
      tops AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                     ORDER BY c DESC, g) AS rn FROM cnt),
      d5 AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END)
                    AS BIGINT) AS mass
        FROM cnt WHERE n = 5 GROUP BY doc_id)
      SELECT c2.doc_id, c2.total_chars,
             round(CAST(c2.c * length(c2.g) AS DOUBLE) / c2.total_chars, 6) AS top2_frac,
             round(CAST(c3.c * length(c3.g) AS DOUBLE) / c2.total_chars, 6) AS top3_frac,
             round(CAST(d5.mass AS DOUBLE) / c2.total_chars, 6) AS dup5_frac
      FROM (SELECT * FROM tops WHERE n = 2 AND rn = 1) c2
      JOIN (SELECT * FROM tops WHERE n = 3 AND rn = 1) c3 ON c3.doc_id = c2.doc_id
      JOIN d5 ON d5.doc_id = c2.doc_id
      ORDER BY c2.doc_id""")) { (s, dir) =>
      // Run-count fold over a per-document SORTED n-gram array. State:
      // (prev gram, current run, best run, best gram, duplicated char
      // mass); a run finalizes when the next gram differs — the champion
      // updates only on a strictly longer run (lex-smallest ties with the
      // oracle's ORDER BY c DESC, g), and runs ≥2 add run×len(gram) to
      // the dup mass. finish() closes the trailing run.
      def runStats(n: Int): Column = {
        val zero = struct(lit("").as("prev"), lit(0L).as("run"),
          lit(0L).as("bestRun"), lit("").as("bestG"), lit(0L).as("dupMass"))
        def close(st: Column): Column = struct(
          st.getField("prev").as("prev"), st.getField("run").as("run"),
          when(st.getField("run") > st.getField("bestRun"), st.getField("run"))
            .otherwise(st.getField("bestRun")).as("bestRun"),
          when(st.getField("run") > st.getField("bestRun"), st.getField("prev"))
            .otherwise(st.getField("bestG")).as("bestG"),
          (st.getField("dupMass") + when(st.getField("run") >= 2,
            st.getField("run") * length(st.getField("prev")).cast("long"))
            .otherwise(0L)).as("dupMass"))
        aggregate(
          array_sort(Functions.wordShingles(col("t"), n)),
          zero,
          (st, g) => when(g === st.getField("prev"), struct(
            st.getField("prev").as("prev"),
            (st.getField("run") + 1L).as("run"),
            st.getField("bestRun").as("bestRun"),
            st.getField("bestG").as("bestG"),
            st.getField("dupMass").as("dupMass")))
            .otherwise {
              val c = close(st)
              struct(g.as("prev"), lit(1L).as("run"),
                c.getField("bestRun").as("bestRun"),
                c.getField("bestG").as("bestG"),
                c.getField("dupMass").as("dupMass"))
            },
          st => close(st))
      }
      def frac(num: Column): Column =
        round(num.cast("double") / col("total_chars"), 6)
      Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("t"))
        .filter(size(col("t")) >= 5)
        .withColumn("total_chars",
          aggregate(transform(col("t"), x => length(x).cast("long")),
            lit(0L), (a, x) => a + x))
        .withColumn("s2", runStats(2))
        .withColumn("s3", runStats(3))
        .withColumn("s5", runStats(5))
        .select(col("doc_id"), col("total_chars"),
          frac(col("s2.bestRun") * length(col("s2.bestG"))).as("top2_frac"),
          frac(col("s3.bestRun") * length(col("s3.bestG"))).as("top3_frac"),
          frac(col("s5.dupMass")).as("dup5_frac"))
        .orderBy(col("doc_id"))
    },

    // ---------------------- perplexity terciles (p107)

    // CCNet-style quality tiers: every document's mean token
    // log-probability under the corpus unigram LM (p25's exact scoring —
    // top-1000 vocabulary, 0.5-count OOV floor), then head/middle/tail
    // terciles PER LANGUAGE so low-resource languages are tiered against
    // themselves, not against the dominant language's fluency
    // distribution.
    //
    // Scale shape: scoring is p25's broadcast shape (vocabulary via
    // TakeOrdered + broadcast, corpus never shuffled by token); the
    // cutoffs are |langs|×2 exact percentiles over the ROUNDED scores via
    // the bounded-state ExactPercentile aggregator, broadcast back so
    // bucketing is map-only. Scores are rounded to the 6dp grid BEFORE
    // the quantile, so both engines interpolate bitwise-identical inputs
    // and a document can never land between the two engines' cutoffs.
    QueryDef("p107_ppl_buckets", Some("""
      WITH toks AS (
        SELECT doc_id, lang, unnest(string_split_regex(lower(text), '\s+')) AS tok
        FROM documents),
      tf AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      tot AS (SELECT sum(c) AS n FROM tf),
      top AS (SELECT tok, c FROM (
        SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rn FROM tf) t
        WHERE rn <= 1000),
      scored AS (
        SELECT t.doc_id, min(t.lang) AS lang,
               round(avg(ln(coalesce(top.c, 0.5) / tot.n)), 6) AS avg_logp
        FROM toks t LEFT JOIN top ON t.tok = top.tok CROSS JOIN tot
        GROUP BY t.doc_id),
      cuts AS (
        SELECT lang, quantile_cont(avg_logp, 1.0/3) AS t1,
               quantile_cont(avg_logp, 2.0/3) AS t2
        FROM scored GROUP BY lang)
      SELECT s.doc_id, s.lang, s.avg_logp,
             CASE WHEN s.avg_logp <= c.t1 THEN 'tail'
                  WHEN s.avg_logp <= c.t2 THEN 'middle'
                  ELSE 'head' END AS bucket
      FROM scored s JOIN cuts c ON s.lang = c.lang
      ORDER BY s.doc_id""")) { (s, dir) =>
      val toksDf = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(Kit.words(col("text"))).as("tok"))
      val tf = toksDf.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val tot = tf.agg(sum(col("c")).as("n"))
      val top = tf.orderBy(col("c").desc, col("tok")).limit(1000)
      val scored = toksDf.join(broadcast(top), Seq("tok"), "left")
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(min(col("lang")).as("lang"),
          round(avg(log(coalesce(col("c"), lit(0.5)) / col("n"))), 6).as("avg_logp"))
      val cuts = ExactPercentile.percentiles(scored, "lang", col("avg_logp"),
        Seq(1.0 / 3 -> "t1", 2.0 / 3 -> "t2"))
      scored.join(broadcast(cuts), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("avg_logp"),
          when(col("avg_logp") <= col("t1"), "tail")
            .when(col("avg_logp") <= col("t2"), "middle")
            .otherwise("head").as("bucket"))
        .orderBy(col("doc_id"))
    }
  )
}
