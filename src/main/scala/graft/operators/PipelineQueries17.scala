package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 17 — multilingual mixing, dedup policy tuning,
  * temporal scoring, and corpus diversity measurement:
  *
  *  - p79 language temperature sampling: the multilingual-pretraining
  *    sampling distribution p(l) ∝ share(l)^α at two temperatures, with
  *    the implied upsampling factor per language (the knob that keeps
  *    low-resource languages represented without flooding the mix).
  *  - p80 dedup threshold sweep: the retention curve a dedup rollout is
  *    tuned on — candidate pairs and affected documents at each Jaccard
  *    threshold, from ONE pair-similarity computation.
  *  - p81 time-decayed engagement: per-user half-life-decayed value
  *    scores (the freshness-weighted activity signal ranking/curation
  *    pipelines feed on).
  *  - p82 distinct-n diversity: per-source distinct-1/distinct-2 ratios —
  *    the standard self-repetition diagnostic for generated-or-boilerplate
  *    text detection at corpus scale.
  *  - p83 vocabulary growth (Heaps curve): cumulative distinct shingles
  *    by corpus decile — how fast the corpus keeps contributing new
  *    n-grams, the saturation signal for "is more of this source worth
  *    ingesting".
  */
object PipelineQueries17 {

  /** p79 temperatures expressed as sqrt depth: α = 0.5^depth, i.e. 0.25 and
    * 0.5 (α=1 would be proportional sampling; lower α flattens toward
    * uniform). IEEE-754 sqrt is correctly rounded, so a sqrt chain is
    * bit-identical across engines — unlike pow with a fractional exponent,
    * which hits libm and can differ by ulps between glibc (DuckDB) and the
    * JVM (the repo-wide rule: no fractional pow in gate outputs). */
  private val SqrtDepths = Seq(2, 1)

  /** p80 Jaccard thresholds swept (shared pair set computed once). */
  private val Thresholds = Seq(0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)

  /** p81 half-life in whole weeks: the decay exponent is an INTEGER number
    * of half-lives, so pow(0.5, k) is an exact power of two and the score
    * is bit-identical across engines (no libm variance to round away). */
  private val HalfLifeDays = 7

  val defs: Seq[QueryDef] = Seq(

    // ---------------- multilingual temperature sampling (p79)

    // Scale shape: the corpus collapses to one row per language in a
    // single map-side-combined groupBy; everything after operates on that
    // ≤|langs|-row frame (window normalization over a handful of rows).
    // No driver collect, no second corpus scan.
    QueryDef("p79_lang_temperature", Some {
      val alphaCols = SqrtDepths.zipWithIndex.map { case (d, i) =>
        val e = (1 to d).foldLeft("share")((x, _) => s"sqrt($x)")
        s"""round($e / sum($e) OVER (), 6) AS p_a$i,
           round($e / sum($e) OVER () / share, 6) AS boost_a$i"""
      }.mkString(",\n")
      s"""
      WITH lt AS (
        SELECT lang, sum(len(string_split_regex(text, '\\s+'))) AS n_tokens
        FROM documents GROUP BY lang),
      sh AS (
        SELECT lang, n_tokens,
               CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS share
        FROM lt)
      SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
             round(share, 6) AS share,
             $alphaCols
      FROM sh ORDER BY lang"""
    }) { (s, dir) =>
      val lt = Tables.dfSpread(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(sum(size(Kit.words(col("text")))).as("n_tokens"))
      val all = Window.partitionBy()
      val share = col("n_tokens").cast("double") / sum(col("n_tokens")).over(all)
      val alphaCols = SqrtDepths.zipWithIndex.flatMap { case (d, i) =>
        val e = (1 to d).foldLeft(col("share"))((x, _) => sqrt(x))
        val pa = e / sum(e).over(all)
        Seq(round(pa, 6).as(s"p_a$i"), round(pa / col("share"), 6).as(s"boost_a$i"))
      }
      lt.withColumn("share", share)
        .select(Seq(col("lang"), col("n_tokens"), round(col("share"), 6).as("share"))
          ++ alphaCols: _*)
        .orderBy(col("lang"))
    },

    // ------------------- dedup threshold sweep (p80)

    // The p17 capped-Jaccard pair set computed ONCE, then fanned out to
    // every threshold by exploding a 7-element literal array — the sweep
    // costs one extra ≤|pairs|×7 map stage, never 7 similarity passes.
    // n_docs_hit counts documents on either side of at least one
    // over-threshold pair (distinct via the union-explode below).
    QueryDef("p80_dedup_threshold_sweep", Some(s"""
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS shingle FROM (
          SELECT doc_id, list_transform(
                   range(1, greatest(len(t) - 2, 0) + 1),
                   i -> array_to_string(t[i:i+2], ' ')) AS sh
          FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
                FROM documents) x) y),
      df AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle),
      rare AS (
        SELECT sh.doc_id, sh.shingle FROM sh JOIN df ON sh.shingle = df.shingle
        WHERE df.n_docs <= greatest(2, CAST(floor((SELECT count(*) FROM documents) * 0.02) AS BIGINT))),
      sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
      pairs AS (
        SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
        FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
          FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id) inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b),
      th AS (SELECT unnest([${Thresholds.mkString(", ")}]) AS threshold)
      SELECT th.threshold,
             CAST(count(p.doc_a) // 2 AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT CASE WHEN p.doc_a IS NOT NULL THEN d.d END) AS BIGINT) AS n_docs_hit
      FROM th
      LEFT JOIN pairs p ON p.j >= th.threshold
      LEFT JOIN LATERAL (SELECT unnest([p.doc_a, p.doc_b]) AS d) d ON TRUE
      GROUP BY th.threshold ORDER BY th.threshold""")) { (s, dir) =>
      // SWEEP op, bounded by contract (r17): the threshold sweep's pair
      // base is the rare-capped full-blocking self-join — byte-the-same
      // shape as p17, whose 100x DNF was measured in r15 (the 2% df cap is
      // 10k docs/shingle at 500k docs). Past the bound the prefix-filtered
      // twin computes the same >=0.5 pair set; sweeping lower thresholds
      // at scale is a bounded-sample exercise by design.
      val docs = TruthTier.guard(s, dir, "documents",
        "p80_dedup_threshold_sweep", "p191_jaccard_prefix_filter",
        "the same rare-capped pair semantics at the 0.5 threshold via " +
          "lossless prefix filtering; sweep lower thresholds on a bounded sample")
      // r19 OPTIMIZATION (guide §2.5): pin the sh-by-shingle exchange to
      // session parallelism — AQE coalesced the rare join-back + self-join
      // fan-out stage onto 1-2 of 32 cores. Bounded by the guard above.
      val sh = Kit.pin(Kit.shingleRows(docs), "shingle")
      val pairs = Kit.jaccardPairs(Kit.rareShingles(sh, docs))
        .select(col("doc_a"), col("doc_b"),
          Kit.jaccard(col("i"), col("na"), col("nb")).as("j"))
      // pair → per-threshold doc emission: each pair contributes its two
      // doc ids to every threshold it clears; count(DISTINCT) closes it
      val perTh = pairs.select(
        explode(filter(lit(Thresholds.toArray),
          t => col("j") >= t)).as("threshold"),
        array(col("doc_a"), col("doc_b")).as("ds"))
      val hit = perTh.select(col("threshold"), explode(col("ds")).as("d"))
        .groupBy(col("threshold"))
        .agg((count(lit(1)) / 2).cast("bigint").as("n_pairs"),
          count_distinct(col("d")).as("n_docs_hit"))
      // left-join against the full threshold list so empty tiers report 0
      val th = { import s.implicits._; Thresholds.toDF("threshold") }
      th.join(hit, Seq("threshold"), "left")
        .select(col("threshold"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs_hit"), lit(0L)).as("n_docs_hit"))
        .orderBy(col("threshold"))
    },

    // ------------------ time-decayed engagement (p81)

    // Scale shape: the 1-row corpus-max frame broadcasts back; the decay
    // weight pow(0.5, whole_weeks) is an exact power of two (integer
    // exponent — no libm variance between engines), each event's decayed
    // contribution is rounded to a DECIMAL(38,6) BEFORE the sum, so the
    // per-user total is order-independent; one user-keyed reduce total.
    QueryDef("p81_decay_engagement", Some(s"""
      WITH mx AS (SELECT max(CAST(ts AS DATE)) AS corpus_d FROM events),
      w AS (
        SELECT user_id,
               CAST(round(value * pow(0.5,
                 date_diff('day', CAST(ts AS DATE), corpus_d) // $HalfLifeDays),
                 6) AS DECIMAL(38,6)) AS dv
        FROM events, mx)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(dv) AS DOUBLE) AS decayed_value
      FROM w GROUP BY user_id ORDER BY user_id""")) { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
      val mx = ev.agg(max(col("ts").cast("date")).as("corpus_d"))
      val weeks = floor(datediff(col("corpus_d"), col("ts").cast("date"))
        / HalfLifeDays)
      ev.crossJoin(broadcast(mx))
        .select(col("user_id"),
          Kit.rdec(col("value") * pow(lit(0.5), weeks), 6).as("dv"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("dv")).cast("double").as("decayed_value"))
        .orderBy(col("user_id"))
    },

    // -------------------- distinct-n diversity (p82)

    // Distinct-1 / distinct-2 per source: unigram and bigram frames are
    // tagged and unioned so ONE (source, n, gram)-keyed reduce covers
    // both orders (count + count DISTINCT per group — the distinct is
    // gram-keyed and partially aggregated, never a row-set collect).
    QueryDef("p82_distinct_ngrams", Some("""
      WITH t AS (
        SELECT source, doc_id, string_split_regex(lower(text), '\s+') AS w
        FROM documents),
      uni AS (SELECT source, 1 AS n, unnest(w) AS gram FROM t),
      bi AS (
        SELECT source, 2 AS n, unnest(list_transform(
                 range(1, greatest(len(w) - 1, 0) + 1),
                 i -> array_to_string(w[i:i+1], ' '))) AS gram
        FROM t),
      g AS (SELECT * FROM uni UNION ALL SELECT * FROM bi)
      SELECT source, n,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct,
             round(CAST(count(DISTINCT gram) AS DOUBLE) / count(*), 6) AS distinct_ratio
      FROM g GROUP BY source, n ORDER BY source, n""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), Kit.words(col("text")).as("w"))
      val uni = t.select(col("source"), lit(1).as("n"), explode(col("w")).as("gram"))
      val bi = t.select(col("source"), lit(2).as("n"),
        explode(graft.Functions.wordShingles(col("w"), 2)).as("gram"))
      uni.unionAll(bi)
        .groupBy(col("source"), col("n"))
        .agg(count(lit(1)).as("n_grams"),
          count_distinct(col("gram")).as("n_distinct"),
          round(count_distinct(col("gram")).cast("double") / count(lit(1)), 6)
            .as("distinct_ratio"))
        .orderBy(col("source"), col("n"))
    },

    // ------------------ vocabulary growth curve (p83)

    // Heaps-law saturation: docs are split into 10 equal id-ordered
    // deciles; each shingle is attributed to the FIRST decile containing
    // it (a shingle-keyed min — partial aggregation collapses hot
    // shingles map-side), decile counts cumulate through a 10-row window.
    // The expensive step is the one shingle reduce; the curve itself is
    // 10 rows.
    QueryDef("p83_vocab_growth", Some("""
      WITH nd AS (SELECT max(doc_id) + 1 AS n FROM documents),
      sh AS (
        SELECT CAST(doc_id * 10 // n AS INTEGER) AS decile,
               unnest(list_distinct(list_transform(
                 range(1, greatest(len(t) - 2, 0) + 1),
                 i -> array_to_string(t[i:i+2], ' ')))) AS shingle
        FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
              FROM documents) x, nd),
      fst AS (SELECT shingle, min(decile) AS decile FROM sh GROUP BY shingle),
      cnt AS (SELECT decile, count(*) AS new_shingles FROM fst GROUP BY decile)
      SELECT decile, CAST(new_shingles AS BIGINT) AS new_shingles,
             CAST(sum(new_shingles) OVER (ORDER BY decile) AS BIGINT) AS cum_vocab
      FROM cnt ORDER BY decile""")) { (s, dir) =>
      val docs = Tables.dfSpread(s, dir, "documents")
      val nd = docs.agg((max(col("doc_id")) + 1).as("n"))
      val sh = docs.join(broadcast(nd))
        .select(floor(col("doc_id") * 10 / col("n")).cast("int").as("decile"),
          explode(Kit.shingleSet(Kit.words(col("text")), 3)).as("shingle"))
      val fst = sh.groupBy(col("shingle")).agg(min(col("decile")).as("decile"))
      val cnt = fst.groupBy(col("decile")).agg(count(lit(1)).as("new_shingles"))
      cnt.select(col("decile"), col("new_shingles"),
        sum(col("new_shingles"))
          .over(Window.orderBy(col("decile"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("cum_vocab"))
        .orderBy(col("decile"))
    }
  )
}
