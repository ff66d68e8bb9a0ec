package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 53 — unseen-mass estimation, ranking under
  * uncertainty, a constant-space distinct sketch, paired-classifier
  * testing, variance decomposition, and ranked-retrieval quality:
  *
  *  - p211 Good–Turing missing mass: per language, the frequency-of-
  *    frequencies table's head (N1, N2) and the Good–Turing estimate of
  *    unseen-token probability mass N1/N plus the smoothed count for
  *    singletons r*(1) = 2·N2/N1 — the statistic that decides whether a
  *    corpus slice is "vocabulary-complete" enough to stop collecting.
  *    Two hash aggregations (token counts → count-of-counts); map-side
  *    partials at every step.
  *
  *  - p212 Wilson lower-confidence-bound ranking: sources ranked by the
  *    Wilson score interval's lower bound on their quality pass rate
  *    (n_chars ≥ 300) at z = 1.959963985 — the standard fix for naive
  *    rate ranking promoting tiny-n sources. One groupBy to per-source
  *    sufficient counts; the ranking window runs over the handful of
  *    sources, never over rows.
  *
  *  - p213 HyperLogLog registers: per-language distinct-token estimate
  *    from 64 HLL registers (6-bit bucket from a shared md5-derived
  *    60-bit hash, rank = leading-zero count of the remaining 54 bits
  *    +1). The register sum is carried as the EXACT integer
  *    Σ 2^(55−rho) (≤ 64·2^55 < 2^63), so both engines agree bit-for-bit
  *    before the single final float division; the small-range linear-
  *    counting correction applies below 2.5·m. Completes the sketch
  *    family (KMV p38, CMS p113, Bloom p26): HLL is the constant-space
  *    mergeable cardinality sketch a 100-TB profiler actually ships —
  *    64 longs per language, map-side combinable.
  *
  *  - p214 McNemar's paired test: two language-ID heuristics (stopword
  *    share vs mean token length) scored against the lang column on the
  *    SAME documents; the continuity-corrected McNemar chi-square over
  *    the discordant counts decides whether switching heuristics helps —
  *    the paired test that must replace two-sample tests when both
  *    classifiers see identical items. Predicates are integer-exact
  *    (50·n_stop ≥ n_toks; 10·sum_len < 46·n_toks) so both engines
  *    agree without float thresholds. One per-doc aggregation, then a
  *    4-cell global reduce.
  *
  *  - p215 one-way ANOVA F: does mean event value differ across event
  *    types? Between/within sum-of-squares from per-group DECIMAL
  *    sufficient statistics (n, Σy, Σy²), per-group terms rounded to
  *    DECIMAL before the final 5-row reduce so no float sum order
  *    exists. Complements p138's two-group Welch with the k-group
  *    omnibus test.
  *
  *  - p216 NDCG@5: ranked-retrieval quality of a BM25-style scorer
  *    (tf saturation × length normalization, k1=1.2, b=0.75) against
  *    graded relevance (tf capped at 5) for the corpus's six most
  *    frequent ≥4-char tokens as probe queries. Discount weights are
  *    LITERAL log2 constants (rank ≤ 5), gains are integers, and the
  *    DCG sums run in DECIMAL — the ndcg division is the only float op.
  *    The ranking-quality complement of p35 (BM25 top-k) and p75 (ANN
  *    recall): p75 grades set overlap, this grades the ORDER.
  *
  * Determinism: integer-exact predicates and register sums, DECIMAL
  * sufficient sums, literal z/log2 constants, (score, id) total orders,
  * 6dp-rounded ratios, ordered outputs.
  */
object PipelineQueries53 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- Good-Turing missing mass (p211)
    // Types are BIGRAMS: the corpus vocabulary is small enough that the
    // unigram spectrum has no singleton head at test SF; the bigram type
    // space is |V|^2-ish, so N1/N2 are populated and the estimator is
    // exercised non-vacuously at every scale.
    QueryDef("p211_good_turing_mass", Some("""
      WITH tok AS (
        SELECT lang, unnest(list_transform(
                 range(1, greatest(len(t) - 1, 0) + 1),
                 i -> array_to_string(t[i:i+1], ' '))) AS tok FROM (
          SELECT lang, string_split_regex(lower(text), '\s+') AS t
          FROM documents) d),
      tf AS (SELECT lang, tok, count(*) AS r FROM tok
             GROUP BY lang, tok),
      cc AS (SELECT lang, r, count(*) AS n_r FROM tf GROUP BY lang, r)
      SELECT lang,
             CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
             CAST(sum(n_r) AS BIGINT) AS vocab,
             CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN r = 2 THEN n_r ELSE 0 END) AS BIGINT) AS n2,
             round(CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS DOUBLE)
               / sum(r * n_r), 6) AS missing_mass,
             round(CASE WHEN sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) = 0
               THEN 0.0
               ELSE 2.0 * sum(CASE WHEN r = 2 THEN n_r ELSE 0 END)
                 / sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) END, 6) AS r_star_1
      FROM cc GROUP BY lang ORDER BY lang""")) { (s, dir) =>
      val tf = Tables.dfSpread(s, dir, "documents")
        .select(col("lang"),
          explode(graft.Functions.wordShingles(
            Kit.words(col("text")), 2)).as("tok"))
        .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("r"))
      val cc = tf.groupBy(col("lang"), col("r")).agg(count(lit(1)).as("n_r"))
      val n1 = sum(when(col("r") === 1, col("n_r")).otherwise(0L))
      val n2 = sum(when(col("r") === 2, col("n_r")).otherwise(0L))
      cc.groupBy(col("lang")).agg(
          sum(col("r") * col("n_r")).as("n_tokens"),
          sum(col("n_r")).as("vocab"),
          n1.as("n1"), n2.as("n2"),
          round(n1.cast("double") / sum(col("r") * col("n_r")), 6)
            .as("missing_mass"),
          round(when(n1 === 0, 0.0).otherwise(lit(2.0) * n2 / n1), 6)
            .as("r_star_1"))
        .orderBy(col("lang"))
    },

    // --------------------- Wilson LCB source ranking (p212)
    QueryDef.sql("p212_wilson_ranking", """
      WITH s AS (
        SELECT source, count(*) AS n,
               sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS k
        FROM documents GROUP BY source),
      w AS (
        SELECT source, n, k, CAST(k AS DOUBLE) / n AS p,
               CAST(1.959963985 AS DOUBLE) AS z
        FROM s),
      lcb AS (
        SELECT source, n, k, p,
               (p + z * z / (2 * n)
                 - z * sqrt(p * (1 - p) / n + z * z / (4.0 * n * n)))
                 / (1 + z * z / n) AS wilson_lcb
        FROM w)
      SELECT source, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
             round(p, 6) AS pass_rate, round(wilson_lcb, 6) AS wilson_lcb,
             CAST(row_number() OVER (ORDER BY wilson_lcb DESC, source)
               AS BIGINT) AS rank
      FROM lcb ORDER BY rank"""),

    // --------------------- HyperLogLog distinct sketch (p213)
    QueryDef("p213_hll_sketch", Some("""
      WITH tok AS (
        SELECT DISTINCT lang, tok FROM (
          SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS tok
          FROM documents) t
        WHERE tok <> ''),
      h AS (
        SELECT lang, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
        FROM tok),
      reg AS (
        SELECT lang, hv & 63 AS bucket,
               max(55 - length(ltrim(bin(hv >> 6), '0'))) AS rho
        FROM h GROUP BY lang, bucket),
      langs AS (SELECT DISTINCT lang FROM documents),
      full_reg AS (
        SELECT l.lang, b.bucket, coalesce(r.rho, 0) AS rho
        FROM langs l CROSS JOIN range(0, 64) b(bucket)
        LEFT JOIN reg r ON r.lang = l.lang AND r.bucket = b.bucket),
      sums AS (
        SELECT lang,
               sum(CAST(1 AS BIGINT) << (55 - rho)) AS s,
               sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS v0
        FROM full_reg GROUP BY lang),
      est AS (
        SELECT lang, v0,
               CAST(0.709 AS DOUBLE) * 64 * 64 * 36028797018963968.0 / s
                 AS raw_est
        FROM sums),
      fin AS (
        SELECT lang, v0,
               CASE WHEN raw_est <= 160.0 AND v0 > 0
                    THEN 64.0 * ln(64.0 / v0) ELSE raw_est END AS hll_est
        FROM est),
      ex AS (SELECT lang, count(*) AS exact_distinct FROM tok
             GROUP BY lang)
      SELECT f.lang, CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
             CAST(f.v0 AS BIGINT) AS zero_registers,
             round(f.hll_est, 4) AS hll_est,
             round((f.hll_est - e.exact_distinct) / e.exact_distinct, 4)
               AS rel_err
      FROM fin f JOIN ex e ON f.lang = e.lang ORDER BY f.lang""")) { (s, dir) =>
      // distinct (lang, tok) first: HLL registers only need each value once,
      // and the distinct collapses map-side before the register shuffle
      val tok = Tables.dfSpread(s, dir, "documents")
        .select(col("lang"),
          explode(Kit.words(col("text"))).as("tok"))
        .filter(col("tok") =!= "").distinct()
      val h = tok.select(col("lang"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("hv"))
      val reg = h.select(col("lang"),
          (col("hv").bitwiseAND(lit(63L))).as("bucket"),
          (lit(55) - length(ltrim(bin(shiftright(col("hv"), 6)), "0"))).as("rho"))
        .groupBy(col("lang"), col("bucket")).agg(max(col("rho")).as("rho"))
      val langs = Tables.dfSpread(s, dir, "documents").select(col("lang")).distinct()
      val buckets = langs.crossJoin(
        broadcast(s.range(0, 64).select(col("id").as("bucket"))))
      val fullReg = buckets.join(reg, Seq("lang", "bucket"), "left")
        .select(col("lang"), coalesce(col("rho"), lit(0)).as("rho"))
      // EXACT integer register sum: sum of 2^(55-rho) over 64 registers
      // (max 64 * 2^55 = 2^61 — no float accumulation anywhere)
      val sums = fullReg.groupBy(col("lang")).agg(
        // expr form: the Scala shiftleft() helper takes a literal bit
        // count, but the SQL function accepts a column
        sum(expr("shiftleft(1L, 55 - rho)")).as("s"),
        sum(when(col("rho") === 0, 1L).otherwise(0L)).as("v0"))
      // literal chain mirrors the oracle's op order exactly — never
      // pre-fold 0.709*64*64 in Scala (a different double than the
      // engine-side left-assoc chain)
      val rawEst = lit(0.709) * lit(64) * lit(64) *
        lit(36028797018963968.0) / col("s")
      val est = sums.select(col("lang"), col("v0"),
        when(rawEst <= 160.0 && col("v0") > 0,
          lit(64.0) * log(lit(64.0) / col("v0"))).otherwise(rawEst).as("hll_est"))
      val exact = tok.groupBy(col("lang")).agg(count(lit(1)).as("exact_distinct"))
      est.join(exact, "lang")
        .select(col("lang"), col("exact_distinct"), col("v0").as("zero_registers"),
          round(col("hll_est"), 4).as("hll_est"),
          round((col("hll_est") - col("exact_distinct")) / col("exact_distinct"), 4)
            .as("rel_err"))
        .orderBy(col("lang"))
    },

    // --------------------- McNemar paired langid test (p214)
    QueryDef("p214_mcnemar_langid", Some("""
      WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split_regex(lower(text), '\s+')) AS tok
        FROM documents),
      per_doc AS (
        SELECT doc_id, lang, count(*) AS n_toks,
               sum(CASE WHEN tok IN ('the','a','of','to','and')
                   THEN 1 ELSE 0 END) AS n_stop,
               sum(length(tok)) AS sum_len
        FROM tok WHERE tok <> '' GROUP BY doc_id, lang),
      scored AS (
        SELECT (lang = 'en') AS actual_en,
               (50 * n_stop >= n_toks) AS a_pred,
               (10 * sum_len < 46 * n_toks) AS b_pred
        FROM per_doc),
      cells AS (
        SELECT
          sum(CASE WHEN (a_pred = actual_en) AND (b_pred = actual_en)
              THEN 1 ELSE 0 END) AS both_correct,
          sum(CASE WHEN (a_pred <> actual_en) AND (b_pred <> actual_en)
              THEN 1 ELSE 0 END) AS both_wrong,
          sum(CASE WHEN (a_pred = actual_en) AND (b_pred <> actual_en)
              THEN 1 ELSE 0 END) AS a_only,
          sum(CASE WHEN (a_pred <> actual_en) AND (b_pred = actual_en)
              THEN 1 ELSE 0 END) AS b_only,
          count(*) AS n_docs
        FROM scored)
      SELECT CAST(n_docs AS BIGINT) AS n_docs,
             CAST(both_correct AS BIGINT) AS both_correct,
             CAST(both_wrong AS BIGINT) AS both_wrong,
             CAST(a_only AS BIGINT) AS a_only,
             CAST(b_only AS BIGINT) AS b_only,
             round(CASE WHEN a_only + b_only = 0 THEN 0.0
               ELSE CAST(greatest(abs(a_only - b_only) - 1, 0)
                      * greatest(abs(a_only - b_only) - 1, 0) AS DOUBLE)
                    / (a_only + b_only) END, 6) AS mcnemar_chi2
      FROM cells""")) { (s, dir) =>
      val perDoc = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(Kit.words(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("doc_id"), col("lang")).agg(
          count(lit(1)).as("n_toks"),
          sum(when(col("tok").isin("the", "a", "of", "to", "and"), 1L)
            .otherwise(0L)).as("n_stop"),
          sum(length(col("tok"))).as("sum_len"))
      // integer-exact predicates: no float thresholds to disagree on
      val scored = perDoc.select(
        (col("lang") === "en").as("actual_en"),
        (col("n_stop") * 50 >= col("n_toks")).as("a_pred"),
        (col("sum_len") * 10 < col("n_toks") * 46).as("b_pred"))
      val b = sum(when(col("a_pred") === col("actual_en") &&
        col("b_pred") =!= col("actual_en"), 1L).otherwise(0L))
      val c = sum(when(col("a_pred") =!= col("actual_en") &&
        col("b_pred") === col("actual_en"), 1L).otherwise(0L))
      scored.agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("a_pred") === col("actual_en") &&
            col("b_pred") === col("actual_en"), 1L).otherwise(0L))
            .as("both_correct"),
          sum(when(col("a_pred") =!= col("actual_en") &&
            col("b_pred") =!= col("actual_en"), 1L).otherwise(0L))
            .as("both_wrong"),
          b.as("a_only"), c.as("b_only"))
        .select(col("n_docs"), col("both_correct"), col("both_wrong"),
          col("a_only"), col("b_only"),
          round(when(col("a_only") + col("b_only") === 0, 0.0)
            .otherwise((greatest(abs(col("a_only") - col("b_only")) - 1, lit(0L)) *
              greatest(abs(col("a_only") - col("b_only")) - 1, lit(0L))).cast("double") /
              (col("a_only") + col("b_only"))), 6).as("mcnemar_chi2"))
    },

    // --------------------- one-way ANOVA F (p215)
    QueryDef.sql("p215_anova_f", """
      WITH y AS (
        SELECT event_type,
               CAST(round(value, 2) AS DECIMAL(18,2)) AS y
        FROM events),
      g AS (
        SELECT event_type, count(*) AS n,
               sum(y) AS s,
               sum(CAST(y * y AS DECIMAL(38,4))) AS ss
        FROM y GROUP BY event_type),
      terms AS (
        SELECT event_type, n, s, ss,
               CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 6)
                 AS DECIMAL(38,6)) AS s2n
        FROM g),
      tot AS (
        SELECT count(*) AS k, sum(n) AS n_total, sum(s) AS s_all,
               sum(ss) AS ss_all, sum(s2n) AS s2n_all
        FROM terms)
      SELECT CAST(k AS BIGINT) AS k_groups,
             CAST(n_total AS BIGINT) AS n_total,
             round(CAST(s2n_all AS DOUBLE)
               - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total, 2)
               AS ss_between,
             round(CAST(ss_all AS DOUBLE) - CAST(s2n_all AS DOUBLE), 2)
               AS ss_within,
             round(((CAST(s2n_all AS DOUBLE)
                 - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE) / n_total)
                 / (k - 1))
               / ((CAST(ss_all AS DOUBLE) - CAST(s2n_all AS DOUBLE))
                 / (n_total - k)), 6) AS f_stat
      FROM tot"""),

    // --------------------- NDCG@5 ranked-retrieval quality (p216)
    QueryDef("p216_ndcg_eval", Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        FROM documents),
      dl AS (SELECT doc_id, count(*) AS dl FROM tok WHERE tok <> ''
             GROUP BY doc_id),
      avgdl AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      probes AS (
        SELECT tok AS term FROM (
          SELECT tok, count(*) AS c,
                 row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
          FROM tok WHERE length(tok) >= 4 GROUP BY tok) t
        WHERE rn <= 6),
      tf AS (
        SELECT p.term, t.doc_id, count(*) AS tf
        FROM tok t JOIN probes p ON t.tok = p.term
        GROUP BY p.term, t.doc_id),
      scored AS (
        SELECT f.term, f.doc_id,
               least(f.tf, 5) AS rel,
               CAST(f.tf AS DOUBLE) * 2.2
                 / (f.tf + 1.2 * (0.25 + 0.75 * d.dl / a.avgdl)) AS score
        FROM tf f JOIN dl d ON f.doc_id = d.doc_id, avgdl a),
      sys AS (
        SELECT term, rel,
               row_number() OVER (PARTITION BY term
                 ORDER BY score DESC, doc_id) AS rn
        FROM scored),
      ideal AS (
        SELECT term, rel,
               row_number() OVER (PARTITION BY term
                 ORDER BY rel DESC, doc_id) AS rn
        FROM scored),
      w AS (
        SELECT 1 AS rn, 1.0 AS disc UNION ALL
        SELECT 2, 1.584962500721156 UNION ALL SELECT 3, 2.0 UNION ALL
        SELECT 4, 2.321928094887362 UNION ALL SELECT 5, 2.584962500721156),
      dcg AS (
        SELECT s.term,
               sum(CAST(round(((CAST(1 AS BIGINT) << s.rel) - 1) / w.disc, 9)
                 AS DECIMAL(38,9))) AS dcg5
        FROM sys s JOIN w ON s.rn = w.rn GROUP BY s.term),
      idcg AS (
        SELECT i.term,
               sum(CAST(round(((CAST(1 AS BIGINT) << i.rel) - 1) / w.disc, 9)
                 AS DECIMAL(38,9))) AS idcg5
        FROM ideal i JOIN w ON i.rn = w.rn GROUP BY i.term)
      SELECT d.term, round(CAST(d.dcg5 AS DOUBLE), 6) AS dcg5,
             round(CAST(i.idcg5 AS DOUBLE), 6) AS idcg5,
             round(CAST(d.dcg5 AS DOUBLE) / CAST(i.idcg5 AS DOUBLE), 6)
               AS ndcg5
      FROM dcg d JOIN idcg i ON d.term = i.term ORDER BY d.term""")) { (s, dir) =>
      // r18 OPTIMIZATION (guide §2.3/§2.4): the old shape exploded the
      // token stream THREE times (dl / probes / tf branches — separate
      // exchanges, so ReuseExchange cannot share them). Now: dl is a
      // map-only array expression (no explode, no shuffle; the >0 filter
      // reproduces the old groupBy's implicit drop of zero-token docs),
      // and ONE explode feeds one (tok, doc_id)-keyed partial-agg shuffle
      // whose tiny re-aggregation yields the probe top-6 — tf is a
      // broadcast-filtered view of the same frame. Identical counts; rows
      // re-verified vs DuckDB at sf0.001/sf0.01.
      val docsTok = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("tks"))
      val dl = docsTok
        .select(col("doc_id"),
          size(filter(col("tks"), t => t =!= "")).cast("long").as("dl"))
        .filter(col("dl") > 0)
      val avgdl = dl.agg(
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      // probes + tf reference the IDENTICAL exchange subtree, so runtime
      // ReuseExchange executes the tokenize + (tok,doc) shuffle once (the
      // p77-measured pattern — no checkpoint, nothing materialized)
      val tc = Kit.termCounts(docsTok)
      val probes = Kit.probeTerms(tc)
      val tf = tc.join(broadcast(probes), col("tok") === col("term"))
        .select(col("term"), col("doc_id"), col("c").as("tf"))
      val scored = tf.join(dl, "doc_id").crossJoin(broadcast(avgdl))
        .select(col("term"), col("doc_id"), least(col("tf"), lit(5)).as("rel"),
          (col("tf").cast("double") * 2.2 /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
            .as("score"))
      // discount weights are LITERAL log2 constants — no runtime log()
      val w = s.createDataFrame(Seq((1, 1.0), (2, 1.584962500721156),
        (3, 2.0), (4, 2.321928094887362), (5, 2.584962500721156)))
        .toDF("rn", "disc")
      def gains(ranked: org.apache.spark.sql.DataFrame, out: String) =
        ranked.join(broadcast(w), "rn")
          .groupBy(col("term"))
          .agg(sum(Kit.rdec((expr("shiftleft(1L, rel)") - 1) / col("disc"), 9)).as(out))
      val sys = scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("score").desc, col("doc_id"))))
      val ideal = scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("rel").desc, col("doc_id"))))
      gains(sys, "dcg5").join(gains(ideal, "idcg5"), "term")
        .select(col("term"),
          round(col("dcg5").cast("double"), 6).as("dcg5"),
          round(col("idcg5").cast("double"), 6).as("idcg5"),
          round(col("dcg5").cast("double") / col("idcg5").cast("double"), 6)
            .as("ndcg5"))
        .orderBy(col("term"))
    },
  )
}
