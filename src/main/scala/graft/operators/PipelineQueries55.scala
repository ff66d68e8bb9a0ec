package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 55 — rank-based omnibus testing, variance
  * homogeneity, ordinal effect size, lexical richness, corpus-contrast
  * keywords, and paired multi-classifier agreement:
  *
  *  - p223 Kruskal–Wallis H: does document length differ across sources,
  *    WITHOUT assuming normality? The k-group generalization of
  *    Mann–Whitney (p155) and the nonparametric complement of ANOVA F
  *    (p215). Ranks are NEVER computed per row: midranks come from the
  *    distinct-value frame (the p141 class — the doc-length value domain
  *    is bounded at ANY corpus size), per-source rank sums accumulate in
  *    DECIMAL(38,1) (midranks are exact halves), and the tie correction
  *    uses the same value-count table. One shuffle to (source, value)
  *    cells; no global sort of rows anywhere.
  *
  *  - p224 Brown–Forsythe: the variance-homogeneity test that gates
  *    whether p215's pooled-variance ANOVA is even applicable — a one-way
  *    ANOVA on |x − group median| (median-centered, the robust
  *    Brown–Forsythe form of Levene's test). Group medians are exact
  *    percentiles over the bounded length domain; deviations are exact
  *    halves summed in DECIMAL; per-source terms round to DECIMAL(38,6)
  *    before the k-row reduce.
  *
  *  - p225 Cliff's delta: the ordinal effect size for "are English
  *    documents longer?" — P(X>Y) − P(X<Y) for (en, non-en) pairs,
  *    computed EXACTLY from the distinct-value frame: per value v,
  *    greater-pairs = c_en(v) · Σ_{u<v} c_ot(u) via one cumulative sum —
  *    never the row-level pair space (n_en·n_ot pairs at 100 TB; the
  *    value-domain cumulation is the same count in O(|domain|)).
  *    Complements p155 (significance) with magnitude.
  *
  *  - p226 bigram richness / Yule's K: per-source lexical diversity from
  *    the bigram frequency-of-frequencies spectrum — type count, hapax
  *    share (the Heaps/Good–Turing axis, p121/p211) and Yule's
  *    characteristic K = 10⁴·(Σr²·n_r − N)/N², the repetitiveness
  *    statistic that is corpus-size-invariant under sampling (unlike raw
  *    TTR). Bigrams, not unigrams: the fixture's ~31-token per-language
  *    vocabulary makes the unigram spectrum hapax-free (the p211 vacuity
  *    lesson, caught by the corpus probe). Two hash aggregations, all
  *    map-side partials.
  *
  *  - p227 log-odds ratio with informative Dirichlet prior (Monroe et
  *    al.'s "Fightin' Words"): which tokens distinguish English documents
  *    from the rest, with the full-corpus frequency as the prior so rare
  *    tokens don't dominate (the flaw of raw PMI/tf-idf contrast this
  *    method fixes — complements p46/p61). One token-level aggregation;
  *    the z-scored contrast is emitted for the WHOLE bounded vocabulary,
  *    ordered by token — no float top-k whose boundary ulp could differ
  *    between engines.
  *
  *  - p228 Cochran's Q: do three binary quality screens (length above the
  *    corpus median, token count > 60, mean token length > 5.5) pass the
  *    SAME documents at the same rate? The k-classifier generalization of
  *    McNemar (p214) for paired designs. Predicates are integer-exact
  *    (2·n_chars > 11·n_toks — the p214 convention); the statistic needs
  *    only per-doc row sums and three column totals: one map-side pass.
  *
  * Determinism: integer/DECIMAL sufficient statistics before every
  * multi-row float reduce, exact-half midranks and deviations in
  * DECIMAL(·,1), literal constants CAST AS DOUBLE on the oracle side
  * (DuckDB decimal-literal trap), mirrored left-assoc double chains,
  * 6dp-rounded outputs, ordered results.
  */
object PipelineQueries55 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- Kruskal-Wallis H (p223)
    QueryDef.sql("p223_kruskal_wallis", """
      WITH vc AS (
        SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1),
      r AS (
        SELECT v, c,
               coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + (c + 1) / 2.0 AS rv
        FROM vc),
      sc AS (
        SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c_s
        FROM documents GROUP BY 1, 2),
      gs AS (
        SELECT sc.source, CAST(sum(sc.c_s) AS BIGINT) AS n_s,
               CAST(sum(sc.c_s * CAST(r.rv AS DECIMAL(19,1)))
                 AS DECIMAL(38,1)) AS rsum
        FROM sc JOIN r ON sc.v = r.v GROUP BY sc.source),
      term AS (
        SELECT source, n_s,
               CAST(round(CAST(rsum AS DOUBLE) * CAST(rsum AS DOUBLE) / n_s, 6)
                 AS DECIMAL(38,6)) AS r2n
        FROM gs),
      tie AS (
        SELECT coalesce(CAST(sum(CAST(c * c * c - c AS DECIMAL(38,0)))
          AS DOUBLE), 0) AS tsum
        FROM vc WHERE c > 1),
      a AS (
        SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_s) AS BIGINT) AS n,
               CAST(sum(r2n) AS DOUBLE) AS s_r2n
        FROM term),
      h AS (
        SELECT k, n,
               CAST(12.0 AS DOUBLE) * (s_r2n / (n * (n + CAST(1.0 AS DOUBLE))))
                 - CAST(3.0 AS DOUBLE) * (n + CAST(1.0 AS DOUBLE)) AS h_raw
        FROM a)
      SELECT h.k AS k_sources, h.n AS n_docs, round(h.h_raw, 6) AS h,
             round(CASE WHEN tie.tsum >= CAST(n AS DOUBLE) * n * n - n THEN 0.0
               ELSE h.h_raw / (CAST(1.0 AS DOUBLE)
                 - tie.tsum / (CAST(n AS DOUBLE) * n * n - n)) END, 6)
               AS h_tie_corrected
      FROM h, tie"""),

    // --------------------- Brown-Forsythe variance homogeneity (p224)
    QueryDef.sql("p224_brown_forsythe", """
      WITH med AS (
        SELECT source, median(n_chars) AS m FROM documents GROUP BY 1),
      z AS (
        SELECT d.source, abs(CAST(d.n_chars AS DOUBLE) - med.m) AS z
        FROM documents d JOIN med ON d.source = med.source),
      g AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_s,
               CAST(sum(CAST(z AS DECIMAL(19,1))) AS DECIMAL(38,1)) AS sz,
               CAST(sum(CAST(z AS DECIMAL(19,1)) * CAST(z AS DECIMAL(19,1)))
                 AS DECIMAL(38,2)) AS szz
        FROM z GROUP BY source),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_s) AS BIGINT) AS n,
               CAST(sum(sz) AS DOUBLE) AS sz_all
        FROM g),
      terms AS (
        SELECT g.source,
               CAST(round(g.n_s
                   * (CAST(g.sz AS DOUBLE) / g.n_s - tot.sz_all / tot.n)
                   * (CAST(g.sz AS DOUBLE) / g.n_s - tot.sz_all / tot.n), 6)
                 AS DECIMAL(38,6)) AS tb,
               CAST(round(CAST(g.szz AS DOUBLE)
                   - CAST(g.sz AS DOUBLE) * CAST(g.sz AS DOUBLE) / g.n_s, 6)
                 AS DECIMAL(38,6)) AS tw
        FROM g, tot),
      agg AS (
        SELECT CAST(sum(tb) AS DOUBLE) AS ssb, CAST(sum(tw) AS DOUBLE) AS ssw
        FROM terms)
      SELECT tot.k AS k_sources, tot.n AS n_docs,
             round(agg.ssb, 6) AS ss_between, round(agg.ssw, 6) AS ss_within,
             round((agg.ssb / (tot.k - 1)) / (agg.ssw / (tot.n - tot.k)), 6)
               AS bf_f
      FROM agg, tot"""),

    // --------------------- Cliff's delta effect size (p225)
    QueryDef.sql("p225_cliffs_delta", """
      WITH vc AS (
        SELECT n_chars AS v,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                 AS c_en,
               CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
                 AS c_ot
        FROM documents GROUP BY 1),
      cum AS (
        SELECT v, c_en, c_ot,
               coalesce(sum(c_en) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS en_below,
               coalesce(sum(c_ot) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS ot_below
        FROM vc),
      a AS (
        SELECT CAST(sum(c_en) AS BIGINT) AS n_en,
               CAST(sum(c_ot) AS BIGINT) AS n_ot,
               CAST(sum(CAST(c_en * ot_below AS DECIMAL(38,0)))
                 AS DECIMAL(38,0)) AS gt,
               CAST(sum(CAST(c_ot * en_below AS DECIMAL(38,0)))
                 AS DECIMAL(38,0)) AS lt,
               CAST(sum(CAST(c_en * c_ot AS DECIMAL(38,0)))
                 AS DECIMAL(38,0)) AS tied
        FROM cum)
      SELECT n_en, n_ot,
             CAST(gt AS BIGINT) AS pairs_gt, CAST(lt AS BIGINT) AS pairs_lt,
             CAST(tied AS BIGINT) AS pairs_tied,
             round((CAST(gt AS DOUBLE) - CAST(lt AS DOUBLE))
               / (CAST(n_en AS DOUBLE) * n_ot), 6) AS cliffs_delta
      FROM a"""),

    // --------------------- bigram richness / Yule's K (p226)
    QueryDef("p226_bigram_richness", Some("""
      WITH tok AS (
        SELECT source, unnest(list_transform(
                 range(1, greatest(len(t) - 1, 0) + 1),
                 i -> array_to_string(t[i:i+1], ' '))) AS b FROM (
          SELECT source, string_split_regex(lower(text), '\s+') AS t
          FROM documents) d),
      tf AS (SELECT source, b, CAST(count(*) AS BIGINT) AS r
             FROM tok GROUP BY 1, 2),
      cc AS (SELECT source, r, CAST(count(*) AS BIGINT) AS n_r
             FROM tf GROUP BY 1, 2)
      SELECT source,
             CAST(sum(r * n_r) AS BIGINT) AS n_tokens,
             CAST(sum(n_r) AS BIGINT) AS n_types,
             CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS hapax,
             round(CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS DOUBLE)
               / sum(n_r), 6) AS hapax_share,
             round(CAST(10000.0 AS DOUBLE)
               * (CAST(sum(CAST(r * r * n_r AS DECIMAL(38,0))) AS DOUBLE)
                 - sum(r * n_r))
               / (CAST(sum(r * n_r) AS DOUBLE) * sum(r * n_r)), 6) AS yule_k
      FROM cc GROUP BY source ORDER BY source""")) { (s, dir) =>
      val tf = Tables.dfSpread(s, dir, "documents")
        .select(col("source"),
          explode(graft.Functions.wordShingles(
            Kit.words(col("text")), 2)).as("b"))
        .groupBy(col("source"), col("b"))
        .agg(count(lit(1)).cast("bigint").as("r"))
      val cc = tf.groupBy(col("source"), col("r"))
        .agg(count(lit(1)).cast("bigint").as("n_r"))
      val nTok = sum(col("r") * col("n_r"))
      val hapax = sum(when(col("r") === 1, col("n_r")).otherwise(0L))
      cc.groupBy(col("source")).agg(
          nTok.cast("bigint").as("n_tokens"),
          sum(col("n_r")).cast("bigint").as("n_types"),
          hapax.cast("bigint").as("hapax"),
          round(hapax.cast("double") / sum(col("n_r")), 6).as("hapax_share"),
          round(lit(10000.0)
            * (Kit.dsum(col("r") * col("r") * col("n_r"), 0) - nTok)
            / (nTok.cast("double") * nTok), 6).as("yule_k"))
        .orderBy(col("source"))
    },

    // --------------------- log-odds ratio, informative Dirichlet (p227)
    QueryDef("p227_logodds_dirichlet", Some("""
      WITH tok AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
               unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents),
      tc AS (
        SELECT w, CAST(sum(is_en) AS BIGINT) AS c_en,
               CAST(sum(1 - is_en) AS BIGINT) AS c_ot
        FROM tok WHERE w <> '' GROUP BY w),
      tot AS (
        SELECT CAST(sum(c_en) AS BIGINT) AS n_en,
               CAST(sum(c_ot) AS BIGINT) AS n_ot
        FROM tc),
      z AS (
        SELECT tc.w, tc.c_en, tc.c_ot, tot.n_en, tot.n_ot,
               CAST(1000.0 AS DOUBLE) * (tc.c_en + tc.c_ot)
                 / (tot.n_en + tot.n_ot) AS aw
        FROM tc, tot),
      lo AS (
        SELECT w, c_en, c_ot,
               ln((c_en + aw) / (n_en + CAST(1000.0 AS DOUBLE) - c_en - aw))
                 - ln((c_ot + aw) / (n_ot + CAST(1000.0 AS DOUBLE) - c_ot - aw))
                 AS delta,
               CAST(1.0 AS DOUBLE) / (c_en + aw)
                 + CAST(1.0 AS DOUBLE) / (c_ot + aw) AS var
        FROM z)
      SELECT w AS token, c_en, c_ot,
             round(delta, 6) AS log_odds,
             round(delta / sqrt(var), 6) AS z_score
      FROM lo ORDER BY w""")) { (s, dir) =>
      val tok = Tables.dfSpread(s, dir, "documents")
        .select(when(col("lang") === "en", 1L).otherwise(0L).as("is_en"),
          explode(Kit.words(col("text"))).as("w"))
        .filter(col("w") =!= "")
      val tc = tok.groupBy(col("w")).agg(
        sum(col("is_en")).cast("bigint").as("c_en"),
        sum(lit(1L) - col("is_en")).cast("bigint").as("c_ot"))
      val tot = tc.agg(sum(col("c_en")).cast("bigint").as("n_en"),
        sum(col("c_ot")).cast("bigint").as("n_ot"))
      val z = tc.crossJoin(broadcast(tot)).select(
        col("w"), col("c_en"), col("c_ot"), col("n_en"), col("n_ot"),
        (lit(1000.0) * (col("c_en") + col("c_ot"))
          / (col("n_en") + col("n_ot"))).as("aw"))
      val lo = z.select(col("w"), col("c_en"), col("c_ot"),
        (log((col("c_en") + col("aw"))
          / (col("n_en") + lit(1000.0) - col("c_en") - col("aw")))
          - log((col("c_ot") + col("aw"))
            / (col("n_ot") + lit(1000.0) - col("c_ot") - col("aw"))))
          .as("delta"),
        (lit(1.0) / (col("c_en") + col("aw"))
          + lit(1.0) / (col("c_ot") + col("aw"))).as("var"))
      lo.select(col("w").as("token"), col("c_en"), col("c_ot"),
          round(col("delta"), 6).as("log_odds"),
          round(col("delta") / sqrt(col("var")), 6).as("z_score"))
        .orderBy(col("token"))
    },

    // --------------------- Cochran's Q paired-screen agreement (p228)
    QueryDef("p228_cochran_q", Some("""
      WITH med AS (SELECT median(n_chars) AS m FROM documents),
      h AS (
        SELECT CASE WHEN CAST(d.n_chars AS DOUBLE) > med.m
                    THEN 1 ELSE 0 END AS x1,
               CASE WHEN len(string_split_regex(lower(d.text), '\s+')) > 60
                    THEN 1 ELSE 0 END AS x2,
               CASE WHEN 2 * d.n_chars >
                      11 * len(string_split_regex(lower(d.text), '\s+'))
                    THEN 1 ELSE 0 END AS x3
        FROM documents d, med),
      r AS (SELECT x1, x2, x3, x1 + x2 + x3 AS ri FROM h),
      a AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x1) AS BIGINT) AS c1, CAST(sum(x2) AS BIGINT) AS c2,
               CAST(sum(x3) AS BIGINT) AS c3,
               CAST(sum(ri) AS BIGINT) AS sr,
               CAST(sum(ri * ri) AS BIGINT) AS srr
        FROM r)
      SELECT n AS n_docs, c1, c2, c3,
             round(CASE WHEN 3 * sr - srr = 0 THEN 0.0
               ELSE CAST(2.0 AS DOUBLE)
                 * (3 * (c1 * c1 + c2 * c2 + c3 * c3)
                   - (c1 + c2 + c3) * (c1 + c2 + c3))
                 / (3 * sr - srr) END, 6) AS cochran_q
      FROM a""")) { (s, dir) =>
      val docs = Tables.dfSpread(s, dir, "documents")
      val med = docs.agg(expr("percentile(n_chars, 0.5)").as("m"))
      val nToks = size(Kit.words(col("text")))
      val h = docs.crossJoin(broadcast(med)).select(
        when(col("n_chars").cast("double") > col("m"), 1L)
          .otherwise(0L).as("x1"),
        when(nToks > 60, 1L).otherwise(0L).as("x2"),
        when(lit(2) * col("n_chars") > lit(11) * nToks, 1L)
          .otherwise(0L).as("x3"))
      val r = h.select(col("x1"), col("x2"), col("x3"),
        (col("x1") + col("x2") + col("x3")).as("ri"))
      val a = r.agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("x1")).cast("bigint").as("c1"),
        sum(col("x2")).cast("bigint").as("c2"),
        sum(col("x3")).cast("bigint").as("c3"),
        sum(col("ri")).cast("bigint").as("sr"),
        sum(col("ri") * col("ri")).cast("bigint").as("srr"))
      a.select(col("n").as("n_docs"), col("c1"), col("c2"), col("c3"),
        round(when(lit(3) * col("sr") - col("srr") === 0, 0.0)
          .otherwise(lit(2.0)
            * (lit(3) * (col("c1") * col("c1") + col("c2") * col("c2")
              + col("c3") * col("c3"))
              - (col("c1") + col("c2") + col("c3"))
                * (col("c1") + col("c2") + col("c3")))
            / (lit(3) * col("sr") - col("srr"))), 6).as("cochran_q"))
    },
  )
}
