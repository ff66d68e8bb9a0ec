package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 32 — tokenizer economics and label reliability:
  * the audits a curation pipeline runs before committing a tokenizer or a
  * heuristic quality labeler to a 100-TB pass.
  *
  *  - p122 tokenizer fertility: per source, subword tokens per word and
  *    bytes per subword token under a BPE-ish segmentation proxy (letter
  *    runs / digit runs / single non-alphanumerics — the pre-tokenizer
  *    split every BPE family starts from). Fertility is THE tokenizer-fit
  *    metric (a source at 2× fertility costs 2× the training budget per
  *    word); bytes/token is the compression-rate planning number.
  *
  *  - p123 normalization impact: per source, exact-duplicate mass before
  *    vs after text normalization (lowercase, strip punctuation, collapse
  *    whitespace) — the measured GAIN a normalize-then-dedup tier buys
  *    over raw exact dedup (p01's tier), which is the number that decides
  *    whether the normalization pass is worth a corpus rewrite at scale.
  *
  *  - p124 annotator agreement: Cohen's kappa between two independent
  *    heuristic quality labelers (length-based and stopword-based) per
  *    language — the standard inter-rater reliability check run before
  *    trusting any cheap labeler ensemble (p85's tier) as a filter. Kappa
  *    is closed-form over the 2×2 contingency counts; all corpus-sized
  *    work is ONE partial-aggregated groupBy.
  *
  * Scale shape: all three ops are map-only per row followed by a single
  * partial-agg shuffle keyed on a low-cardinality column (source / lang) —
  * the ideal linear plan; no joins, no windows, no driver state.
  */
object PipelineQueries32 {

  /** BPE-ish pre-tokenization: letter runs, digit runs, single other
    * non-space marks. Same regex text on both engines (RE2 and Java agree
    * on this alternation). */
  private val SubTokRe = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  private def norm(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), "\\s+", " "))

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------- tokenizer fertility (p122)
    QueryDef("p122_tokenizer_fertility", Some("""
      WITH t AS (
        SELECT source,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_sub,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
               octet_length(text::BLOB) AS n_bytes
        FROM documents)
      SELECT source,
             CAST(sum(n_sub) AS BIGINT) AS sub_tokens,
             CAST(sum(n_words) AS BIGINT) AS words,
             CAST(sum(n_bytes) AS BIGINT) AS bytes,
             round(CAST(sum(n_sub) AS DOUBLE) / sum(n_words), 6) AS fertility,
             round(CAST(sum(n_bytes) AS DOUBLE) / sum(n_sub), 6) AS bytes_per_token
      FROM t GROUP BY source ORDER BY source""")) { (s, dir) =>
      Tables.dfSpread(s, dir, "documents")
        .select(col("source"),
          regexp_count(lower(col("text")), lit(SubTokRe)).as("n_sub"),
          regexp_count(lower(col("text")), lit(Kit.WordRe)).as("n_words"),
          octet_length(col("text").cast("binary")).as("n_bytes"))
        .groupBy(col("source"))
        .agg(sum(col("n_sub")).as("sub_tokens"),
          sum(col("n_words")).as("words"),
          sum(col("n_bytes")).as("bytes"),
          round(sum(col("n_sub")).cast("double") / sum(col("n_words")), 6)
            .as("fertility"),
          round(sum(col("n_bytes")).cast("double") / sum(col("n_sub")), 6)
            .as("bytes_per_token"))
        .orderBy(col("source"))
    },

    // ----------------------------------------- normalization impact (p123)
    // dup mass = docs minus distinct digests; the two countDistincts ride
    // ONE partial-aggregated shuffle (Spark expands to two grouping sets
    // map-side — still a single exchange keyed on source).
    QueryDef("p123_normalization_impact", Some("""
      WITH t AS (
        SELECT source,
               md5(text) AS d_exact,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))) AS d_norm
        FROM documents)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(*) - count(DISTINCT d_exact) AS BIGINT) AS dup_exact,
             CAST(count(*) - count(DISTINCT d_norm) AS BIGINT) AS dup_norm,
             CAST(count(DISTINCT d_exact) - count(DISTINCT d_norm) AS BIGINT)
               AS norm_gain
      FROM t GROUP BY source ORDER BY source""")) { (s, dir) =>
      Tables.dfSpread(s, dir, "documents")
        .select(col("source"), md5(col("text")).as("d_exact"),
          md5(norm(col("text"))).as("d_norm"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (count(lit(1)) - countDistinct(col("d_exact"))).as("dup_exact"),
          (count(lit(1)) - countDistinct(col("d_norm"))).as("dup_norm"),
          (countDistinct(col("d_exact")) - countDistinct(col("d_norm")))
            .as("norm_gain"))
        .orderBy(col("source"))
    },

    // ------------------------------------------ annotator agreement (p124)
    // Labeler A: length (n_chars >= 400); labeler B: stopword density
    // (20 * stopword_hits >= words, i.e. >= 5%) — integer comparisons, no
    // ratio doubles until the final kappa. Contingency a/b/c/d are exact
    // counts; kappa = (po - pe) / (1 - pe) with po/pe spelled identically
    // on both engines (same IEEE ops in the same order), NULL when pe = 1
    // (degenerate single-label case) on both sides.
    QueryDef("p124_annotator_agreement", Some("""
      WITH t AS (
        SELECT lang,
               CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS la,
               CASE WHEN 20 * len(regexp_extract_all(lower(text),
                      '\b(the|and|of|to|in|a|is|for|on|with)\b'))
                    >= len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                    THEN 1 ELSE 0 END AS lb
        FROM documents),
      c AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(la * lb) AS BIGINT) AS a,
               CAST(sum(la * (1 - lb)) AS BIGINT) AS b,
               CAST(sum((1 - la) * lb) AS BIGINT) AS c,
               CAST(sum((1 - la) * (1 - lb)) AS BIGINT) AS d
        FROM t GROUP BY lang)
      SELECT lang, n, a, b, c, d,
             round((CAST(a + d AS DOUBLE) / n
                    - CAST((a + b) * (a + c) + (c + d) * (b + d) AS DOUBLE) / (n * n))
                   / nullif(1 - CAST((a + b) * (a + c) + (c + d) * (b + d) AS DOUBLE)
                            / (n * n), 0), 6) AS kappa
      FROM c ORDER BY lang""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("lang") +: Kit.annotatorLabels: _*)
      val c = t.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("la") * col("lb")).as("a"),
          sum(col("la") * (lit(1) - col("lb"))).as("b"),
          sum((lit(1) - col("la")) * col("lb")).as("c"),
          sum((lit(1) - col("la")) * (lit(1) - col("lb"))).as("d"))
      val pe = ((col("a") + col("b")) * (col("a") + col("c"))
        + (col("c") + col("d")) * (col("b") + col("d"))).cast("double") /
        (col("n") * col("n"))
      val po = (col("a") + col("d")).cast("double") / col("n")
      c.select(col("lang"), col("n"), col("a"), col("b"), col("c"), col("d"),
          round((po - pe) / nullif(lit(1) - pe, lit(0)), 6).as("kappa"))
        .orderBy(col("lang"))
    })
}
