package graft.operators

import graft.QueryDef

/** Pipeline coverage batch 20 — privacy auditing and operational skew
  * diagnostics:
  *
  *  - p89 k-anonymity audit: group sizes over a quasi-identifier tuple,
  *    rolled up to "how many groups / rows sit below k" for a ladder of k
  *    thresholds — the re-identification risk report a privacy review runs
  *    before releasing event data (complements p19's PII redaction).
  *  - p90 join-key skew profile: counts-of-counts histogram of a join key
  *    (log2 frequency buckets via exact bit-length, no libm) plus the
  *    global skew factor — the diagnostic that decides when p34's salted
  *    join is worth its shuffle.
  *  - p91 duplicate-cluster size spectrum: how many exact-dup families of
  *    each size the corpus carries — the multiplicity histogram that sizes
  *    a dedup rollout's savings (pairs with p01/p55's audits).
  */
object PipelineQueries20 {

  /** p89 thresholds. */
  private val Ks = Seq(2, 5, 10, 20)

  val defs: Seq[QueryDef] = Seq(

    // ------------------------- k-anonymity audit (p89)

    // Scale shape: one QI-keyed reduce (map-side combined); the threshold
    // ladder explodes over the GROUP frame (|QI groups| rows, corpus-
    // independent once grouped), never over raw events. Ratios are exact
    // integer divisions rounded once.
    QueryDef.sql("p89_k_anonymity", s"""
      WITH qi AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(floor(value / 10) AS BIGINT) AS vb,
               count(*) AS c
        FROM events GROUP BY 1, 2, 3),
      k AS (SELECT unnest([${Ks.mkString(", ")}]) AS k)
      SELECT k.k,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN qi.c < k.k THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below,
             CAST(sum(CASE WHEN qi.c < k.k THEN qi.c ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
             round(CAST(sum(CASE WHEN qi.c < k.k THEN qi.c ELSE 0 END) AS DOUBLE)
                   / sum(qi.c), 6) AS risk_share
      FROM qi CROSS JOIN k
      GROUP BY k.k ORDER BY k.k"""),

    // ----------------------- join-key skew profile (p90)

    // Frequency buckets come from the BIT LENGTH of the per-key count
    // (length(bin(c)) - 1 = floor(log2 c) exactly, pure integer/string
    // ops) — a libm log2 could round differently at power-of-two
    // boundaries across engines. The global skew factor (max over mean
    // key frequency) repeats on each row by design: the histogram is the
    // distribution, the factor is the headline the p34 salting decision
    // reads. Scale shape: key-keyed reduce, then a ≤64-row bucket rollup;
    // the 1-row global frame broadcasts back.
    QueryDef.sql("p90_join_key_skew", """
      WITH kc AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
      g AS (SELECT CAST(max(c) AS DOUBLE) * count(*) / sum(c) AS skew_factor FROM kc)
      SELECT CAST(length(bin(kc.c)) - 1 AS INTEGER) AS freq_bucket,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(kc.c) AS BIGINT) AS n_rows,
             round(max(g.skew_factor), 6) AS skew_factor
      FROM kc CROSS JOIN g
      GROUP BY 1 ORDER BY freq_bucket"""),

    // ------------------- dup-cluster size spectrum (p91)

    // Two stacked reduces, both map-side combined: content digest → family
    // size, family size → spectrum. The digest is the only thing shuffled
    // (32 bytes/row), never text — the p01 discipline.
    QueryDef.sql("p91_dup_size_spectrum", """
      WITH fam AS (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY h)
      SELECT CAST(c AS BIGINT) AS family_size,
             CAST(count(*) AS BIGINT) AS n_families,
             CAST(c * count(*) AS BIGINT) AS n_docs,
             CAST((c - 1) * count(*) AS BIGINT) AS n_removable
      FROM fam GROUP BY c ORDER BY family_size""")
  )
}
