package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 39 — privacy / release-planning tier, extending
  * p19 (PII redaction) and p89 (k-anonymity) with the decisions made when a
  * corpus is APPORTIONED and RELEASED.
  *
  *  - p143 quota apportionment (largest-remainder / Hamilton method): turn
  *    temperature-scaled source weights (share^τ at τ=0.5, i.e. √n — p79's
  *    rebalancing semantics with the engine-exact exponent) into EXACT
  *    integer document quotas for a 10,000-doc release: floor the ideal
  *    quotas, then hand the leftover seats to the largest remainders (ties
  *    by source). Integer-exact apportionment on the |S|-row frame; the
  *    corpus-sized work is one counting agg.
  *
  *  - p144 differential-privacy noisy counts with a utility audit: per-source
  *    counts + Laplace(1/ε) noise (ε=1) drawn deterministically from an
  *    md5 uniform via the inverse CDF −sign(u−½)·(1/ε)·ln(1−2|u−½|) — the
  *    publishable histogram and, as the audit, the per-cell absolute error
  *    (what a release reviewer reads before choosing ε).
  *
  *  - p145 entropy l-diversity over p89's quasi-identifier grouping: per QI
  *    group (event_type, day, value decade) the sensitive attribute is the
  *    user — distinct-l (min #distinct users), entropy-l
  *    (min exp(H(users))), and the share of groups failing l ∈ {2, 3, 5}.
  *    Output: one row per l with failing-group counts, the k-anonymity
  *    companion for attribute disclosure.
  *
  * Determinism: integer masses; md5 uniforms spelled identically; ln/exp on
  * identical doubles rounded before DECIMAL sums; remainders compared on
  * 6dp-rounded values with lexicographic tie-break.
  */
object PipelineQueries39 {

  /** Release size for p143. */
  private val Seats = 10000L
  // p143's temperature is pinned at tau = 0.5 so the weight is sqrt(n):
  // IEEE sqrt is correctly rounded (bit-exact on both engines), whereas a
  // general share^tau = exp(tau*ln n) composes two libm calls whose 1-ulp
  // engine differences could flip the 6dp remainder ranking.

  val defs: Seq[QueryDef] = Seq(

    // ------------------- largest-remainder quota apportionment (p143)
    QueryDef.sql("p143_quota_apportionment", s"""
      WITH c AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
      w AS (
        SELECT source, n,
               round(sqrt(CAST(n AS DOUBLE)), 6) AS wt
        FROM c),
      tw AS (SELECT CAST(sum(CAST(wt AS DECIMAL(38,6))) AS DOUBLE) AS t FROM w),
      q AS (
        SELECT source, n, wt,
               round(wt / tw.t * $Seats, 6) AS ideal
        FROM w CROSS JOIN tw),
      f AS (
        SELECT source, n, wt, ideal,
               CAST(floor(ideal) AS BIGINT) AS base,
               round(ideal - floor(ideal), 6) AS rem
        FROM q),
      leftover AS (
        SELECT $Seats - sum(base) AS k FROM f),
      r AS (
        SELECT source, n, wt, ideal, base, rem,
               row_number() OVER (ORDER BY rem DESC, source) AS pri
        FROM f)
      SELECT r.source, r.n, r.wt, r.ideal, r.base,
             CAST(r.base + CASE WHEN r.pri <= leftover.k THEN 1 ELSE 0 END
                  AS BIGINT) AS quota
      FROM r CROSS JOIN leftover ORDER BY r.source"""),

    // --------------- DP noisy counts + utility audit (p144, eps = 1)
    QueryDef("p144_dp_noisy_counts", Some("""
      WITH c AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
      u AS (
        SELECT source, n,
               CAST(('0x' || substr(md5(source || '_dp'), 1, 8)) AS BIGINT)
                 / 4294967296.0 AS u
        FROM c),
      nz AS (
        SELECT source, n,
               round(CASE WHEN u < 0.5 THEN ln(2 * u) ELSE -ln(2 * (1 - u)) END,
                     6) AS noise
        FROM u),
      o AS (
        SELECT source, n AS n_true,
               round(n + noise, 6) AS n_noisy,
               round(abs(noise), 6) AS abs_err
        FROM nz)
      SELECT source, n_true, n_noisy, abs_err FROM o ORDER BY source""")) {
      (s, dir) =>
      val c = Tables.dfSpread(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).cast("bigint").as("n"))
      val u = (conv(substring(md5(concat(col("source"), lit("_dp"))), 1, 8),
        16, 10).cast("bigint") / 4294967296.0).as("u")
      val nz = c.withColumn("u", u)
        .withColumn("noise",
          round(when(col("u") < 0.5, log(lit(2) * col("u")))
            .otherwise(-log(lit(2) * (lit(1) - col("u")))), 6))
      nz.select(col("source"), col("n").as("n_true"),
          round(col("n") + col("noise"), 6).as("n_noisy"),
          round(abs(col("noise")), 6).as("abs_err"))
        .orderBy(col("source"))
    },

    // --------------------------- entropy l-diversity screen (p145)
    QueryDef.sql("p145_l_diversity", """
      WITH cell AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(floor(value / 10) AS BIGINT) AS vb,
               user_id, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2, 3, 4),
      withp AS (
        SELECT event_type, d, vb, c,
               CAST(c AS DOUBLE)
                 / sum(c) OVER (PARTITION BY event_type, d, vb) AS p
        FROM cell),
      grp AS (
        SELECT event_type, d, vb,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(c) AS BIGINT) AS n_rows,
               round(exp(CAST(sum(CAST(round(-p * ln(p), 9) AS DECIMAL(38,9)))
                             AS DOUBLE)), 6) AS ent_l
        FROM withp GROUP BY 1, 2, 3),
      l AS (SELECT unnest([2, 3, 5]) AS l)
      SELECT l.l,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN grp.n_users < l.l THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_distinct,
             CAST(sum(CASE WHEN grp.ent_l < l.l THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_entropy,
             round(CAST(sum(CASE WHEN grp.n_users < l.l THEN grp.n_rows ELSE 0 END)
                        AS DOUBLE) / sum(grp.n_rows), 6) AS rows_at_risk_share
      FROM grp CROSS JOIN l GROUP BY l.l ORDER BY l.l"""))
}
