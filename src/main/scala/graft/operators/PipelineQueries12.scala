package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 12 — corpus change tracking and event anomaly
  * detection:
  *
  *  - p59 snapshot diff: content-hash comparison of two corpus snapshots
  *    (entity = doc_id / 2, snapshot = doc_id % 2 — the synthetic pairing
  *    TESTDATA affords) classifying every entity as added / removed /
  *    changed / unchanged per source — the delta audit a daily ingest run
  *    publishes before promoting a snapshot.
  *  - p60 rolling z-score anomaly detection: per-user daily activity
  *    scored against the trailing 7-day window (current day excluded) —
  *    the data-quality tripwire over event streams. All rolling sums run
  *    on DECIMAL so window-frame summation order cannot produce
  *    engine-divergent floats.
  */
object PipelineQueries12 {

  /** p60: trailing window width (days) and minimum history for a score. */
  private val Trail = 7
  private val MinHist = 3
  private val ZFlag = 2.0

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------ corpus snapshot diff (p59)

    // Scale shape: content hashing is row-local (md5 — the p01 identity);
    // each snapshot collapses to (source, entity, hash) and the diff is
    // ONE entity-keyed full-outer join of the two halves (both sides
    // pre-hashed, so the join moves 32-byte digests, never text); the
    // per-source classification rollup is sources-bounded.
    QueryDef("p59_snapshot_diff", Some("""
      WITH o AS (
        SELECT source, doc_id // 2 AS entity, md5(text) AS h
        FROM documents WHERE doc_id % 2 = 0),
      n AS (
        SELECT source, doc_id // 2 AS entity, md5(text) AS h
        FROM documents WHERE doc_id % 2 = 1),
      d AS (
        -- keyed on the ENTITY alone: a matched entity may have moved
        -- source between snapshots; attribution follows the old snapshot
        -- (coalesce order), the ingest-ledger convention
        SELECT coalesce(o.source, n.source) AS source,
               CASE WHEN o.entity IS NULL THEN 'added'
                    WHEN n.entity IS NULL THEN 'removed'
                    WHEN o.h = n.h THEN 'unchanged'
                    ELSE 'changed' END AS cls
        FROM o FULL OUTER JOIN n ON o.entity = n.entity)
      SELECT source,
             CAST(sum(CASE WHEN cls = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS added,
             CAST(sum(CASE WHEN cls = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS removed,
             CAST(sum(CASE WHEN cls = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS changed,
             CAST(sum(CASE WHEN cls = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
      FROM d GROUP BY source ORDER BY source""")) { (s, dir) =>
      def snap(parity: Int) = Tables.df(s, dir, "documents")
        .filter(col("doc_id") % 2 === parity)
        .select(col("source"), (col("doc_id") / 2).cast("long").as("entity"),
          md5(col("text")).as("h"))
      val o = snap(0).withColumnRenamed("h", "ho").withColumnRenamed("source", "so")
      val n = snap(1).withColumnRenamed("h", "hn").withColumnRenamed("source", "sn")
      val d = o.join(n, Seq("entity"), "full_outer")
        .select(coalesce(col("so"), col("sn")).as("source"),
          when(col("ho").isNull, "added")
            .when(col("hn").isNull, "removed")
            .when(col("ho") === col("hn"), "unchanged")
            .otherwise("changed").as("cls"))
      d.groupBy(col("source"))
        .agg(sum(when(col("cls") === "added", 1L).otherwise(0L)).as("added"),
          sum(when(col("cls") === "removed", 1L).otherwise(0L)).as("removed"),
          sum(when(col("cls") === "changed", 1L).otherwise(0L)).as("changed"),
          sum(when(col("cls") === "unchanged", 1L).otherwise(0L)).as("unchanged"))
        .orderBy(col("source"))
    },

    // -------------------- rolling z-score anomaly detection (p60)

    // Daily per-user activity (decimal-grid day totals — order-independent)
    // scored against the trailing Trail-day mean/std with the CURRENT day
    // excluded (an anomaly must not mask itself). Rolling sum and
    // sum-of-squares run as DECIMAL window aggregates — exact arithmetic,
    // so the frame's internal summation order (segment tree vs streaming)
    // cannot diverge between engines; mean/variance/sqrt then operate on
    // identical doubles.
    //
    // Scale shape: the day collapse is one (user, day) partial-agg shuffle;
    // the rolling window orders each user's DAYS (span-bounded, streaming
    // ROWS frame with O(1) aggregate state); output is user-day-sized.
    QueryDef.sql("p60_rolling_zscore", s"""
      WITH d AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value, 9) AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS v
        FROM events GROUP BY user_id, CAST(ts AS DATE)),
      w AS (
        SELECT user_id, day, v,
               sum(v) OVER tw AS s1,
               sum(v * v) OVER tw AS s2,
               count(*) OVER tw AS n
        FROM d
        WINDOW tw AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN $Trail PRECEDING AND 1 PRECEDING)),
      z AS (
        SELECT user_id, day, CAST(v AS DOUBLE) AS v_day, n,
               CASE WHEN n >= $MinHist THEN
                 (CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                 / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                        / (n - 1))
               END AS zs
        FROM w)
      SELECT user_id, day, round(v_day, 6) AS v_day,
             CAST(n AS BIGINT) AS hist_days,
             round(zs, 6) AS z,
             coalesce(abs(zs) > $ZFlag, false) AS anomaly
      FROM z ORDER BY user_id, day""")
  )
}
