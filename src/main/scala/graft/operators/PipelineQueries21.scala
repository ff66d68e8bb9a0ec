package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 21 — dedup operations telemetry and temporal
  * corpus profiling:
  *
  *  - p92 dup arrival-distance profile: how far apart (in ingest order)
  *    the members of near-dup pairs arrive — the statistic that sizes how
  *    deep an incremental dedup (p84) must keep its snapshot bands before
  *    older content stops mattering.
  *  - p93 event seasonality: hour-of-day profile per event type with a
  *    chi-square statistic against the uniform clock — the temporal-mix
  *    diagnostic that catches bot traffic and ingestion gaps.
  *  - p94 cross-source duplication matrix: which sources copy from which —
  *    near-dup pairs attributed to their (source, source) cell, the
  *    provenance table a licensing/attribution review reads.
  */
object PipelineQueries21 {

  val defs: Seq[QueryDef] = Seq(

    // ---------------- dup arrival-distance profile (p92)

    // Distance buckets use exact bit-length (length(bin(d))-1 =
    // floor(log2 d), integer ops — the p90 discipline), so both engines
    // bucket identically. Scale shape: the LSH pair set (p02's per-bucket
    // row-local emission) is the only corpus-sized work; the profile is a
    // ≤64-row rollup.
    QueryDef("p92_dup_distance_profile", Some(s"""
      WITH ${PipelineQueries3.pairsCte}
      SELECT CAST(length(bin(doc_b - doc_a)) - 1 AS INTEGER) AS dist_bucket,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(min(doc_b - doc_a) AS BIGINT) AS min_dist,
             CAST(max(doc_b - doc_a) AS BIGINT) AS max_dist
      FROM pairs GROUP BY 1 ORDER BY dist_bucket""")) { (s, dir) =>
      Kit.minhashPairs(s, dir)
        .select((col("doc_b") - col("doc_a")).as("d"))
        .groupBy((length(bin(col("d"))) - 1).cast("int").as("dist_bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("d")).as("min_dist"), max(col("d")).as("max_dist"))
        .orderBy(col("dist_bucket"))
    },

    // -------------------- event seasonality (p93)

    // One (type, hour)-keyed reduce (≤ types×24 cells); chi-square adds
    // per-cell (o-e)²/e terms rounded to a DECIMAL grid BEFORE the sum so
    // the statistic is order-independent; the peak hour is a deterministic
    // (count desc, hour) argmax via window over the tiny cell frame.
    QueryDef("p93_event_seasonality", Some("""
      WITH c AS (
        SELECT event_type, CAST(extract(hour FROM ts) AS INTEGER) AS h, count(*) AS o
        FROM events GROUP BY 1, 2),
      t AS (SELECT event_type, sum(o) AS n FROM c GROUP BY event_type),
      x AS (
        SELECT c.event_type, c.h, c.o, t.n,
               CAST(round((c.o - t.n / 24.0) * (c.o - t.n / 24.0) / (t.n / 24.0), 6)
                    AS DECIMAL(38,6)) AS cell,
               row_number() OVER (PARTITION BY c.event_type
                                  ORDER BY c.o DESC, c.h) AS rk
        FROM c JOIN t USING (event_type))
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(sum(cell) AS DOUBLE) AS chi2,
             CAST(max(CASE WHEN rk = 1 THEN h END) AS INTEGER) AS peak_hour,
             round(CAST(max(CASE WHEN rk = 1 THEN o END) AS DOUBLE) / max(n), 6) AS peak_share
      FROM x GROUP BY event_type ORDER BY event_type""")) { (s, dir) =>
      val c = Tables.df(s, dir, "events")
        .groupBy(col("event_type"), hour(col("ts")).cast("int").as("h"))
        .agg(count(lit(1)).as("o"))
      val t = c.groupBy(col("event_type")).agg(sum(col("o")).as("n"))
      val e = col("n") / 24.0
      val x = c.join(t, "event_type")
        .withColumn("cell",
          Kit.rdec((col("o") - e) * (col("o") - e) / e, 6))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("o").desc, col("h"))))
      x.groupBy(col("event_type"))
        .agg(max(col("n")).as("n_events"),
          count(lit(1)).as("n_hours"),
          sum(col("cell")).cast("double").as("chi2"),
          max(when(col("rk") === 1, col("h"))).cast("int").as("peak_hour"),
          round(max(when(col("rk") === 1, col("o"))).cast("double") / max(col("n")), 6)
            .as("peak_share"))
        .orderBy(col("event_type"))
    },

    // --------------- cross-source duplication matrix (p94)

    // The pair set joins back to the ≤~30-byte (doc_id, source) frame
    // twice — keyed joins moving ids, never text — and the matrix itself
    // is bounded by sources². Cell keys are order-normalized
    // (least/greatest) so A→B and B→A collapse.
    QueryDef("p94_cross_source_dup_matrix", Some(s"""
      WITH ${PipelineQueries3.pairsCte},
      src AS (SELECT doc_id, source FROM documents)
      SELECT least(a.source, b.source) AS src_a,
             greatest(a.source, b.source) AS src_b,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT p.doc_a) AS BIGINT) AS n_left_docs
      FROM pairs p
      JOIN src a ON a.doc_id = p.doc_a
      JOIN src b ON b.doc_id = p.doc_b
      GROUP BY 1, 2 ORDER BY src_a, src_b""")) { (s, dir) =>
      val src = Tables.df(s, dir, "documents").select(col("doc_id"), col("source"))
      Kit.minhashPairs(s, dir)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .groupBy(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("doc_a")).as("n_left_docs"))
        .orderBy(col("src_a"), col("src_b"))
    }
  )
}
