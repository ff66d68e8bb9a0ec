package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 40 — ingest-engineering tier: the placement,
  * retention, and event-time-disorder decisions made when a 100-TB corpus
  * is physically laid out and streamed.
  *
  *  - p146 rendezvous (HRW) shard placement audit: each doc goes to the
  *    shard whose md5(doc, shard) hash wins over S=64 shards — the
  *    coordination-free placement scheme whose churn law (adding a shard
  *    moves only the docs the NEW shard wins, ≈ 1/(S+1)) this op verifies
  *    empirically: per shard, the load ratio and the share of its docs that
  *    shard 64's arrival would steal. The 64-way hash fan-out is map-side
  *    (explode + partial agg); no shuffle grows with S.
  *
  *  - p147 retention-policy simulation: keep the last K=5 events per user
  *    plus everything within T=7 days of the corpus watermark; report
  *    kept-by-rank / kept-by-window / evicted counts and the evicted share
  *    per event type. The user-keyed window is the partitioned, scalable
  *    shape; the policy is the standard TTL+last-K compaction rule.
  *
  *  - p148 event-time disorder (watermark) audit: with event_id as arrival
  *    order, the share of events arriving AFTER a later-timestamped event
  *    of the same (event_type, user) key, and the max/mean lateness in
  *    seconds — the number that sizes a streaming watermark for keyed
  *    state. Per-key running max over arrival order; integer-µs exact.
  *
  * Determinism: 60-bit md5 hash ranks (15 hex chars — wide enough that a
  * per-doc tie across 65 shards stays negligible at any corpus size; 32
  * bits would reach ~2% tie probability by 50k docs, and tie order is
  * engine-unspecified), integer event-time µs, DECIMAL sums, 6dp-rounded
  * shares.
  */
object PipelineQueries40 {

  /** Shard count for p146 (the churn probe adds shard id 64 = S+1'th). */
  private val Shards = 64

  val defs: Seq[QueryDef] = Seq(

    // --------------------- rendezvous-hash placement + churn (p146)
    QueryDef("p146_hrw_shards", Some(s"""
      WITH h AS (
        SELECT d.doc_id, s.range AS shard,
               CAST(('0x' || substr(md5(CAST(d.doc_id AS STRING) || '_s' ||
                     CAST(s.range AS STRING)), 1, 15)) AS BIGINT) AS hv
        FROM documents d CROSS JOIN range(0, $Shards) s),
      a AS (
        SELECT doc_id, arg_max(shard, hv) AS shard, max(hv) AS best
        FROM h GROUP BY doc_id),
      probe AS (
        SELECT a.doc_id, a.shard,
               CASE WHEN CAST(('0x' || substr(md5(CAST(a.doc_id AS STRING)
                      || '_s$Shards'), 1, 15)) AS BIGINT) > a.best
                    THEN 1 ELSE 0 END AS moves
        FROM a),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM probe)
      SELECT probe.shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             round(CAST(count(*) AS DOUBLE) * $Shards / tot.n, 6) AS load_ratio,
             CAST(sum(moves) AS BIGINT) AS moved_out,
             round(CAST(sum(moves) AS DOUBLE) / count(*), 6) AS moved_share
      FROM probe CROSS JOIN tot
      GROUP BY probe.shard, tot.n ORDER BY probe.shard""")) { (s, dir) =>
      val h = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"))
        .withColumn("shard", explode(sequence(lit(0), lit(Shards - 1))))
        .withColumn("hv", conv(substring(md5(concat(
          col("doc_id").cast("string"), lit("_s"), col("shard").cast("string"))),
          1, 15), 16, 10).cast("bigint"))
      val a = h.groupBy(col("doc_id"))
        .agg(max_by(col("shard"), col("hv")).as("shard"), max(col("hv")).as("best"))
      val probe = a.select(col("doc_id"), col("shard"),
        when(conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(s"_s$Shards"))), 1, 15), 16, 10).cast("bigint") > col("best"), 1)
          .otherwise(0).as("moves"))
      val tot = probe.agg(count(lit(1)).cast("bigint").as("n"))
      probe.crossJoin(broadcast(tot))
        .groupBy(col("shard"), col("n"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          round(count(lit(1)).cast("double") * Shards / col("n"), 6)
            .as("load_ratio"),
          sum(col("moves")).cast("bigint").as("moved_out"),
          round(sum(col("moves")).cast("double") / count(lit(1)), 6)
            .as("moved_share"))
        .select(col("shard"), col("n_docs"), col("load_ratio"),
          col("moved_out"), col("moved_share"))
        .orderBy(col("shard"))
    },

    // ----------------------- retention-policy simulation (p147)
    QueryDef.sql("p147_retention_policy", """
      WITH wm AS (SELECT max(ts) AS mx FROM events),
      r AS (
        SELECT event_type, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id) AS rk
        FROM events),
      cls AS (
        SELECT event_type,
               CASE WHEN rk <= 5 THEN 'last_k'
                    WHEN ts >= mx - INTERVAL 7 DAY THEN 'window'
                    ELSE 'evicted' END AS fate
        FROM r CROSS JOIN wm)
      SELECT event_type,
             CAST(sum(CASE WHEN fate = 'last_k' THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_last_k,
             CAST(sum(CASE WHEN fate = 'window' THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_window,
             CAST(sum(CASE WHEN fate = 'evicted' THEN 1 ELSE 0 END) AS BIGINT)
               AS evicted,
             round(CAST(sum(CASE WHEN fate = 'evicted' THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*), 6) AS evicted_share
      FROM cls GROUP BY event_type ORDER BY event_type"""),

    // ------------------ event-time disorder / watermark audit (p148)
    QueryDef("p148_watermark_audit", Some("""
      WITH o AS (
        SELECT event_type,
               CAST(epoch_us(ts) AS BIGINT) AS tus,
               max(CAST(epoch_us(ts) AS BIGINT)) OVER (
                 PARTITION BY event_type, user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_mx
        FROM events),
      l AS (
        SELECT event_type,
               CASE WHEN run_mx IS NOT NULL AND tus < run_mx THEN 1 ELSE 0 END
                 AS late,
               CASE WHEN run_mx IS NOT NULL AND tus < run_mx
                    THEN run_mx - tus ELSE 0 END AS late_us
        FROM o)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(late) AS BIGINT) AS n_late,
             round(CAST(sum(late) AS DOUBLE) / count(*), 6) AS late_share,
             CAST(floor(CAST(max(late_us) AS DOUBLE) / 1000000) AS BIGINT)
               AS max_late_sec,
             round(CASE WHEN sum(late) > 0 THEN
               CAST(sum(late_us) AS DOUBLE) / sum(late) / 1000000 END, 6)
               AS mean_late_sec
      FROM l GROUP BY event_type ORDER BY event_type""")) { (s, dir) =>
      val o = Tables.df(s, dir, "events")
        .select(col("event_type"), col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("tus"))
        .withColumn("run_mx", max(col("tus")).over(
          Window.partitionBy(col("event_type"), col("user_id"))
            .orderBy(col("event_id"))
            .rowsBetween(Window.unboundedPreceding, -1)))
      // lateness stays in integer MICROS through the aggregation (exact,
      // order-free); seconds appear only in the final rounded divisions
      val l = o.select(col("event_type"),
        when(col("run_mx").isNotNull && col("tus") < col("run_mx"), 1)
          .otherwise(0).as("late"),
        when(col("run_mx").isNotNull && col("tus") < col("run_mx"),
          col("run_mx") - col("tus")).otherwise(0L).as("late_us"))
      l.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n_events"),
          sum(col("late")).cast("bigint").as("n_late"),
          round(sum(col("late")).cast("double") / count(lit(1)), 6)
            .as("late_share"),
          floor(max(col("late_us")).cast("double") / 1000000).cast("bigint")
            .as("max_late_sec"),
          round(when(sum(col("late")) > 0,
            sum(col("late_us")).cast("double") / sum(col("late")) / 1000000), 6)
            .as("mean_late_sec"))
        .orderBy(col("event_type"))
    })
}
