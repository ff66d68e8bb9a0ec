package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 44 — audio fingerprinting, distribution
  * distance, ingest-boundary dedup, tail modeling, and integrity/session
  * audits:
  *
  *  - p161 audio landmark-fingerprint dedup: the audio sibling of p33's
  *    perceptual image dedup. Each document carries a synthetic PCM clip
  *    (seed = doc_id % 32, three duration variants — the container has no
  *    audio decoder, so the decode step is the documented deterministic
  *    stub) and the REAL pipeline runs downstream: per-partition framing →
  *    energy contour → local-maxima landmarks → constellation fingerprint
  *    (Multimodal.AudioCodec) → hash-groupBy dedup. Fingerprints are
  *    computed over the duration-invariant prefix, so variants of one
  *    recording collide exactly; the oracle asserts the seed-group
  *    structure the generator guarantees.
  *
  *  - p162 Cramér–von Mises two-sample distance between the click and view
  *    value distributions — the integral-ECDF complement of p140's KS max
  *    statistic (CvM weights the WHOLE curve, catching spread/shape drift
  *    a single supremum misses). Computed on the bounded distinct-value
  *    frame: one hash aggregation to (value, cx, cy), cumulative counts by
  *    window, per-value term rounded 9dp into a DECIMAL sum.
  *
  *  - p163 chunk-boundary dedup audit: 8-token head/tail rolling hashes
  *    joined head↔head, tail↔tail, and head↔tail — the ingest check for
  *    re-chunked/overlapping document splits (a head↔tail hit means one
  *    doc continues another; head↔head means shared boilerplate or a
  *    straight dup). Hash-equality joins only; pair counts per category.
  *
  *  - p164 Hill tail-index estimator over the top-200 event values
  *    (alpha = k / sum ln(x_i/x_ref)) with its asymptotic standard error —
  *    the heavy-tail exponent a pipeline fits before choosing clip/cap
  *    thresholds. Top-(k+1) is a TakeOrdered frame; ln terms 9dp-rounded
  *    DECIMAL sums; tie-sets at the cutoff are value-identical, so the
  *    selection is deterministic.
  *
  *  - p165 referential-integrity audit across the TPC-H graph: orphaned
  *    foreign keys (orders→customer, lineitem→orders/part/supplier) via
  *    anti-joins plus primary-key uniqueness checks — the relational DQ
  *    pass an ingest runs before accepting a drop. Every check is one
  *    anti-join or one distinct-count, shuffle-bounded by the key column.
  *
  *  - p166 sessionization gap sensitivity: session counts and mean events
  *    per session at 5/15/30/60-minute inactivity gaps, all four read off
  *    ONE lag pass (per-user partition-local sort window + conditional
  *    sums) — the tuning sweep behind p14's fixed-gap sessionizer.
  *
  * Determinism: integer counts and DECIMAL sufficient sums throughout;
  * libm ln terms rounded 9dp per row; fingerprints are StrictMath-pinned;
  * outputs rounded 4–6dp.
  */
object PipelineQueries44 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- audio landmark-fingerprint dedup (p161)
    QueryDef("p161_audio_fingerprint_dedup", Some("""
      SELECT CAST(min(doc_id) AS BIGINT) AS rep_id,
             CAST(count(*) AS BIGINT) AS n_clips,
             CAST(count(DISTINCT doc_id % 3) AS BIGINT) AS n_durations
      FROM documents GROUP BY doc_id % 32 HAVING count(*) > 1
      ORDER BY rep_id""")) { (s, dir) =>
      import s.implicits._
      val clips = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 32).cast("int").as("seed"),
          ((lit(32) + (col("doc_id") % 3).cast("int") * 16) * 256).as("n_samples"))
        .as[(Long, Int, Int)]
      val printed = clips.mapPartitions { it =>
        it.map { case (docId, seed, n) =>
          val pcm = Multimodal.AudioCodec.syntheticPcm(n, seed)
          (docId, n, Multimodal.AudioCodec.fingerprint(pcm))
        }
      }.toDF("doc_id", "n_samples", "fp")
      printed.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("rep_id"),
          count(lit(1)).as("n_clips"),
          count_distinct(col("n_samples")).as("n_durations"))
        .filter(col("n_clips") > 1)
        .select(col("rep_id"), col("n_clips"), col("n_durations"))
        .orderBy(col("rep_id"))
    },

    // --------------------- Cramér–von Mises two-sample (p162)
    QueryDef.sql("p162_cvm_two_sample", """
      WITH vv AS (
        SELECT value AS v,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cx,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cy
        FROM events WHERE event_type IN ('click', 'view') GROUP BY value),
      cum AS (
        SELECT v, cx, cy, cx + cy AS t,
               sum(cx) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumx,
               sum(cy) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumy
        FROM vv),
      tot AS (SELECT CAST(sum(cx) AS BIGINT) AS n, CAST(sum(cy) AS BIGINT) AS m FROM vv),
      terms AS (
        SELECT CAST(round(t * (CAST(cumx AS DOUBLE) / n - CAST(cumy AS DOUBLE) / m)
                 * (CAST(cumx AS DOUBLE) / n - CAST(cumy AS DOUBLE) / m), 9)
               AS DECIMAL(38,9)) AS term
        FROM cum, tot)
      SELECT n, m,
             round(CAST(n AS DOUBLE) * m / ((n + m) * CAST(n + m AS DOUBLE))
               * CAST(sum(term) AS DOUBLE), 6) AS cvm_t
      FROM terms, tot GROUP BY n, m"""),

    // --------------------- chunk-boundary dedup audit (p163)
    QueryDef("p163_chunk_boundary_audit", Some("""
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk
        FROM documents),
      hs AS (
        SELECT doc_id,
               md5(array_to_string(tk[1:8], ' ')) AS head_h,
               md5(array_to_string(tk[len(tk)-7:len(tk)], ' ')) AS tail_h
        FROM t WHERE len(tk) >= 16),
      cat AS (
        SELECT 'head_head' AS category, a.doc_id AS da, b.doc_id AS db
        FROM hs a JOIN hs b ON a.head_h = b.head_h AND a.doc_id < b.doc_id
        UNION ALL
        SELECT 'tail_tail' AS category, a.doc_id AS da, b.doc_id AS db
        FROM hs a JOIN hs b ON a.tail_h = b.tail_h AND a.doc_id < b.doc_id
        UNION ALL
        SELECT 'head_tail' AS category, a.doc_id AS da, b.doc_id AS db
        FROM hs a JOIN hs b ON a.tail_h = b.head_h AND a.doc_id <> b.doc_id)
      SELECT category, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(count(DISTINCT da) AS BIGINT) AS n_docs_left
      FROM cat GROUP BY category ORDER BY category""")) { (s, dir) =>
      val t = Tables.df(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("tk"))
        .filter(size(col("tk")) >= 16)
      val hs = t.select(col("doc_id"),
        md5(array_join(slice(col("tk"), 1, 8), " ")).as("head_h"),
        md5(array_join(slice(col("tk"), -8, 8), " ")).as("tail_h"))
      val a = hs.alias("a")
      val b = hs.alias("b")
      def pairs(cond: Column, category: String) =
        a.join(b, cond)
          .select(lit(category).as("category"),
            col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      val cat = pairs(col("a.head_h") === col("b.head_h")
          && col("a.doc_id") < col("b.doc_id"), "head_head")
        .unionAll(pairs(col("a.tail_h") === col("b.tail_h")
          && col("a.doc_id") < col("b.doc_id"), "tail_tail"))
        .unionAll(pairs(col("a.tail_h") === col("b.head_h")
          && col("a.doc_id") =!= col("b.doc_id"), "head_tail"))
      cat.groupBy(col("category"))
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("da")).as("n_docs_left"))
        .orderBy(col("category"))
    },

    // --------------------- Hill tail-index estimator (p164)
    QueryDef("p164_hill_tail_index", Some("""
      WITH topk AS (
        SELECT value AS v FROM events ORDER BY value DESC LIMIT 201),
      ref AS (SELECT min(v) AS xref FROM topk),
      terms AS (
        SELECT CAST(round(ln(v / xref), 9) AS DECIMAL(38,9)) AS term
        FROM topk, ref WHERE v > xref),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(term) AS DOUBLE) AS s
        FROM terms)
      SELECT k, round((SELECT xref FROM ref), 4) AS x_ref,
             round(CAST(k AS DOUBLE) / s, 6) AS alpha,
             round(CAST(k AS DOUBLE) / s / sqrt(CAST(k AS DOUBLE)), 6) AS se
      FROM agg""")) { (s, dir) =>
      val topk = Tables.df(s, dir, "events")
        .select(col("value").as("v"))
        .orderBy(col("v").desc).limit(201)
      val ref = topk.agg(min(col("v")).as("xref"))
      val agg = topk.crossJoin(broadcast(ref))
        .filter(col("v") > col("xref"))
        .select(Kit.rdec(log(col("v") / col("xref")), 9).as("term"), col("xref"))
        .agg(count(lit(1)).as("k"), sum(col("term")).cast("double").as("s"),
          min(col("xref")).as("xref"))
      agg.select(col("k"), round(col("xref"), 4).as("x_ref"),
        round(col("k").cast("double") / col("s"), 6).as("alpha"),
        round(col("k").cast("double") / col("s") /
          sqrt(col("k").cast("double")), 6).as("se"))
    },

    // --------------------- referential-integrity audit (p165)
    QueryDef("p165_referential_integrity", Some("""
      SELECT 'fk_lineitem_orders' AS chk,
             (SELECT count(*) FROM lineitem) AS n_total,
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey)) AS n_bad
      UNION ALL
      SELECT 'fk_lineitem_part',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = l.l_partkey))
      UNION ALL
      SELECT 'fk_lineitem_supplier',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM supplier s
                                WHERE s.s_suppkey = l.l_suppkey))
      UNION ALL
      SELECT 'fk_orders_customer',
             (SELECT count(*) FROM orders),
             (SELECT count(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'pk_lineitem',
             (SELECT count(*) FROM lineitem),
             (SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber))
              FROM lineitem)
      UNION ALL
      SELECT 'pk_orders',
             (SELECT count(*) FROM orders),
             (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
      ORDER BY chk""")) { (s, dir) =>
      def tbl(n: String) = Tables.df(s, dir, n)
      def fk(chk: String, fact: String, factKey: String,
          dim: String, dimKey: String) = {
        val total = tbl(fact).agg(count(lit(1)).as("n_total"))
        val bad = tbl(fact)
          .join(tbl(dim), col(factKey) === col(dimKey), "left_anti")
          .agg(count(lit(1)).as("n_bad"))
        total.crossJoin(bad).select(lit(chk).as("chk"), col("n_total"), col("n_bad"))
      }
      val pkLi = tbl("lineitem").agg(count(lit(1)).as("n_total"),
        (count(lit(1)) - count_distinct(struct(col("l_orderkey"),
          col("l_linenumber")))).as("n_bad"))
        .select(lit("pk_lineitem").as("chk"), col("n_total"), col("n_bad"))
      val pkO = tbl("orders").agg(count(lit(1)).as("n_total"),
        (count(lit(1)) - count_distinct(col("o_orderkey"))).as("n_bad"))
        .select(lit("pk_orders").as("chk"), col("n_total"), col("n_bad"))
      fk("fk_lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey")
        .unionAll(fk("fk_lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"))
        .unionAll(fk("fk_lineitem_supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"))
        .unionAll(fk("fk_orders_customer", "orders", "o_custkey",
          "customer", "c_custkey"))
        .unionAll(pkLi)
        .unionAll(pkO)
        .orderBy(col("chk"))
    },

    // --------------------- sessionization gap sensitivity (p166)
    QueryDef("p166_session_gap_sweep", Some("""
      WITH d AS (
        SELECT user_id,
               date_diff('microsecond',
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                 ts) AS gap_us
        FROM events),
      agg AS (
        SELECT count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               sum(CASE WHEN gap_us > CAST(300 AS BIGINT) * 1000000 THEN 1 ELSE 0 END) AS b300,
               sum(CASE WHEN gap_us > CAST(900 AS BIGINT) * 1000000 THEN 1 ELSE 0 END) AS b900,
               sum(CASE WHEN gap_us > CAST(1800 AS BIGINT) * 1000000 THEN 1 ELSE 0 END) AS b1800,
               sum(CASE WHEN gap_us > CAST(3600 AS BIGINT) * 1000000 THEN 1 ELSE 0 END) AS b3600
        FROM d)
      SELECT gap_s, n_sessions,
             round(CAST(n_events AS DOUBLE) / n_sessions, 4) AS avg_events
      FROM (
        SELECT CAST(300 AS BIGINT) AS gap_s,
               CAST(n_users + b300 AS BIGINT) AS n_sessions, n_events FROM agg
        UNION ALL SELECT 900, CAST(n_users + b900 AS BIGINT), n_events FROM agg
        UNION ALL SELECT 1800, CAST(n_users + b1800 AS BIGINT), n_events FROM agg
        UNION ALL SELECT 3600, CAST(n_users + b3600 AS BIGINT), n_events FROM agg) u
      ORDER BY gap_s""")) { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val d = Tables.df(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("gap_us", expr("timestampdiff(MICROSECOND, prev_ts, ts)"))
      val agg = d.agg(
        count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        sum(when(col("gap_us") > 300L * 1000000, 1L).otherwise(0L)).as("b300"),
        sum(when(col("gap_us") > 900L * 1000000, 1L).otherwise(0L)).as("b900"),
        sum(when(col("gap_us") > 1800L * 1000000, 1L).otherwise(0L)).as("b1800"),
        sum(when(col("gap_us") > 3600L * 1000000, 1L).otherwise(0L)).as("b3600"))
      val rows = Seq(300L -> "b300", 900L -> "b900", 1800L -> "b1800",
        3600L -> "b3600").map { case (g, c) =>
        agg.select(lit(g).as("gap_s"),
          (col("n_users") + col(c)).as("n_sessions"),
          round(col("n_events").cast("double") /
            (col("n_users") + col(c)), 4).as("avg_events"))
      }
      rows.reduce(_.unionAll(_)).orderBy(col("gap_s"))
    }
  )
}
