package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Functions, QueryDef, Tables}

/** Pipeline coverage batch 45 — sampling, held-out evaluation, Hamming
  * near-dup, fold assignment, and time-series monitoring:
  *
  *  - p167 deterministic bottom-k sample: the distributed "reservoir" that
  *    actually scales — rank every doc by md5(doc_id) and keep the k
  *    smallest (mergeable: each split ships its local bottom-k,
  *    TakeOrdered merges), audited for per-source representation against
  *    corpus shares. Hash ranks make the sample reproducible across runs
  *    and engines, the property seed-based reservoirs lose under
  *    repartitioning.
  *
  *  - p168 held-out perplexity: unigram LM trained on the even-doc_id
  *    half, evaluated on the odd half with add-0.5 smoothing and an OOV
  *    bucket — the contamination-free eval split p25/p37 (in-corpus LMs)
  *    deliberately don't do. Two hash aggregations + a broadcast scalar;
  *    ln terms 9dp-rounded DECIMAL sums.
  *
  *  - p169 simhash Hamming near-dup: a 60-bit simhash (p03's kernel
  *    widened — 60 is the widest md5-hex prefix that stays inside a
  *    signed BIGINT on both engines), banded into 4×15-bit keys — by
  *    pigeonhole any pair within Hamming distance 3 agrees on at least
  *    one band, so band-equality joins yield a complete candidate set
  *    without all-pairs; candidates verified by bit_count(xor). 15-bit
  *    bands matter at scale: the first cut used 8-bit bands (256 buckets)
  *    and measured 21.8× at the 10× synth — quadratic bucket occupancy;
  *    32k buckets per band restore near-linear candidate volume.
  *
  *  - p170 stratified k-fold assignment: folds dealt round-robin in
  *    md5-rank order WITHIN each (lang, length-class) stratum —
  *    deterministic, leakage-free, and balanced by construction; the
  *    audit reports each fold's worst per-stratum share deviation from
  *    1/k. Rank windows are stratum-partitioned (partition-local sort).
  *
  *  - p171 Fano-factor burstiness: variance-to-mean ratio of per-minute
  *    event counts per event type (Fano = 1 is Poisson; > 1 bursty) over
  *    OCCUPIED minutes — the monitoring complement of p93's seasonality
  *    and p150's CUSUM. Integer sufficient sums only.
  *
  *  - p172 weekly quantile-band drift: per-week exact P10/P50/P90 of the
  *    event value (ExactPercentile one-level — the 2-decimal domain is
  *    bounded) with a >10% week-over-week P50 band-crossing flag — the
  *    quantile-band sibling of p154's PSI.
  *
  * Determinism: md5 ranks, integer/DECIMAL sufficient sums, 9dp-rounded
  * ln terms, exact type-7 quantiles, outputs rounded 4–6dp.
  */
object PipelineQueries45 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- deterministic bottom-k sample (p167)
    QueryDef.sql("p167_bottomk_sample", """
      WITH r AS (
        SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS rk
        FROM documents),
      k AS (SELECT * FROM r ORDER BY rk, doc_id LIMIT 500),
      src AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source),
      samp AS (SELECT source, count(*) AS n_sample FROM k GROUP BY source),
      tot AS (SELECT sum(n_total) AS t FROM src)
      SELECT s.source AS source, CAST(n_total AS BIGINT) AS n_total,
             CAST(coalesce(n_sample, 0) AS BIGINT) AS n_sample,
             round(CAST(coalesce(n_sample, 0) AS DOUBLE) / 500, 6) AS sample_share,
             round(CAST(n_total AS DOUBLE) / t, 6) AS corpus_share
      FROM src s LEFT JOIN samp ON samp.source = s.source, tot
      ORDER BY source"""),

    // --------------------- held-out perplexity (p168)
    QueryDef("p168_heldout_perplexity", Some("""
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk
        FROM documents),
      tr AS (SELECT unnest(tk) AS w FROM t WHERE doc_id % 2 = 0),
      cw AS (SELECT w, count(*) AS c FROM tr GROUP BY w),
      tot AS (SELECT (SELECT count(*) FROM tr) AS tt,
                     (SELECT count(*) FROM cw) AS v),
      ho AS (SELECT unnest(tk) AS w FROM t WHERE doc_id % 2 = 1),
      sc AS (
        SELECT CAST(round(ln((coalesce(c, 0) + 0.5)
                 / (tt + 0.5 * (v + 1))), 9) AS DECIMAL(38,9)) AS lp,
               CASE WHEN c IS NULL THEN 1 ELSE 0 END AS oov
        FROM ho LEFT JOIN cw ON ho.w = cw.w, tot)
      SELECT (SELECT CAST(tt AS BIGINT) FROM tot) AS train_tokens,
             CAST(count(*) AS BIGINT) AS heldout_tokens,
             (SELECT CAST(v AS BIGINT) FROM tot) AS vocab,
             round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate,
             round(exp(-CAST(sum(lp) AS DOUBLE) / count(*)), 4) AS ppl
      FROM sc""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("tk"))
      val tr = t.filter(col("doc_id") % 2 === 0).select(explode(col("tk")).as("w"))
      val cw = tr.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = tr.agg(count(lit(1)).as("tt"))
        .crossJoin(cw.agg(count(lit(1)).as("v")))
      val ho = t.filter(col("doc_id") % 2 === 1).select(explode(col("tk")).as("w"))
      val sc = ho.join(cw, Seq("w"), "left").crossJoin(broadcast(tot))
        .select(
          Kit.rdec(log((coalesce(col("c"), lit(0L)) + 0.5) /
            (col("tt") + lit(0.5) * (col("v") + 1))), 9).as("lp"),
          when(col("c").isNull, 1L).otherwise(0L).as("oov"),
          col("tt"), col("v"))
      sc.groupBy(col("tt"), col("v"))
        .agg(count(lit(1)).as("heldout_tokens"),
          round(sum(col("oov")).cast("double") / count(lit(1)), 6).as("oov_rate"),
          round(exp(-sum(col("lp")).cast("double") / count(lit(1))), 4).as("ppl"))
        .select(col("tt").cast("long").as("train_tokens"),
          col("heldout_tokens"), col("v").cast("long").as("vocab"),
          col("oov_rate"), col("ppl"))
    },

    // --------------------- simhash Hamming near-dup (p169)
    QueryDef("p169_simhash_hamming", Some("""
      WITH th AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents) t),
      bits AS (
        SELECT doc_id, b.bit,
               sum(CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END) AS vote
        FROM th, range(0, 60) b(bit)
        GROUP BY doc_id, b.bit),
      sh AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                 AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id),
      bands AS (
        SELECT doc_id, simhash, b.band,
               (simhash >> (b.band * 15)) & 32767 AS key
        FROM sh, range(0, 4) b(band)),
      cand AS (
        SELECT DISTINCT a.doc_id AS da, a.simhash AS ha,
                        b.doc_id AS db, b.simhash AS hb
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
      ver AS (
        SELECT bit_count(xor(ha, hb)) AS dist FROM cand
        WHERE bit_count(xor(ha, hb)) <= 3)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
             CAST(sum(CASE WHEN dist = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             CAST(sum(CASE WHEN dist = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
             CAST(sum(CASE WHEN dist = 3 THEN 1 ELSE 0 END) AS BIGINT) AS d3
      FROM ver""")) { (s, dir) =>
      val sh = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Functions.simhash60(Kit.words(col("text"))).as("simhash"))
      val bands = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("key",
          expr("shiftright(simhash, band * 15)").bitwiseAND(32767))
      val a = bands.alias("a")
      val b = bands.alias("b")
      val cand = a.join(b, col("a.band") === col("b.band") &&
          col("a.key") === col("b.key") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("a.simhash").as("ha"),
          col("b.doc_id").as("db"), col("b.simhash").as("hb"))
        .distinct()
      val dist = bit_count(col("ha").bitwiseXOR(col("hb")))
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      cand.filter(dist <= 3)
        .select(dist.as("dist"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("dist") === 0, 1L).otherwise(0L)).as("d0"),
          sum(when(col("dist") === 1, 1L).otherwise(0L)).as("d1"),
          sum(when(col("dist") === 2, 1L).otherwise(0L)).as("d2"),
          sum(when(col("dist") === 3, 1L).otherwise(0L)).as("d3"))
        .crossJoin(broadcast(nCand))
        .select(col("n_candidates"), col("n_pairs"),
          col("d0"), col("d1"), col("d2"), col("d3"))
    },

    // --------------------- stratified k-fold assignment (p170)
    QueryDef.sql("p170_stratified_kfold", """
      WITH d AS (
        SELECT doc_id, lang,
               CASE WHEN n_chars < 200 THEN 'S'
                    WHEN n_chars < 400 THEN 'M' ELSE 'L' END AS qb
        FROM documents),
      r AS (
        SELECT doc_id, lang, qb,
               row_number() OVER (PARTITION BY lang, qb
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM d),
      f AS (SELECT lang, qb, (rk - 1) % 5 AS fold FROM r),
      cnt AS (SELECT fold, lang, qb, count(*) AS n FROM f GROUP BY fold, lang, qb),
      tot AS (SELECT lang, qb, sum(n) AS t FROM cnt GROUP BY lang, qb)
      SELECT CAST(fold AS BIGINT) AS fold, CAST(sum(n) AS BIGINT) AS n_docs,
             round(max(abs(CAST(n AS DOUBLE) / t - 0.2)), 6) AS max_stratum_dev
      FROM cnt JOIN tot ON cnt.lang = tot.lang AND cnt.qb = tot.qb
      GROUP BY fold ORDER BY fold"""),

    // --------------------- Fano-factor burstiness (p171)
    QueryDef("p171_fano_burstiness", Some("""
      WITH m AS (
        SELECT event_type, date_trunc('minute', ts) AS mn, count(*) AS c
        FROM events GROUP BY event_type, date_trunc('minute', ts)),
      agg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_minutes,
               CAST(sum(c) AS BIGINT) AS n_events,
               CAST(sum(c * c) AS BIGINT) AS s2
        FROM m GROUP BY event_type)
      SELECT event_type, n_minutes, n_events,
             round(CAST(n_events AS DOUBLE) / n_minutes, 6) AS mean_per_min,
             round((CAST(s2 AS DOUBLE) / n_minutes
               - (CAST(n_events AS DOUBLE) / n_minutes)
                 * (CAST(n_events AS DOUBLE) / n_minutes))
               / (CAST(n_events AS DOUBLE) / n_minutes), 6) AS fano
      FROM agg ORDER BY event_type""")) { (s, dir) =>
      val m = Tables.df(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("minute", col("ts")).as("mn"))
        .agg(count(lit(1)).as("c"))
      val mean = col("n_events").cast("double") / col("n_minutes")
      m.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_minutes"),
          sum(col("c")).as("n_events"),
          sum(col("c") * col("c")).as("s2"))
        .select(col("event_type"), col("n_minutes"), col("n_events"),
          round(mean, 6).as("mean_per_min"),
          round((col("s2").cast("double") / col("n_minutes") - mean * mean)
            / mean, 6).as("fano"))
        .orderBy(col("event_type"))
    },

    // --------------------- weekly quantile-band drift (p172)
    QueryDef("p172_quantile_band_drift", Some("""
      WITH w AS (
        SELECT CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7.0)
                 AS BIGINT) AS wk,
               value
        FROM events),
      q AS (
        SELECT wk, quantile_cont(value, 0.1) AS p10,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.9) AS p90
        FROM w GROUP BY wk),
      l AS (
        SELECT wk, p10, p50, p90,
               lag(p50) OVER (ORDER BY wk) AS prev50
        FROM q)
      SELECT wk, round(p10, 4) AS p10, round(p50, 4) AS p50,
             round(p90, 4) AS p90,
             CASE WHEN prev50 IS NOT NULL
                    AND abs(p50 - prev50) > 0.1 * abs(prev50)
                  THEN 1 ELSE 0 END AS drift_flag
      FROM l ORDER BY wk""")) { (s, dir) =>
      val w = Tables.df(s, dir, "events").select(
        floor(datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
          / 7.0).cast("long").as("wk"),
        col("value"))
      val q = ExactPercentile.percentiles(w, "wk", col("value"),
        Seq(0.1 -> "p10", 0.5 -> "p50", 0.9 -> "p90"))
      val byWk = Window.orderBy(col("wk"))
      q.withColumn("prev50", lag(col("p50"), 1).over(byWk))
        .select(col("wk"), round(col("p10"), 4).as("p10"),
          round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"),
          when(col("prev50").isNotNull &&
            abs(col("p50") - col("prev50")) > lit(0.1) * abs(col("prev50")), 1)
            .otherwise(0).as("drift_flag"))
        .orderBy(col("wk"))
    }
  )
}
