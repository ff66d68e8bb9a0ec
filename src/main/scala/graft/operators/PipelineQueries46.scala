package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 46 — change history, sampling distributions,
  * planner-style estimation, and join prefiltering:
  *
  *  - p173 SCD2 change history: each user's event-type stream becomes
  *    slowly-changing-dimension type-2 versions (a new version whenever
  *    the type changes under ts/event_id order); reported as the
  *    versions-per-user histogram — the compaction-planning profile of a
  *    CDC ingest. One per-user lag window (partition-local sort).
  *
  *  - p174 negative-sampling table: word2vec's unigram^0.75 proposal
  *    distribution over the corpus vocabulary, reported for the top-20
  *    words with cumulative mass. x^0.75 is computed as
  *    sqrt(sqrt(x^3)) — integer cube then two IEEE-exact square roots —
  *    because pow() with a fractional exponent is libm-variant across
  *    engines while sqrt is correctly-rounded everywhere.
  *
  *  - p175 join-size estimation: the planner's cardinality question —
  *    exact |A ⋈ B| from per-key count products vs a 1/16 hash-sampled
  *    key estimate scaled back up, with relative error. Per-key count
  *    tables are partial-agg bounded (the derived key domain is 1,000);
  *    the sampled estimator is the shape AQE-style planners use when the
  *    key domain ISN'T bounded.
  *
  *  - p176 compression-proxy profile: per-source character-unigram
  *    entropy (the order-0 entropy-coding bound) as bits/char, with the
  *    implied compression ratio vs 8-bit chars — the cheap curation
  *    signal for near-random vs highly templated sources. Char counts
  *    collapse to a (source, char) frame that is alphabet-bounded.
  *
  *  - p177 blocking-recall audit: ground-truth duplicate pairs (same
  *    50-char lowered prefix) vs the (lang, length-bucket) blocking used
  *    by the contrastive/ER stages — the fraction of true pairs the
  *    blocking keeps is THE recall number an entity-resolution pipeline
  *    must publish before trusting its candidate generation. Pure
  *    group-size arithmetic (sum C(m,2)) — no pair materialization.
  *
  *  - p178 Bloom join-prefilter audit: a 4096-bit/3-hash Bloom of the
  *    urgent orders' keys (p119's deterministic md5 bit machinery)
  *    probed by every lineitem row — rows passing vs the exact semijoin,
  *    false-pass overshoot, and the implied scan reduction: the runtime
  *    row-filter number that decides whether a 100 TB join wants a bloom
  *    pushed to its probe side.
  *
  * Determinism: md5-derived hashes and bits, integer/DECIMAL sums,
  * sqrt-only fractional powers, 9dp-rounded ln terms, outputs 4–6dp.
  */
object PipelineQueries46 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- SCD2 change history (p173)
    QueryDef("p173_scd2_history", Some("""
      WITH o AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS prev
        FROM events),
      v AS (
        SELECT user_id,
               1 + sum(CASE WHEN prev IS NOT NULL AND event_type <> prev
                            THEN 1 ELSE 0 END) AS n_versions
        FROM o GROUP BY user_id),
      h AS (
        SELECT least(CAST(floor(n_versions / 10.0) AS BIGINT), 9) AS bucket,
               count(*) AS n_users, sum(n_versions) AS versions
        FROM v GROUP BY 1)
      SELECT bucket, CAST(n_users AS BIGINT) AS n_users,
             CAST(versions AS BIGINT) AS versions
      FROM h ORDER BY bucket""")) { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val v = Tables.df(s, dir, "events")
        .withColumn("prev", lag(col("event_type"), 1).over(byUser))
        .groupBy(col("user_id"))
        .agg((lit(1) + sum(when(col("prev").isNotNull &&
          col("event_type") =!= col("prev"), 1L).otherwise(0L))).as("n_versions"))
      v.groupBy(least(floor(col("n_versions") / 10.0).cast("long"), lit(9L)).as("bucket"))
        .agg(count(lit(1)).as("n_users"), sum(col("n_versions")).as("versions"))
        .orderBy(col("bucket"))
    },

    // --------------------- negative-sampling distribution (p174)
    QueryDef("p174_negative_sampling", Some("""
      WITH w AS (
        SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents),
      c AS (SELECT w, count(*) AS c FROM w GROUP BY w),
      p AS (
        SELECT w, c,
               CAST(round(sqrt(sqrt(CAST(c AS DOUBLE) * c * c)), 6)
                 AS DECIMAL(38,6)) AS wt
        FROM c),
      tot AS (SELECT CAST(sum(wt) AS DECIMAL(38,6)) AS tw FROM p),
      top AS (
        SELECT w, c, wt FROM p ORDER BY c DESC, w LIMIT 20)
      SELECT w AS word, CAST(c AS BIGINT) AS cnt,
             round(CAST(wt AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS share,
             round(CAST(sum(wt) OVER (ORDER BY c DESC, w
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / CAST(tw AS DOUBLE), 6) AS cum_share
      FROM top, tot ORDER BY cnt DESC, word""")) { (s, dir) =>
      val c = Tables.dfSpread(s, dir, "documents")
        .select(explode(Kit.words(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val p = c.withColumn("wt",
        Kit.rdec(sqrt(sqrt(col("c").cast("double") * col("c") * col("c"))), 6))
      val tot = p.agg(sum(col("wt")).cast("decimal(38,6)").as("tw"))
      val top = p.orderBy(col("c").desc, col("w")).limit(20)
      val wCum = Window.orderBy(col("c").desc, col("w"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      top.crossJoin(broadcast(tot))
        .withColumn("cum", sum(col("wt")).over(wCum))
        .select(col("w").as("word"), col("c").as("cnt"),
          round(col("wt").cast("double") / col("tw").cast("double"), 6).as("share"),
          round(col("cum").cast("double") / col("tw").cast("double"), 6)
            .as("cum_share"))
        .orderBy(col("cnt").desc, col("word"))
    },

    // --------------------- join-size estimation (p175)
    QueryDef("p175_join_size_estimator", Some("""
      WITH a AS (
        SELECT user_id % 1000 AS k, count(*) AS ca FROM events GROUP BY 1),
      b AS (
        SELECT c_custkey % 1000 AS k, count(*) AS cb FROM customer GROUP BY 1),
      j AS (SELECT a.k AS k, ca * cb AS rows_k FROM a JOIN b ON a.k = b.k),
      s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(rows_k) AS BIGINT) AS exact_rows,
               CAST(16 * sum(CASE WHEN ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 2))::BIGINT % 16 = 0
                                  THEN rows_k ELSE 0 END) AS BIGINT) AS est_rows
        FROM j)
      SELECT n_keys, exact_rows, est_rows,
             round(abs(CAST(est_rows AS DOUBLE) - exact_rows) / exact_rows, 6)
               AS rel_err
      FROM s""")) { (s, dir) =>
      val a = Tables.df(s, dir, "events")
        .groupBy((col("user_id") % 1000).as("k")).agg(count(lit(1)).as("ca"))
      val b = Tables.df(s, dir, "customer")
        .groupBy((col("c_custkey") % 1000).as("k")).agg(count(lit(1)).as("cb"))
      val sampled = conv(substring(md5(col("k").cast("string")), 1, 2), 16, 10)
        .cast("long") % 16 === 0
      a.join(b, "k")
        .select(col("k"), (col("ca") * col("cb")).as("rows_k"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("rows_k")).as("exact_rows"),
          (lit(16) * sum(when(sampled, col("rows_k")).otherwise(0L))).as("est_rows"))
        .select(col("n_keys"), col("exact_rows"), col("est_rows"),
          round(abs(col("est_rows").cast("double") - col("exact_rows")) /
            col("exact_rows"), 6).as("rel_err"))
    },

    // --------------------- compression-proxy entropy profile (p176)
    QueryDef("p176_compression_proxy", Some("""
      WITH ch AS (
        SELECT source,
               unnest(list_transform(range(1, len(text) + 1),
                 i -> substr(text, CAST(i AS INTEGER), 1))) AS ch
        FROM documents),
      c AS (SELECT source, ch, count(*) AS c FROM ch GROUP BY source, ch),
      t AS (SELECT source, sum(c) AS n FROM c GROUP BY source),
      e AS (
        SELECT c.source,
               CAST(sum(CAST(round(-(CAST(c.c AS DOUBLE) / t.n)
                 * ln(CAST(c.c AS DOUBLE) / t.n), 9) AS DECIMAL(38,9)))
                 AS DOUBLE) AS h_nats,
               CAST(min(t.n) AS BIGINT) AS n_chars,
               CAST(count(*) AS BIGINT) AS alphabet
        FROM c JOIN t ON c.source = t.source GROUP BY c.source)
      SELECT source, n_chars, alphabet,
             round(h_nats / ln(2), 6) AS bits_per_char,
             round(8 / (h_nats / ln(2)), 4) AS compression_ratio
      FROM e ORDER BY source""")) { (s, dir) =>
      val ch = Tables.dfSpread(s, dir, "documents")
        .select(col("source"),
          explode(expr("transform(sequence(1, length(text)), i -> substring(text, i, 1))"))
            .as("ch"))
      val c = ch.groupBy(col("source"), col("ch")).agg(count(lit(1)).as("c"))
      val t = c.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val pTerm = col("c").cast("double") / col("n")
      c.join(t, "source")
        .groupBy(col("source"))
        .agg(
          Kit.rsum(-pTerm * log(pTerm), 9).as("h_nats"),
          min(col("n")).as("n_chars"),
          count(lit(1)).as("alphabet"))
        .select(col("source"), col("n_chars").cast("long").as("n_chars"),
          col("alphabet"), round(col("h_nats") / math.log(2), 6).as("bits_per_char"),
          round(lit(8) / (col("h_nats") / math.log(2)), 4).as("compression_ratio"))
        .orderBy(col("source"))
    },

    // --------------------- blocking-recall audit (p177)
    QueryDef.sql("p177_blocking_recall", """
      WITH d AS (
        SELECT doc_id, lang, CAST(floor(n_chars / 256.0) AS BIGINT) AS lb,
               md5(substr(lower(text), 1, 50)) AS ph
        FROM documents),
      truth AS (
        SELECT ph, count(*) AS m FROM d GROUP BY ph HAVING count(*) > 1),
      cap AS (
        SELECT ph, lang, lb, count(*) AS m
        FROM d GROUP BY ph, lang, lb HAVING count(*) > 1),
      tp AS (SELECT CAST(sum(m * (m - 1) / 2) AS BIGINT) AS n FROM truth),
      bp AS (SELECT CAST(sum(m * (m - 1) / 2) AS BIGINT) AS n FROM cap
             WHERE ph IN (SELECT ph FROM truth))
      SELECT tp.n AS truth_pairs, bp.n AS blocked_pairs,
             round(CAST(bp.n AS DOUBLE) / tp.n, 6) AS recall
      FROM tp, bp"""),

    // --------------------- Bloom join-prefilter audit (p178)
    QueryDef.sql("p178_bloom_join_prefilter", """
      WITH members AS (
        SELECT DISTINCT o_orderkey AS k FROM orders
        WHERE o_orderpriority = '1-URGENT'),
      ks AS (SELECT unnest([0, 1, 2]) AS j),
      bits AS (
        SELECT DISTINCT ks.j,
               substr(md5(CAST(ks.j AS VARCHAR) || ':' || CAST(m.k AS VARCHAR)), 1, 3) AS bit
        FROM members m CROSS JOIN ks),
      keys AS (
        SELECT l_orderkey AS k, count(*) AS nrows FROM lineitem GROUP BY 1),
      hits AS (
        SELECT keys.k, keys.nrows, count(bits.bit) AS n_hit
        FROM keys CROSS JOIN ks
        LEFT JOIN bits ON bits.j = ks.j
          AND bits.bit = substr(md5(CAST(ks.j AS VARCHAR) || ':' || CAST(keys.k AS VARCHAR)), 1, 3)
        GROUP BY keys.k, keys.nrows),
      ex AS (SELECT CAST(sum(nrows) AS BIGINT) AS n_exact FROM keys
             WHERE k IN (SELECT k FROM members))
      SELECT CAST(sum(nrows) AS BIGINT) AS n_probe_rows,
             (SELECT n_exact FROM ex) AS n_exact,
             CAST(sum(CASE WHEN n_hit = 3 THEN nrows ELSE 0 END) AS BIGINT)
               AS n_bloom_pass,
             CAST(sum(CASE WHEN n_hit = 3 THEN nrows ELSE 0 END) AS BIGINT)
               - (SELECT n_exact FROM ex) AS n_false_pass,
             round(1 - CAST(sum(CASE WHEN n_hit = 3 THEN nrows ELSE 0 END) AS DOUBLE)
               / sum(nrows), 6) AS scan_reduction
      FROM hits""")
  )
}
