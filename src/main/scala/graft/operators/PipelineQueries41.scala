package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window

/** Pipeline coverage batch 41 — monitoring / data-forensics tier: the checks
  * that run CONTINUOUSLY over a production corpus and page someone.
  *
  *  - p149 Benford first-digit audit of the event value column: observed
  *    first-significant-digit shares (digit taken from the canonical BIGINT
  *    string of the integer magnitude — engine-identical, no libm log10)
  *    against the hardcoded Benford expectations, with per-digit gaps and
  *    chi-squared contributions. The classic fabricated-/degenerate-data
  *    screen; one counting partial agg.
  *
  *  - p150 CUSUM changepoint scan over daily event volume: cumulative sums
  *    of (count − mean) in exact DECIMAL arithmetic over the day frame
  *    (bounded by the date span at ANY corpus size), reporting the max-|S|
  *    day — the standard "when did the distribution shift" first-pass. The
  *    corpus-sized work is one per-day count.
  *
  *  - p151 pair-counting dedup evaluation: treat identical MinHash
  *    signatures (p02's 8-hash scheme) as PREDICTED duplicate clusters and
  *    identical 128-char text digests (p129's key) as TRUTH, then compute
  *    pairwise precision/recall/F1 purely from cluster-size sufficient
  *    statistics — TP = Σ c(c−1)/2 over the (pred, true) contingency cells,
  *    never materializing a pair. The clustering-eval (pair-counting Rand)
  *    readout for any dedup tier, at aggregation cost.
  *
  * Determinism: integer count mass throughout; the only doubles are final
  * rounded divisions; Benford expectations are literal constants.
  */
object PipelineQueries41 {

  /** ln(1+1/d)/ln(10) to 6dp, hardcoded so no libm call crosses engines. */
  private val Benford = Seq(
    1 -> 0.301030, 2 -> 0.176091, 3 -> 0.124939, 4 -> 0.096910,
    5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992, 8 -> 0.051153,
    9 -> 0.045757)
  private val BenfordSql = Benford
    .map { case (d, p) => s"($d, $p)" }.mkString(", ")

  val defs: Seq[QueryDef] = Seq(

    // --------------------------- Benford first-digit audit (p149)
    QueryDef("p149_benford_audit", Some(s"""
      WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(abs(value)) AS BIGINT) AS STRING),
                           1, 1) AS INTEGER) AS digit
        FROM events WHERE floor(abs(value)) >= 1),
      o AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM o),
      e AS (SELECT * FROM (VALUES $BenfordSql) AS b(digit, exp_share))
      SELECT e.digit, coalesce(o.n, 0) AS n,
             round(CAST(coalesce(o.n, 0) AS DOUBLE) / tot.t, 6) AS obs_share,
             e.exp_share,
             round(CAST(coalesce(o.n, 0) AS DOUBLE) / tot.t - e.exp_share, 6)
               AS gap,
             round((CAST(coalesce(o.n, 0) AS DOUBLE) / tot.t - e.exp_share)
                   * (CAST(coalesce(o.n, 0) AS DOUBLE) / tot.t - e.exp_share)
                   / e.exp_share, 9) AS chi2_term
      FROM e CROSS JOIN tot LEFT JOIN o ON o.digit = e.digit
      ORDER BY e.digit""")) { (s, dir) =>
      import s.implicits._
      val d = Tables.df(s, dir, "events")
        .filter(floor(abs(col("value"))) >= 1)
        .select(substring(floor(abs(col("value"))).cast("bigint").cast("string"),
          1, 1).cast("int").as("digit"))
      val o = d.groupBy(col("digit")).agg(count(lit(1)).cast("bigint").as("n"))
      val tot = o.agg(sum(col("n")).cast("bigint").as("t"))
      val e = Benford.toDF("digit", "exp_share")
      val joined = broadcast(e).crossJoin(broadcast(tot))
        .join(o.withColumnRenamed("digit", "od"), col("od") === col("digit"), "left")
        .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
          col("t"), col("exp_share"))
      val obs = col("n").cast("double") / col("t")
      joined.select(col("digit"), col("n"),
          round(obs, 6).as("obs_share"), col("exp_share"),
          round(obs - col("exp_share"), 6).as("gap"),
          round((obs - col("exp_share")) * (obs - col("exp_share"))
            / col("exp_share"), 9).as("chi2_term"))
        .orderBy(col("digit"))
    },

    // ----------------------- CUSUM changepoint scan (p150)
    QueryDef("p150_cusum_changepoint", Some("""
      WITH dc AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      st AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(c) AS BIGINT) AS total,
               round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS mean_c
        FROM dc),
      cs AS (
        SELECT dc.d,
               sum(CAST(dc.c AS DECIMAL(38,6))
                   - CAST(st.mean_c AS DECIMAL(38,6)))
                 OVER (ORDER BY dc.d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        FROM dc CROSS JOIN st),
      pk AS (
        SELECT d, abs(CAST(s AS DOUBLE)) AS a,
               row_number() OVER (ORDER BY abs(CAST(s AS DOUBLE)) DESC, d) AS rn
        FROM cs)
      SELECT st.n_days, st.total, st.mean_c,
             CAST(pk.d AS STRING) AS cp_day,
             round(pk.a, 6) AS max_abs_cusum
      FROM st CROSS JOIN pk WHERE pk.rn = 1""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val st = dc.agg(count(lit(1)).cast("bigint").as("n_days"),
        sum(col("c")).cast("bigint").as("total"),
        round(sum(col("c")).cast("double") / count(lit(1)), 6).as("mean_c"))
      // day-frame cumulation: bounded by the date span (whitelisted)
      val cs = dc.crossJoin(broadcast(st))
        .select(col("d"), col("n_days"), col("total"), col("mean_c"),
          sum(col("c").cast("decimal(38,6)") - col("mean_c").cast("decimal(38,6)"))
            .over(Window.orderBy(col("d"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("s"))
      val pk = cs.select(col("n_days"), col("total"), col("mean_c"), col("d"),
        abs(col("s").cast("double")).as("a"),
        row_number().over(Window.orderBy(abs(col("s").cast("double")).desc,
          col("d"))).as("rn"))
      pk.filter(col("rn") === 1)
        .select(col("n_days"), col("total"), col("mean_c"),
          col("d").cast("string").as("cp_day"),
          round(col("a"), 6).as("max_abs_cusum"))
    },

    // ------------------- pair-counting dedup evaluation (p151)
    QueryDef("p151_dedup_pair_eval", Some("""
      WITH t0 AS (
        SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS t
        FROM documents),
      t1 AS (SELECT * FROM t0 WHERE len(t) >= 3),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(t) - 2, 0) + 1),
                 i -> array_to_string(t[i:i+2], ' ')))) AS shingle
        FROM t1),
      mh AS (
        SELECT doc_id, h,
               min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
        FROM sh, range(0, 8) hs(h)
        GROUP BY doc_id, h),
      sg AS (
        SELECT doc_id, md5(string_agg(minhash, '|' ORDER BY h)) AS pred
        FROM mh GROUP BY doc_id),
      k AS (
        SELECT sg.pred, md5(substr(t1.text, 1, 128)) AS truth
        FROM sg JOIN t1 USING (doc_id)),
      cell AS (SELECT pred, truth, count(*) AS c FROM k GROUP BY 1, 2),
      tp AS (SELECT CAST(sum(c * (c - 1)) AS BIGINT) / 2 AS v FROM cell),
      pp AS (SELECT CAST(sum(s * (s - 1)) AS BIGINT) / 2 AS v FROM
               (SELECT count(*) AS s FROM k GROUP BY pred) x),
      tpp AS (SELECT CAST(sum(s * (s - 1)) AS BIGINT) / 2 AS v FROM
               (SELECT count(*) AS s FROM k GROUP BY truth) x),
      n AS (SELECT CAST(count(*) AS BIGINT) AS v FROM k)
      SELECT n.v AS n_docs,
             CAST(pp.v AS BIGINT) AS pred_pairs,
             CAST(tpp.v AS BIGINT) AS true_pairs,
             CAST(tp.v AS BIGINT) AS tp_pairs,
             round(CASE WHEN pp.v > 0
               THEN CAST(tp.v AS DOUBLE) / pp.v END, 6) AS precision,
             round(CASE WHEN tpp.v > 0
               THEN CAST(tp.v AS DOUBLE) / tpp.v END, 6) AS recall,
             round(CASE WHEN pp.v + tpp.v > 0
               THEN 2.0 * tp.v / (pp.v + tpp.v) END, 6) AS f1
      FROM n CROSS JOIN tp CROSS JOIN pp CROSS JOIN tpp""")) { (s, dir) =>
      val k = Kit.signatures(Tables.dfSpread(s, dir, "documents")
          .filter(size(Kit.words(col("text"))) >= 3))
        .select(md5(concat_ws("|", col("sig"))).as("pred"),
          md5(substring(col("text"), 1, 128)).as("truth"))
      def pairs(f: org.apache.spark.sql.DataFrame, by: String) =
        f.groupBy(col(by)).agg(count(lit(1)).as("s"))
          .agg((sum(col("s") * (col("s") - 1)).cast("bigint") / 2)
            .cast("bigint").as("v"))
      val cellPairs = k.groupBy(col("pred"), col("truth"))
        .agg(count(lit(1)).as("c"))
        .agg((sum(col("c") * (col("c") - 1)).cast("bigint") / 2)
          .cast("bigint").as("v"))
      val n = k.agg(count(lit(1)).cast("bigint").as("v"))
      n.withColumnRenamed("v", "n_docs")
        .crossJoin(broadcast(cellPairs.withColumnRenamed("v", "tp_pairs")))
        .crossJoin(broadcast(pairs(k, "pred").withColumnRenamed("v", "pred_pairs")))
        .crossJoin(broadcast(pairs(k, "truth").withColumnRenamed("v", "true_pairs")))
        .select(col("n_docs"), col("pred_pairs"), col("true_pairs"),
          col("tp_pairs"),
          round(when(col("pred_pairs") > 0,
            col("tp_pairs").cast("double") / col("pred_pairs")), 6)
            .as("precision"),
          round(when(col("true_pairs") > 0,
            col("tp_pairs").cast("double") / col("true_pairs")), 6).as("recall"),
          round(when(col("pred_pairs") + col("true_pairs") > 0,
            lit(2.0) * col("tp_pairs") / (col("pred_pairs") + col("true_pairs"))),
            6).as("f1"))
    })
}
