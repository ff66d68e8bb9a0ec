package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 35 — the classifier-evaluation tier: the audits a
  * pipeline owner runs on a learned quality/routing model before letting it
  * gate a 100-TB corpus (reference capability family: the quality-scoring
  * and language-routing checks around opteryx-style corpus prep; evaluation
  * semantics are the public standard ML definitions).
  *
  *  - p131 multinomial Naive Bayes language classifier, trained distributed:
  *    the model IS one (word, lang) partial-agg pass (Laplace-smoothed counts
  *    + 5-row class stats) — the canonical aggregation-shaped learner: at any
  *    corpus size the training shuffle is vocab-bounded and the class/total
  *    frames are broadcast. Held-out scoring (doc_id % 5 = 0) joins test
  *    tokens to the sparse model word-partitioned, densifies over the 5-class
  *    broadcast, and argmaxes per doc. Output: the held-out confusion matrix.
  *    Contrast with p65 (hand-written stopword heuristic, no training) and
  *    p62 (iterative logistic fit): this is the zero-iteration learner.
  *
  *  - p132 score-calibration audit (reliability diagram): the EN-stopword
  *    ratio read as a "this is English" confidence, binned at 0.05 against
  *    the true label — per-bin support, mean confidence, empirical accuracy,
  *    and |conf − acc| gap (the per-bin ECE contribution). One partial-agg
  *    pass; the output frame is the 20-bin diagram.
  *
  *  - p133 exact tie-corrected ROC AUC of the same score predicting
  *    lang = 'en', via the grouped Mann–Whitney form: quantize the score to
  *    4dp, count (pos, neg) per distinct value, cumulate negatives-below
  *    over the value frame (≤ 10^4+1 rows at ANY corpus size — the p83
  *    value-domain-bounded window class), then
  *    AUC = (Σ np·cneg + ½·Σ np·nn) / (NP·NN). All integer arithmetic up to
  *    the final division — exact on both engines.
  *
  * Determinism: the p62/p45 conventions — log/ratio terms rounded to 6dp
  * before DECIMAL(38,6) summation, integer rank mass, final divisions
  * rounded; argmax ties broken lexicographically.
  */
object PipelineQueries35 {

  val defs: Seq[QueryDef] = Seq(

    // ------------------------- multinomial NB language classifier (p131)
    QueryDef("p131_naive_bayes", Some("""
      WITH d AS (
        SELECT doc_id, lang, (doc_id % 5 = 0) AS is_test,
               string_split_regex(lower(text), '\s+') AS ws
        FROM documents),
      tok AS (SELECT doc_id, lang, is_test, unnest(ws) AS w FROM d),
      model AS (
        SELECT w, lang, count(*) AS cnt
        FROM tok WHERE NOT is_test GROUP BY 1, 2),
      cls AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS t_c
        FROM tok WHERE NOT is_test GROUP BY 1),
      cd AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS d_c
        FROM d WHERE NOT is_test GROUP BY 1),
      tot AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM d WHERE NOT is_test) AS d_all,
               (SELECT CAST(count(DISTINCT w) AS BIGINT)
                FROM tok WHERE NOT is_test) AS v),
      tw AS (
        SELECT doc_id, lang AS true_lang, w FROM tok WHERE is_test),
      tn AS (
        SELECT doc_id, true_lang, count(*) AS n_words FROM tw GROUP BY 1, 2),
      sparse AS (
        SELECT t.doc_id AS sp_doc, m.lang AS sp_lang,
               sum(CAST(round(ln(m.cnt + 1), 6) AS DECIMAL(38,6))) AS s_hit
        FROM tw t JOIN model m ON t.w = m.w GROUP BY 1, 2),
      scores AS (
        SELECT tn.doc_id, tn.true_lang, cls.lang AS pred_lang,
               coalesce(sp.s_hit, CAST(0 AS DECIMAL(38,6)))
                 + CAST(round(ln(CAST(cd.d_c AS DOUBLE) / tot.d_all), 6)
                        AS DECIMAL(38,6))
                 - CAST(round(round(ln(cls.t_c + tot.v), 6) * tn.n_words, 6)
                        AS DECIMAL(38,6)) AS score
        FROM tn CROSS JOIN tot CROSS JOIN cls
        JOIN cd ON cd.lang = cls.lang
        LEFT JOIN sparse sp
          ON sp.sp_doc = tn.doc_id AND sp.sp_lang = cls.lang),
      pred AS (
        SELECT true_lang, pred_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, pred_lang) AS rn
        FROM scores)
      SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM pred WHERE rn = 1
      GROUP BY 1, 2 ORDER BY 1, 2""")) { (s, dir) =>
      val d = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          (col("doc_id") % 5 === 0).as("is_test"), Kit.words(col("text")).as("ws"))
      val tok = d.select(col("doc_id"), col("lang"), col("is_test"),
        explode(col("ws")).as("w"))
      val train = tok.filter(!col("is_test"))
      // the learner: one vocab-bounded partial agg (word-partitioned at scale)
      val model = train.groupBy(col("w"), col("lang"))
        .agg(count(lit(1)).as("cnt"))
      val cls = train.groupBy(col("lang"))
        .agg(count(lit(1)).cast("bigint").as("t_c"))
      val cd = d.filter(!col("is_test")).groupBy(col("lang"))
        .agg(count(lit(1)).cast("bigint").as("d_c"))
      val tot = d.filter(!col("is_test")).agg(count(lit(1)).cast("bigint").as("d_all"))
        .crossJoin(train.agg(countDistinct(col("w")).cast("bigint").as("v")))
      val tw = tok.filter(col("is_test"))
        .select(col("doc_id"), col("lang").as("true_lang"), col("w"))
      val tn = tw.groupBy(col("doc_id"), col("true_lang"))
        .agg(count(lit(1)).as("n_words"))
      val sparse = tw.join(model, "w")
        .groupBy(col("doc_id").as("sp_doc"), col("lang").as("sp_lang"))
        .agg(sum(Kit.rdec(log(col("cnt") + 1), 6)).as("s_hit"))
      // densify over the 5-class broadcast so zero-hit classes still score
      val scores = tn
        .crossJoin(broadcast(tot))
        .crossJoin(broadcast(cls.join(cd, "lang").withColumnRenamed("lang", "pred_lang")))
        .join(sparse, col("sp_doc") === col("doc_id") &&
          col("sp_lang") === col("pred_lang"), "left")
        .select(col("doc_id"), col("true_lang"), col("pred_lang"),
          (coalesce(col("s_hit"), Kit.dec(lit(0), 6))
            + Kit.rdec(log(col("d_c").cast("double") / col("d_all")), 6)
            - Kit.rdec(round(log(col("t_c") + col("v")), 6) * col("n_words"), 6)).as("score"))
      val pred = scores.withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("pred_lang"))))
        .filter(col("rn") === 1)
      pred.groupBy(col("true_lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("true_lang"), col("pred_lang"))
    },

    // -------------------------- reliability diagram / ECE bins (p132)
    QueryDef("p132_score_calibration", Some(s"""
      WITH d AS (
        SELECT lang, string_split_regex(lower(text), '\\s+') AS ws
        FROM documents),
      sc AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
               ${Kit.enRatioSql(6)} AS r
        FROM d),
      b AS (
        SELECT CAST(least(floor(r * 20.0), 19.0) AS INTEGER) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(CAST(sum(CAST(r AS DECIMAL(38,6))) AS DOUBLE)
                     / count(*), 6) AS conf,
               round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS acc
        FROM sc GROUP BY 1)
      SELECT bucket, n_docs, conf, acc, round(abs(conf - acc), 6) AS gap
      FROM b ORDER BY bucket""")) { (s, dir) =>
      val sc = Tables.dfSpread(s, dir, "documents")
        .select(col("lang"), Kit.words(col("text")).as("ws"))
        .select((col("lang") === "en").cast("int").as("pos"),
          Kit.enRatio(col("ws"), 6).as("r"))
      val b = sc.groupBy(least(floor(col("r") * 20.0), lit(19.0)).cast("int")
          .as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          round(Kit.dsum(col("r"), 6)
            / count(lit(1)), 6).as("conf"),
          round(sum(col("pos")).cast("double") / count(lit(1)), 6).as("acc"))
      b.select(col("bucket"), col("n_docs"), col("conf"), col("acc"),
          round(abs(col("conf") - col("acc")), 6).as("gap"))
        .orderBy(col("bucket"))
    },

    // ------------------------------ exact tie-corrected ROC AUC (p133)
    QueryDef("p133_roc_auc", Some(s"""
      WITH d AS (
        SELECT lang, string_split_regex(lower(text), '\\s+') AS ws
        FROM documents),
      sc AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
               ${Kit.enRatioSql(4)} AS q
        FROM d),
      g AS (
        SELECT q, CAST(sum(pos) AS BIGINT) AS np,
               CAST(sum(1 - pos) AS BIGINT) AS nn
        FROM sc GROUP BY q),
      c AS (
        SELECT np, nn,
               coalesce(sum(nn) OVER (ORDER BY q
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cneg
        FROM g),
      a AS (
        SELECT CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(nn) AS BIGINT) AS n_neg,
               round((CAST(sum(np * cneg) AS DOUBLE)
                      + 0.5 * CAST(sum(np * nn) AS DOUBLE))
                     / (CAST(sum(np) AS DOUBLE) * CAST(sum(nn) AS DOUBLE)), 6)
                 AS auc
        FROM c)
      SELECT n_pos, n_neg, auc, round(2.0 * auc - 1.0, 6) AS gini FROM a""")) {
      (s, dir) =>
      val sc = Tables.dfSpread(s, dir, "documents")
        .select(col("lang"), Kit.words(col("text")).as("ws"))
        .select((col("lang") === "en").cast("int").as("pos"),
          Kit.enRatio(col("ws"), 4).as("q"))
      val g = sc.groupBy(col("q"))
        .agg(sum(col("pos")).cast("bigint").as("np"),
          sum(lit(1) - col("pos")).cast("bigint").as("nn"))
      // value-domain-bounded frame: <= 10^4 + 1 distinct 4dp ratios at ANY
      // corpus size (whitelisted in BoundedWindowSpec with that bound)
      val c = g.select(col("np"), col("nn"),
        coalesce(sum(col("nn")).over(Window.orderBy(col("q"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("cneg"))
      val a = c.agg(sum(col("np")).cast("bigint").as("n_pos"),
        sum(col("nn")).cast("bigint").as("n_neg"),
        round((sum(col("np") * col("cneg")).cast("double")
          + lit(0.5) * sum(col("np") * col("nn")).cast("double"))
          / (sum(col("np")).cast("double") * sum(col("nn")).cast("double")), 6)
          .as("auc"))
      a.select(col("n_pos"), col("n_neg"), col("auc"),
        round(lit(2.0) * col("auc") - 1.0, 6).as("gini"))
    })
}
