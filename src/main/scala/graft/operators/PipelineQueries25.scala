package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 25 — corpus cartography:
  *
  *  - p101 length×quality data map: the 2-D histogram of documents over
  *    (length decile, quality quintile) — the table a filtering review
  *    reads to see WHERE a proposed quality cut actually bites (short
  *    high-quality vs long low-quality mass), before p85's 1-D deciles
  *    are turned into a threshold.
  */
object PipelineQueries25 {

  val defs: Seq[QueryDef] = Seq(

    // ------------------- length×quality data map (p101)

    // Scale shape: one scan computes both row-local coordinates; the two
    // boundary frames come from ExactPercentile one-level histograms
    // (length is an integer domain, the score a 2-dp grid — both bounded)
    // and broadcast back; the map itself is a ≤(10×5)-cell rollup.
    QueryDef("p101_data_map", Some(s"""
      WITH sig AS (
        SELECT doc_id, n_chars,
               ${PipelineQueries18.ensembleScoreSql("w")} AS score
        FROM (SELECT doc_id, n_chars, string_split_regex(lower(text), '\\s+') AS w
              FROM documents) t),
      qb AS (
        SELECT quantile_cont(CAST(n_chars AS DOUBLE),
                 [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS lq,
               quantile_cont(score, [0.2, 0.4, 0.6, 0.8]) AS sq
        FROM sig),
      dd AS (
        SELECT 1 + len(list_filter(lq, b -> CAST(n_chars AS DOUBLE) > b)) AS len_decile,
               1 + len(list_filter(sq, b -> score > b)) AS q_quintile,
               score
        FROM sig, qb)
      SELECT CAST(len_decile AS INTEGER) AS len_decile,
             CAST(q_quintile AS INTEGER) AS q_quintile,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CAST(score AS DECIMAL(38,2))) AS DOUBLE) AS sum_score
      FROM dd GROUP BY 1, 2 ORDER BY len_decile, q_quintile""")) { (s, dir) =>
      val sig = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          PipelineQueries18.ensembleScore(
            Kit.words(col("text"))).as("score"))
      def bounds(v: org.apache.spark.sql.Column, qs: Seq[(Double, String)]) =
        broadcast(ExactPercentile.percentiles(
          sig.withColumn("g", lit(1)), "g", v, qs).drop("g"))
      val lqs = (1 to 9).map(i => i / 10.0 -> s"l$i")
      val sqs = (1 to 4).map(i => i / 5.0 -> s"s$i")
      def cell(v: org.apache.spark.sql.Column, names: Seq[String]) =
        names.map(n => when(v > col(n), 1).otherwise(0)).reduce(_ + _) + 1
      sig.crossJoin(bounds(col("n_chars").cast("double"), lqs))
        .crossJoin(bounds(col("score"), sqs))
        .select(cell(col("n_chars").cast("double"), lqs.map(_._2)).cast("int").as("len_decile"),
          cell(col("score"), sqs.map(_._2)).cast("int").as("q_quintile"),
          col("score"))
        .groupBy(col("len_decile"), col("q_quintile"))
        .agg(count(lit(1)).as("n_docs"),
          Kit.dsum(col("score"), 2).as("sum_score"))
        .orderBy(col("len_decile"), col("q_quintile"))
    }
  )
}
