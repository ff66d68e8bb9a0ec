package graft.operators

import org.apache.spark.sql.functions._
import graft.{Functions, QueryDef, Tables}

/** Pipeline coverage batch 9 — entity resolution, distribution profiling,
  * and contrastive mining stages of a training-data pipeline:
  *
  *  - p52 blocked entity resolution (the prefix-filtering family of
  *    PPJoin, Xiao et al. 2008): char-3-gram blocking keys with a
  *    document-frequency cap (hot grams are dropped from CANDIDATE
  *    GENERATION — the classic stopword-gram pruning that keeps a blocking
  *    join from exploding on a ubiquitous key), then exact gram-set
  *    Jaccard verification computed ROW-LOCALLY from carried gram arrays —
  *    no second gram join.
  *  - p53 per-source length-distribution profile: exact quartiles via the
  *    bounded-state ExactPercentile module (the q41/q76 machinery reused
  *    as a library), plus Tukey-fence outlier counts — the corpus-shape
  *    audit a curation dashboard tracks per cut.
  *  - p54 hard-negative mining (contrastive training prep, Robinson et al.
  *    2021): for a deterministic query subset, the nearest same-label
  *    vector (positive) and nearest other-label vector (hard negative)
  *    with the cosine margin between them.
  *
  * Float determinism convention (as batches 6–8): exact integer-ratio
  * arithmetic, the shared fused cosine kernel, and the 1e-9 grid before
  * any ranking or summation.
  */
object PipelineQueries9 {

  /** p52: drop grams seen in more than MaxDf names; report top pairs. */
  private val MaxDf = 20
  private val PairTop = 20

  /** p54: query subset stride (vec_id % Stride == 0). */
  private val Stride = 50

  /** p54: absolute anchor-set cap (vec_id < QueryCap), the p205/p210 probe
    * convention. Without it the anchor set is N/Stride — the corpus×anchors
    * work is N²/50, measured super-linear at the 100x tier (ratio 196,
    * r16 ScaleCheck). The cap binds only past the 10x tier (max 10x vec_id
    * 19,950 < 25,600), so every gate and 10x result is byte-identical; at
    * any larger corpus the anchor set is a fixed 512 and the scan is
    * linear. Production hard-negative mining over the FULL anchor set is
    * an ANN problem (p15/p99's IVF), not a brute-force one. */
  private val QueryCap = 512L * Stride

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------- blocked entity resolution (p52)

    // Customer names matched against supplier names: candidate pairs come
    // ONLY from shared rare grams (df ≤ MaxDf over both name sets), and
    // each surviving pair is verified with exact Jaccard over the full
    // per-name distinct gram sets.
    //
    // Scale shape: gram document frequencies are one partial-agg shuffle
    // (gram-domain-bounded output) broadcast back; candidate emission is an
    // equi-join on rare grams whose per-gram fan-out is capped at MaxDf² by
    // construction — the hot "000"-style gram that would emit |A|·|B| pairs
    // never reaches the join; verification carries each side's gram ARRAY
    // (bounded by name length) onto the candidate pair via two keyed joins
    // and computes the intersection row-locally — the corpus-sized gram
    // table is never joined against itself unfiltered.
    QueryDef("p52_entity_blocking", Some(s"""
      WITH cg AS (
        SELECT DISTINCT c_custkey AS id, g FROM (
          SELECT c_custkey,
                 unnest(list_transform(range(1, CAST(length(c_name) - 2 AS BIGINT) + 1),
                   x -> substr(c_name, CAST(x AS INT), 3))) AS g
          FROM customer)),
      sg AS (
        SELECT DISTINCT s_suppkey AS id, g FROM (
          SELECT s_suppkey,
                 unnest(list_transform(range(1, CAST(length(s_name) - 2 AS BIGINT) + 1),
                   x -> substr(s_name, CAST(x AS INT), 3))) AS g
          FROM supplier)),
      df AS (
        SELECT g, count(*) AS c
        FROM (SELECT g FROM cg UNION ALL SELECT g FROM sg) GROUP BY g),
      cand AS (
        SELECT DISTINCT cg.id AS custkey, sg.id AS suppkey
        FROM cg JOIN sg ON cg.g = sg.g
        JOIN df ON cg.g = df.g
        WHERE df.c <= $MaxDf),
      ca AS (SELECT id, list(g ORDER BY g) AS ga FROM cg GROUP BY id),
      sa AS (SELECT id, list(g ORDER BY g) AS gb FROM sg GROUP BY id),
      v AS (
        SELECT custkey, suppkey,
               len(list_filter(ga, x -> list_contains(gb, x))) AS inter,
               len(ga) + len(gb)
                 - len(list_filter(ga, x -> list_contains(gb, x))) AS uni
        FROM cand
        JOIN ca ON cand.custkey = ca.id
        JOIN sa ON cand.suppkey = sa.id),
      r AS (
        SELECT custkey, suppkey, inter, uni,
               CAST(inter AS DOUBLE) / uni AS jac,
               row_number() OVER (
                 ORDER BY round(CAST(inter AS DOUBLE) / uni, 9) DESC, custkey, suppkey) AS rank
        FROM v)
      SELECT CAST(rank AS BIGINT) AS rank, custkey, suppkey,
             CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni,
             round(jac, 6) AS jac
      FROM r WHERE rank <= $PairTop ORDER BY rank""")) { (s, dir) =>
      def grams(df: org.apache.spark.sql.DataFrame, key: String, name: String) =
        df.select(col(key).as("id"),
          explode(transform(sequence(lit(1), length(col(name)) - 2),
            i => col(name).substr(i, lit(3)))).as("g"))
          .distinct()
      val cg = grams(Tables.df(s, dir, "customer"), "c_custkey", "c_name")
      val sg = grams(Tables.df(s, dir, "supplier"), "s_suppkey", "s_name")
      val dfreq = cg.select(col("g")).unionAll(sg.select(col("g")))
        .groupBy(col("g")).agg(count(lit(1)).as("c"))
      val rare = dfreq.filter(col("c") <= MaxDf).select(col("g"))
      val cand = cg.join(broadcast(rare), Seq("g"))
        .select(col("id").as("custkey"), col("g"))
        .join(sg.select(col("id").as("suppkey"), col("g")), Seq("g"))
        .select(col("custkey"), col("suppkey"))
        .distinct()
      val ca = cg.groupBy(col("id")).agg(array_sort(collect_set(col("g"))).as("ga"))
      val sa = sg.groupBy(col("id")).agg(array_sort(collect_set(col("g"))).as("gb"))
      val inter = size(array_intersect(col("ga"), col("gb")))
      val v = cand
        .join(ca, cand("custkey") === ca("id")).drop("id")
        .join(sa, cand("suppkey") === sa("id")).drop("id")
        .select(col("custkey"), col("suppkey"), inter.as("inter"),
          (size(col("ga")) + size(col("gb")) - inter).as("uni"))
        .withColumn("jac", col("inter").cast("double") / col("uni"))
      // Candidate volume is blocking-bounded (≤ MaxDf² per rare gram) — a
      // few hundred rows reach the single-partition ranking window.
      val rank = org.apache.spark.sql.expressions.Window
        .orderBy(round(col("jac"), 9).desc, col("custkey"), col("suppkey"))
      v.withColumn("rank", row_number().over(rank))
        .filter(col("rank") <= PairTop)
        .select(col("rank").cast("long").as("rank"), col("custkey"), col("suppkey"),
          col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"),
          round(col("jac"), 6).as("jac"))
        .orderBy(col("rank"))
    },

    // ------------------------- length-distribution profile (p53)

    // Per-source exact token-count quartiles + Tukey-fence outliers. The
    // quartiles run through ExactPercentile.percentiles — the SAME
    // bounded-state histogram module behind q41/q76, reused as a library:
    // state is bounded by the distinct-length domain (a few hundred
    // values), never row count, and the module's linear interpolation is
    // DuckDB's quantile_cont (type-7) bit-for-bit on this integral domain.
    //
    // Scale shape: one (source, length) partial-agg shuffle builds the
    // histogram; the quartile frame (|sources| rows) is BROADCAST back so
    // outlier flagging is map-only; the final rollup is sources-bounded.
    QueryDef("p53_length_quantiles", Some("""
      WITH t AS (
        SELECT source,
               CAST(len(string_split_regex(lower(text), '\s+')) AS DOUBLE) AS n
        FROM documents),
      q AS (
        SELECT source,
               quantile_cont(n, 0.25) AS q1,
               quantile_cont(n, 0.5) AS med,
               quantile_cont(n, 0.75) AS q3
        FROM t GROUP BY source),
      o AS (
        SELECT t.source, q1, med, q3,
               CASE WHEN t.n > q3 + 1.5 * (q3 - q1)
                      OR t.n < q1 - 1.5 * (q3 - q1) THEN 1 ELSE 0 END AS is_out
        FROM t JOIN q ON t.source = q.source)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             round(min(q1), 6) AS q1, round(min(med), 6) AS med,
             round(min(q3), 6) AS q3,
             CAST(sum(is_out) AS BIGINT) AS n_outliers
      FROM o GROUP BY source ORDER BY source""")) { (s, dir) =>
      val t = Tables.df(s, dir, "documents")
        .select(col("source"), size(Kit.words(col("text"))).cast("double").as("n"))
      val q = ExactPercentile.percentiles(t, "source", col("n"),
        Seq(0.25 -> "q1", 0.5 -> "med", 0.75 -> "q3"))
      val fence = lit(1.5) * (col("q3") - col("q1"))
      t.join(broadcast(q), Seq("source"))
        .withColumn("is_out",
          when(col("n") > col("q3") + fence || col("n") < col("q1") - fence, 1L)
            .otherwise(0L))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(min(col("q1")), 6).as("q1"), round(min(col("med")), 6).as("med"),
          round(min(col("q3")), 6).as("q3"),
          sum(col("is_out")).as("n_outliers"))
        .orderBy(col("source"))
    },

    // ------------------------------ hard-negative mining (p54)

    // For each query vector (deterministic subset vec_id % Stride == 0):
    // the most-similar SAME-label vector (the positive a contrastive batch
    // would pair it with) and the most-similar OTHER-label vector (the
    // hard negative that makes the batch informative), plus the margin
    // between them. Cosines run through the shared fused kernel and are
    // gridded before the argmax; ties break toward the lower vec_id.
    //
    // Scale shape: the query subset is tiny and BROADCAST; the corpus is
    // scanned once, each row scoring |Q| cosines map-side; the per-query
    // argmax is a partial-agg groupBy whose map-side state is two structs
    // per query per task — no window, no per-query sort, no all-pairs
    // among the corpus.
    QueryDef("p54_hard_negatives", Some(s"""
      WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      qs AS (SELECT vec_id, label, v FROM e
             WHERE vec_id % $Stride = 0 AND vec_id < $QueryCap),
      c AS (
        SELECT qs.vec_id AS qid, qs.label AS qlabel,
               e.vec_id AS vid, (e.label = qs.label) AS same,
               round(list_cosine_similarity(e.v, qs.v), 9) AS cos
        FROM e CROSS JOIN qs WHERE e.vec_id <> qs.vec_id),
      r AS (
        SELECT *, row_number() OVER (
          PARTITION BY qid, same ORDER BY cos DESC, vid) AS rn FROM c)
      SELECT p.qid AS query_id, min(p.qlabel) AS label,
             min(p.vid) AS pos_id, round(min(p.cos), 6) AS pos_cos,
             min(n.vid) AS neg_id, round(min(n.cos), 6) AS neg_cos,
             round(min(p.cos) - min(n.cos), 6) AS margin
      FROM (SELECT * FROM r WHERE same AND rn = 1) p
      JOIN (SELECT * FROM r WHERE NOT same AND rn = 1) n ON p.qid = n.qid
      GROUP BY p.qid ORDER BY query_id""")) { (s, dir) =>
      val e = Tables.dfSpread(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      val qs = e.filter(col("vec_id") % Stride === 0 && col("vec_id") < QueryCap)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("v").as("qv"))
      val cos = round(Functions.cosineSimilarity(col("v"), col("qv")), 9)
      val scored = e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("qlabel"),
          (col("label") === col("qlabel")).as("same"),
          struct(cos.as("cos"), (-col("vec_id")).as("nid")).as("sc"))
      // max over struct(cos, -vec_id): highest gridded cosine, ties to the
      // LOWER vec_id — the oracle's ORDER BY cos DESC, vid window.
      val agg = scored.groupBy(col("qid"))
        .agg(min(col("qlabel")).as("label"),
          max(when(col("same"), col("sc"))).as("p"),
          max(when(!col("same"), col("sc"))).as("n"))
      agg.select(col("qid").as("query_id"), col("label"),
        (-col("p.nid")).as("pos_id"), round(col("p.cos"), 6).as("pos_cos"),
        (-col("n.nid")).as("neg_id"), round(col("n.cos"), 6).as("neg_cos"),
        round(col("p.cos") - col("n.cos"), 6).as("margin"))
        .orderBy(col("query_id"))
    }
  )
}
