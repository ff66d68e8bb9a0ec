package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 26 — retrieval fusion and sketch algebra:
  *
  *  - p102 hybrid retrieval with reciprocal-rank fusion: a lexical arm
  *    (shared-shingle overlap) and a semantic arm (embedding cosine)
  *    ranked independently per query, fused with RRF (Cormack et al.,
  *    k=60) — the standard first-stage retrieval stack for RAG/training
  *    data mining, where neither arm alone survives vocabulary mismatch
  *    (semantic) or exact-identifier queries (lexical).
  *
  *  - p103 KMV sketch union across sources: per-source k-minimum-values
  *    sketches union-merged into a global estimate, with the
  *    inclusion-style overlap gain (Σ per-source estimates − union
  *    estimate). The k smallest of a union of complete k-minimum sets IS
  *    the k-minimum set of the union, so the merge is exact — the
  *    property that lets 1000 executors sketch corpus cuts independently
  *    and combine them without re-shuffling anything.
  */
object PipelineQueries26 {

  /** p102: query-doc modulus, per-arm candidate pool, RRF constant, final
    * top-k. */
  private val QMod = 125
  private val PoolK = 20
  private val RrfK = 60
  private val TopK = 5

  /** p103: sketch size (matches p38's library default). */
  private val K = 64

  val defs: Seq[QueryDef] = Seq(

    // ---------------- hybrid retrieval, reciprocal-rank fusion (p102)

    // Scale shape: the query set is modulus-bounded and BROADCAST to both
    // arms. The lexical arm joins the corpus shingle stream against the
    // broadcast query shingles — candidates are bounded by shared-shingle
    // postings (a production corpus adds p17's document-frequency cap to
    // bound hot shingles; the synthetic corpus's near-dup families keep it
    // linear here). The semantic arm is the p06 bounded-query brute-force
    // class with p15's IVF as the documented swap-in at corpus scale. Each
    // arm's rank window partitions per query over its own candidate set;
    // fusion is a (query, candidate)-keyed full outer join of two ≤PoolK
    // lists — driver never sees row data.
    //
    // Determinism: the cosine is rounded to 6dp BEFORE ranking (ties break
    // by doc_id both sides); shingle overlap is integer; the RRF score
    // adds the two arm contributions in the same operand order on both
    // engines, so the fused doubles are bit-identical.
    QueryDef("p102_hybrid_rrf", Some(s"""
      WITH q AS (SELECT doc_id AS qid FROM documents WHERE doc_id % $QMod = 0),
      t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents),
      sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(tk) - 2, 0) + 1),
                 i -> array_to_string(tk[i:i+2], ' ')))) AS s
        FROM t),
      ov AS (
        SELECT qs.qid, b.doc_id AS cid, count(*) AS ov
        FROM (SELECT q.qid, a.s FROM sh a JOIN q ON a.doc_id = q.qid) qs
        JOIN sh b ON b.s = qs.s AND b.doc_id <> qs.qid
        GROUP BY qs.qid, b.doc_id),
      lex AS (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid ORDER BY ov DESC, cid) AS r
        FROM ov),
      sem0 AS (
        SELECT q.qid, c.vec_id AS cid,
               round(list_cosine_similarity(qe.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim
        FROM q
        JOIN embeddings qe ON qe.vec_id = q.qid
        JOIN embeddings c ON c.vec_id <> q.qid),
      sem AS (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS r
        FROM sem0),
      fused AS (
        SELECT coalesce(l.qid, s.qid) AS qid, coalesce(l.cid, s.cid) AS cid,
               coalesce(1.0 / ($RrfK + l.r), 0) + coalesce(1.0 / ($RrfK + s.r), 0) AS score
        FROM (SELECT * FROM lex WHERE r <= $PoolK) l
        FULL JOIN (SELECT * FROM sem WHERE r <= $PoolK) s
          ON l.qid = s.qid AND l.cid = s.cid),
      ranked AS (
        SELECT qid, cid, score,
               row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rnk
        FROM fused)
      SELECT qid AS query_id, CAST(rnk AS BIGINT) AS rank, cid AS doc_id,
             round(score, 6) AS rrf
      FROM ranked WHERE rnk <= $TopK ORDER BY query_id, rank""")) { (s, dir) =>
      val docs = Tables.dfSpread(s, dir, "documents")
      val qids = docs.filter(col("doc_id") % QMod === 0)
        .select(col("doc_id").as("qid"))
      val sh = docs.select(col("doc_id"),
        explode(Kit.shingleSet(Kit.words(col("text")), 3)).as("s"))
      val qsh = sh.join(broadcast(qids), sh("doc_id") === qids("qid"))
        .select(col("qid"), col("s"))
      val lexW = Window.partitionBy(col("qid")).orderBy(col("ov").desc, col("cid"))
      val lex = sh.join(broadcast(qsh), "s")
        .filter(col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id").as("cid"))
        .agg(count(lit(1)).as("ov"))
        .withColumn("r", row_number().over(lexW))
        .filter(col("r") <= PoolK)
        .select(col("qid"), col("cid"), col("r").as("rl"))
      val emb = Tables.dfSpread(s, dir, "embeddings")
      val qe = emb.join(broadcast(qids), emb("vec_id") === qids("qid"))
        .select(col("qid"), col("embedding").as("qemb"))
      val semW = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
      val sem = emb.join(broadcast(qe), emb("vec_id") =!= qe("qid"))
        .select(col("qid"), col("vec_id").as("cid"),
          round(graft.Functions.cosineSimilarity(col("qemb"), col("embedding")), 6).as("sim"))
        .withColumn("r", row_number().over(semW))
        .filter(col("r") <= PoolK)
        .select(col("qid"), col("cid"), col("r").as("rs"))
      val fused = lex.join(sem, Seq("qid", "cid"), "full")
        .select(col("qid"), col("cid"),
          (coalesce(lit(1.0) / (lit(RrfK) + col("rl")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("rs")), lit(0.0))).as("score"))
      val rankW = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
      fused.withColumn("rnk", row_number().over(rankW))
        .filter(col("rnk") <= TopK)
        .select(col("qid").as("query_id"), col("rnk").cast("long").as("rank"),
          col("cid").as("doc_id"), round(col("score"), 6).as("rrf"))
        .orderBy(col("query_id"), col("rank"))
    },

    // -------------------- KMV sketch union across sources (p103)

    // Scale shape: shingle hashing is row-local; the distinct is the same
    // gram-keyed shuffle p38 pays; each source's sketch is O(K) state
    // built by the mergeable aggregator (partial aggregation trims to the
    // K minima before the shuffle). The union step then works ONLY on the
    // per-source sketches — |sources| × K strings through one global
    // aggregation — so combining 1000 executors' corpus cuts moves
    // kilobytes, not the corpus. d_exact/d_union stay as the audit tier
    // (they re-shuffle the gram set; a production profile drops them and
    // keeps the sketches).
    QueryDef("p103_kmv_union", Some(s"""
      WITH t AS (
        SELECT source, string_split_regex(lower(text), '\\s+') AS tk FROM documents),
      p AS (
        SELECT source, tk,
               unnest(list_transform(range(1, CAST(len(tk) - 2 AS BIGINT) + 1),
                 x -> CAST(x AS BIGINT))) AS pos
        FROM t WHERE len(tk) >= 3),
      g AS (
        SELECT DISTINCT source, md5(array_to_string(tk[pos:pos+2], ' ')) AS g FROM p),
      d AS (SELECT source, count(*) AS d_exact FROM g GROUP BY source),
      du AS (SELECT count(DISTINCT g) AS d_union FROM g),
      r AS (
        SELECT source, g,
               row_number() OVER (PARTITION BY source ORDER BY g) AS rnk
        FROM g),
      k AS (
        SELECT source, max(${Kit.hexFracSql("g")}) AS kth
        FROM r WHERE rnk <= $K GROUP BY source),
      ru AS (
        SELECT g, row_number() OVER (ORDER BY g) AS rnk
        FROM (SELECT DISTINCT g FROM g)),
      ku AS (SELECT max(${Kit.hexFracSql("g")}) AS kthu
             FROM ru WHERE rnk <= $K),
      est AS (SELECT source, ${K - 1}.0 / kth AS est FROM k),
      tot AS (SELECT CAST(sum(CAST(round(est, 4) AS DECIMAL(38,4))) AS DOUBLE) AS sum_est
              FROM est)
      SELECT e.source AS source, d.d_exact,
             round(e.est, 4) AS est,
             du.d_union,
             round(${K - 1}.0 / ku.kthu, 4) AS est_union,
             round(tot.sum_est - round(${K - 1}.0 / ku.kthu, 4), 4) AS overlap_gain
      FROM est e
      JOIN d ON d.source = e.source
      CROSS JOIN du CROSS JOIN ku CROSS JOIN tot
      ORDER BY source""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), Kit.words(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
      val grams = t.select(col("source"),
        explode(transform(sequence(lit(1L), (size(col("tk")) - 2).cast("long")),
          i => md5(concat_ws(" ", slice(col("tk"), i.cast("int"), lit(3)))))).as("g"))
        .distinct()
      // per-source: exact count (audit tier) + the K-minimum sketch itself
      val sk = grams.groupBy(col("source"))
        .agg(count(lit(1)).as("d_exact"),
          graft.Functions.kmvSketch(col("g")).as("sketch"))
      def estOf(arr: Column): Column = lit(K - 1).cast("double") /
        Kit.hexFrac(element_at(arr, K))
      // union: the K smallest of the concatenated per-source sketches —
      // EXACTLY the K-minimum set of the global gram set (each input is
      // its source's complete K-minimum set), so est_union is the same
      // number a single global sketch would produce
      val merged = sk.agg(
        slice(array_sort(array_distinct(flatten(collect_list(col("sketch"))))),
          1, K).as("msk"),
        Kit.rsum(estOf(col("sketch")), 4).as("sum_est"))
      val duExact = grams.select(col("g")).distinct().agg(count(lit(1)).as("d_union"))
      sk.select(col("source"), col("d_exact"),
          round(estOf(col("sketch")), 4).as("est"))
        .crossJoin(broadcast(duExact))
        .crossJoin(broadcast(merged))
        .select(col("source"), col("d_exact"), col("est"), col("d_union"),
          round(estOf(col("msk")), 4).as("est_union"),
          round(col("sum_est") - round(estOf(col("msk")), 4), 4).as("overlap_gain"))
        .orderBy(col("source"))
    }
  )
}
