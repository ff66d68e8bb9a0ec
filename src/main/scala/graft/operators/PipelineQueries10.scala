package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Functions, QueryDef, Tables}

/** Pipeline coverage batch 10 — dedup-tier quality auditing and
  * product-quantization codebooks:
  *
  *  - p55 simhash-block dedup audit (candidate generation per Manku et al.
  *    2007 — the web-scale simhash dedup design): split each 32-bit
  *    simhash into four 8-bit blocks; by pigeonhole any pair within
  *    Hamming distance 3 shares at least one exact block, so the
  *    block-equality join IS a complete candidate generator for d ≤ 3.
  *    The op then grades that tier against exact shingle-Jaccard ground
  *    truth — the precision/recall sweep a pipeline team runs before
  *    trusting a cheap dedup tier at 100 TB (where the exact tier can
  *    only ever run on samples).
  *  - p56 product quantization (Jégou et al. 2011): split the embedding
  *    into 4 subspaces of 16 dims, train a tiny per-subspace codebook
  *    (one Lloyd round, cosine metric, deterministic seeding) and report
  *    per-cell occupancy and coherence — the audit that precedes shipping
  *    a PQ-compressed ANN index.
  *
  * Float determinism convention (as batches 6–9): integer-ratio
  * arithmetic, the shared fused cosine kernel, the 1e-9 grid before
  * ranking or summation.
  */
object PipelineQueries10 {

  /** p55: ground-truth Jaccard threshold and max audited Hamming radius. */
  private val JacT = 0.5
  private val MaxHam = 3

  /** p56: subspaces × dims, codebook size. */
  private val Subs = 4
  private val SubDim = 16
  private val KCodes = 4

  val defs: Seq[QueryDef] = Seq(

    // ----------------------------- simhash-block dedup audit (p55)

    // Scale shape: simhash is the row-local native kernel; block emission
    // is 4 rows per doc; the candidate join is an equi-join on (block,
    // value) whose fan-out concentrates exactly where near-dups are (the
    // design's point) — no all-pairs stage. The exact-Jaccard truth tier
    // is the p04 baseline class: at 100 TB the audit runs on a sample,
    // which changes nothing structurally here. The sweep table itself is
    // 4 rows.
    QueryDef("p55_dedup_audit", Some(s"""
      WITH th AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
              FROM documents) t),
      bits AS (
        SELECT doc_id, b.bit,
               sum(CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END) AS vote
        FROM th, range(0, 32) b(bit) GROUP BY doc_id, b.bit),
      sim AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS h
        FROM bits GROUP BY doc_id),
      bl AS (
        SELECT doc_id, h, t.b, (h >> (8 * CAST(t.b AS INT))) & 255 AS bv
        FROM sim, range(0, $Subs) t(b)),
      cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
               bit_count(xor(a.h, b.h)) AS ham
        FROM bl a JOIN bl b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id),
      sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, CAST(len(tk) - 2 AS BIGINT) + 1),
                 x -> array_to_string(tk[x:x+2], ' '))) AS g
        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk
              FROM documents) WHERE len(tk) >= 3),
      d AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
      pr AS (
        SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY da, db),
      j AS (
        SELECT da, db
        FROM pr JOIN d x ON pr.da = x.doc_id JOIN d y ON pr.db = y.doc_id
        WHERE CAST(inter AS DOUBLE) / (x.c + y.c - inter) >= $JacT),
      nt AS (SELECT count(*) AS n_truth FROM j),
      lab AS (
        SELECT cand.ham,
               CASE WHEN j.da IS NOT NULL THEN 1 ELSE 0 END AS tp
        FROM cand LEFT JOIN j ON cand.da = j.da AND cand.db = j.db
        WHERE cand.ham <= $MaxHam),
      per AS (
        SELECT ham, count(*) AS n_cand, sum(tp) AS n_true
        FROM lab GROUP BY ham),
      cum AS (
        SELECT ham, n_cand, n_true,
               sum(n_cand) OVER (ORDER BY ham) AS cum_cand,
               sum(n_true) OVER (ORDER BY ham) AS cum_tp
        FROM per)
      SELECT CAST(ham AS BIGINT) AS ham,
             CAST(n_cand AS BIGINT) AS n_cand, CAST(n_true AS BIGINT) AS n_true,
             CAST(cum_cand AS BIGINT) AS cum_cand, CAST(cum_tp AS BIGINT) AS cum_tp,
             round(CAST(cum_tp AS DOUBLE) / cum_cand, 6) AS precision,
             round(CAST(cum_tp AS DOUBLE) / n_truth, 6) AS recall
      FROM cum CROSS JOIN nt ORDER BY ham""")) { (s, dir) =>
      // AUDIT op, bounded by contract (r17): its exact-Jaccard truth side
      // is the unblocked shared-shingle self-join (strictly more work than
      // p17's rare-capped blocking, which measured DNF at 100x in r15) and
      // its candidate side's 4x8-bit SimHash bands are gate-scale
      // parameters (~2k docs per band bucket at 500k docs -> ~4e9 pairs;
      // the r17 100x run killed the session). Recall audits at production
      // scale run on a bounded subsample by design.
      val guarded = TruthTier.guard(s, dir, "documents",
        "p55_dedup_audit", "p191_jaccard_prefix_filter + p151_dedup_pair_eval",
        "the prefix-filtered exact pair set at threshold, evaluated with " +
          "the pair-eval op on a bounded audit sample")
      val sim = guarded
        .select(col("doc_id"), Functions.simhash32(Kit.words(col("text"))).as("h"))
      // r19 OPTIMIZATION (guide §2.5): the band-bucket exchange is
      // byte-tiny, so AQE coalesced the banded self-join + pair fan-out
      // + distinct stage onto 1-2 of 32 cores; pin it to session
      // parallelism (both self-join sides reuse the one exchange).
      val bl = Kit.pin(sim.select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(Subs - 1))).as("b"))
        .withColumn("bv", expr("shiftright(h, b * 8) & 255")), "b", "bv")
      val la = bl.select(col("doc_id").as("da"), col("h").as("ha"), col("b"), col("bv"))
      val lb = bl.select(col("doc_id").as("db"), col("h").as("hb"), col("b"), col("bv"))
      val cand = la.join(lb, Seq("b", "bv")).filter(col("da") < col("db"))
        .select(col("da"), col("db"),
          bit_count(col("ha").bitwiseXOR(col("hb"))).as("ham"))
        .distinct()
        .filter(col("ham") <= MaxHam)
      val sh = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"),
          explode(Kit.shingleSet(col("tk"), 3)).as("g"))
      val dcnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("c"))
      // r19 OPTIMIZATION (guide §2.5): pin the gram-keyed exchange feeding
      // the unblocked truth self-join — same AQE collapse as the p17-class
      // prologues; one exchange, reused by both sides. Bounded by the
      // TruthTier guard above.
      val shG = Kit.pin(sh, "g")
      val sa = shG.select(col("doc_id").as("da"), col("g"))
      val sb = shG.select(col("doc_id").as("db"), col("g"))
      val pr = sa.join(sb, Seq("g")).filter(col("da") < col("db"))
        .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter"))
      // dcnt (per-doc) and truth (true-PAIR set) are corpus-sized — no
      // broadcast hints: at gate scale AQE still picks broadcast on its own
      // stats, at 100x these shuffle-join (the r17 100x tier measured the
      // hinted build OOM the driver at 500k docs; a pair table's size is
      // corpus-dependent and must never be pinned driver-side)
      val truth = pr
        .join(dcnt.select(col("doc_id").as("da"), col("c").as("ca")), Seq("da"))
        .join(dcnt.select(col("doc_id").as("db"), col("c").as("cb")), Seq("db"))
        .filter(Kit.jaccard(col("inter"), col("ca"), col("cb")) >= JacT)
        .select(col("da"), col("db"), lit(1).as("tp"))
      val nt = truth.agg(count(lit(1)).as("n_truth"))
      val per = cand.join(truth, Seq("da", "db"), "left")
        .groupBy(col("ham"))
        .agg(count(lit(1)).as("n_cand"),
          sum(coalesce(col("tp"), lit(0))).as("n_true"))
      // the sweep table is MaxHam+1 rows — single-partition window is free
      val byHam = Window.orderBy(col("ham"))
      per
        .withColumn("cum_cand", sum(col("n_cand")).over(byHam))
        .withColumn("cum_tp", sum(col("n_true")).over(byHam))
        .crossJoin(broadcast(nt))
        .select(col("ham").cast("long").as("ham"),
          col("n_cand").cast("long").as("n_cand"), col("n_true").cast("long").as("n_true"),
          col("cum_cand").cast("long").as("cum_cand"), col("cum_tp").cast("long").as("cum_tp"),
          round(col("cum_tp").cast("double") / col("cum_cand"), 6).as("precision"),
          round(col("cum_tp").cast("double") / col("n_truth"), 6).as("recall"))
        .orderBy(col("ham"))
    },

    // ------------------------------- product quantization (p56)

    // One Lloyd round of per-subspace codebook training: the embedding
    // splits into Subs × SubDim subvectors, each subspace trains KCodes
    // centroids (deterministic seeding from the lowest vec_ids, cosine
    // assignment via the shared fused kernel, gridded mean updates) and
    // the final assignment reports per-cell occupancy and coherence.
    //
    // Scale shape: subvector explosion is row-local (Subs rows per
    // vector); assignment is MAP-ONLY — per-subspace codebooks pack into a
    // Subs-row broadcast table (BHJ on the subspace id) and each subvector
    // picks its code inside a row-local array_max; the update is one
    // (sub, cid, dim) partial-agg shuffle bounded by Subs × KCodes ×
    // SubDim. The corpus is never shuffled to be coded — the property
    // that lets PQ encode 100 TB in one pass.
    QueryDef("p56_product_quantization", Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      es AS (
        SELECT vec_id, CAST(t.s AS INT) AS s,
               v[$SubDim*CAST(t.s AS INT)+1 : $SubDim*CAST(t.s AS INT)+$SubDim] AS vs
        FROM e, range(0, $Subs) t(s)),
      seed AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT $KCodes),
      init AS (
        SELECT s, CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) AS INT) - 1 AS cid,
               vs AS cv
        FROM es WHERE vec_id IN (SELECT vec_id FROM seed)),
      c1 AS (
        SELECT es.vec_id, es.s, es.vs, init.cid,
               round(list_cosine_similarity(es.vs, init.cv), 9) AS cos
        FROM es JOIN init ON es.s = init.s),
      a1 AS (
        SELECT vec_id, s, vs, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY cos DESC, cid) AS rn
          FROM c1) WHERE rn = 1),
      m1 AS (
        SELECT s, cid, dim,
               CAST(sum(CAST(round(vs[dim], 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS m
        FROM (SELECT s, cid, vs,
                     unnest(list_transform(range(1, ${SubDim + 1}),
                       x -> CAST(x AS BIGINT))) AS dim
              FROM a1)
        GROUP BY s, cid, dim),
      u1 AS (SELECT s, cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY s, cid),
      c2 AS (
        SELECT es.vec_id, es.s, u1.cid,
               round(list_cosine_similarity(es.vs, u1.cv), 9) AS cos
        FROM es JOIN u1 ON es.s = u1.s),
      a2 AS (
        SELECT vec_id, s, cid, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY cos DESC, cid) AS rn
          FROM c2) WHERE rn = 1)
      SELECT s AS sub, cid AS code,
             count(*) AS n_vecs,
             round(CAST(sum(CAST(cos AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS avg_cos,
             round(min(cos), 6) AS min_cos
      FROM a2 GROUP BY s, cid ORDER BY sub, code""")) { (s, dir) =>
      val e = Tables.dfSpread(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val es = e.select(col("vec_id"), explode(sequence(lit(0), lit(Subs - 1))).as("s"), col("v"))
        .select(col("vec_id"), col("s"),
          slice(col("v"), col("s") * SubDim + 1, lit(SubDim)).as("vs"))
      val init = e.orderBy(col("vec_id")).limit(KCodes)
        .select(col("vec_id"), explode(sequence(lit(0), lit(Subs - 1))).as("s"), col("v"))
        .select(col("vec_id"), col("s"),
          slice(col("v"), col("s") * SubDim + 1, lit(SubDim)).as("cv"))
        .withColumn("cid",
          (row_number().over(Window.partitionBy(col("s")).orderBy(col("vec_id"))) - 1)
            .cast("int"))
        .select(col("s"), col("cid"), col("cv"))
      val a2 = Kit.sphericalKMeans(es, init, Seq("s"), "vs")
      a2.groupBy(col("s"), col("cid"))
        .agg(count(lit(1)).as("n_vecs"),
          round(Kit.dsum(col("cos"), 9) /
            count(lit(1)), 6).as("avg_cos"),
          round(min(col("cos")), 6).as("min_cos"))
        .select(col("s").as("sub"), col("cid").as("code"),
          col("n_vecs"), col("avg_cos"), col("min_cos"))
        .orderBy(col("sub"), col("code"))
    }
  )
}
