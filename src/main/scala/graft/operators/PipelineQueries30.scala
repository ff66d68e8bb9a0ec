package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 30 — pipeline operations around the corpus
  * itself: fuzzy metadata dedup, data-quality rule audits, shard
  * manifests, and embedding-vs-label agreement.
  *
  *  - p115 blocked edit-distance dedup: the classic fuzzy-match pass for
  *    titles/metadata — candidate pairs from (3-token prefix, length
  *    band) blocks, scored by normalized Levenshtein similarity. Edit
  *    distance is integer DP, bit-identical across engines; the only
  *    double is one exact integer ratio.
  *
  *  - p116 data-quality rule audit: a Great-Expectations-style pass —
  *    per-table conditional counts (range rules, integrity rules,
  *    duplicate-PK and orphan-FK checks) folded into ONE scan per table
  *    and emitted as a (rule, table, rows, violations, rate) report.
  *
  *  - p117 training-shard manifest: deterministic md5-fraction sharding
  *    of the corpus into 16 shards (what a 100 TB run does before writing
  *    dataloader files) with the per-shard doc/token/char balance that
  *    decides whether the shard function is safe to ship.
  *
  *  - p118 cluster–label purity: the p47 spherical k-means assignment
  *    (same deterministic seeding, gridded-cosine argmax, DECIMAL-grid
  *    centroid updates — see PipelineQueries8.scala:161) cross-tabbed
  *    against the label column — the standard embedding-quality /
  *    label-noise agreement check before trusting either signal.
  */
object PipelineQueries30 {

  /** p115: hot-block cap (boilerplate prefixes are p49's job, not a
    * quadratic pair-join's) and the keep threshold. */
  private val BlockCap = 50
  private val SimCut = 0.8

  /** p117: shard count. */
  private val Shards = 16

  /** p118: cluster count — matches p47 so the two views agree. */
  private val K = 4

  /** The shared two-round Lloyd CTE prefix of the p47 oracle (seeding by
    * the K lowest vec_ids, gridded-cosine assignment, DECIMAL-grid
    * centroid means), ending in a2(vec_id, cid, cos). */
  private def kmeansOracleCtes: String = s"""
      e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      init AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, v AS cv
        FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $K)),
      c1 AS (
        SELECT e.vec_id, e.v, init.cid,
               round(list_cosine_similarity(e.v, init.cv), 9) AS cos
        FROM e CROSS JOIN init),
      a1 AS (
        SELECT vec_id, v, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM c1) WHERE rn = 1),
      m1 AS (
        SELECT cid, dim,
               CAST(sum(CAST(round(v[dim], 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS m
        FROM (SELECT cid, v,
                     unnest(list_transform(range(1, CAST(len(v) AS BIGINT) + 1),
                       x -> CAST(x AS BIGINT))) AS dim
              FROM a1)
        GROUP BY cid, dim),
      u1 AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY cid),
      c2 AS (
        SELECT e.vec_id, u1.cid,
               round(list_cosine_similarity(e.v, u1.cv), 9) AS cos
        FROM e CROSS JOIN u1),
      a2 AS (
        SELECT vec_id, cid, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM c2) WHERE rn = 1)"""

  /** Spark twin of [[kmeansOracleCtes]] — the p47 kernel: map-only
    * assignment against a packed broadcast centroid array, (cid, dim)
    * partial-agg updates. Returns (vec_id, cid, cos). */
  private def kmeansAssign(e: DataFrame): DataFrame = {
    val init = e.orderBy(col("vec_id")).limit(K)
      .select((row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("int").as("cid"),
        col("v").as("cv"))
    Kit.sphericalKMeans(e, init, Nil, "v").drop("v")
  }

  val defs: Seq[QueryDef] = Seq(

    // ---------------- blocked edit-distance dedup (p115)

    // Scale shape: candidates come ONLY from equi-joining the (prefix,
    // length-band) block key — never an all-pairs product — and hot
    // blocks above BlockCap are excluded (they are boilerplate families;
    // p49 owns those). Within-block pair counts are cap²-bounded per
    // block, so the join output grows linearly with the number of blocks.
    QueryDef("p115_fuzzy_match", Some("""
      WITH d AS (
        SELECT doc_id, text,
               array_to_string(string_split_regex(lower(text), '\s+')[1:3], ' ') AS blk,
               CAST(floor(len(text) / 50) AS BIGINT) AS band
        FROM documents),
      sz AS (SELECT blk, band, count(*) AS c FROM d GROUP BY blk, band),
      db AS (SELECT d.* FROM d JOIN sz USING (blk, band) WHERE sz.c <= 50),
      p AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               levenshtein(a.text, b.text) AS lev,
               greatest(len(a.text), len(b.text)) AS mx
        FROM db a JOIN db b
          ON a.blk = b.blk AND a.band = b.band AND a.doc_id < b.doc_id)
      SELECT a_id, b_id, CAST(lev AS BIGINT) AS lev,
             round(1 - CAST(lev AS DOUBLE) / mx, 6) AS sim
      FROM p WHERE 1 - CAST(lev AS DOUBLE) / mx >= 0.8
      ORDER BY a_id, b_id""")) { (s, dir) =>
      val d = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          concat_ws(" ", slice(Kit.words(col("text")), 1, 3)).as("blk"),
          floor(length(col("text")) / 50).as("band"))
      val sz = d.groupBy(col("blk"), col("band")).agg(count(lit(1)).as("c"))
      val db = d.join(sz, Seq("blk", "band")).filter(col("c") <= BlockCap)
      val a = db.select(col("blk"), col("band"), col("doc_id").as("a_id"),
        col("text").as("a_text"))
      val b = db.select(col("blk"), col("band"), col("doc_id").as("b_id"),
        col("text").as("b_text"))
      val sim = lit(1) - levenshtein(col("a_text"), col("b_text")).cast("double") /
        greatest(length(col("a_text")), length(col("b_text")))
      a.join(b, Seq("blk", "band"))
        .filter(col("a_id") < col("b_id"))
        .withColumn("sim", sim)
        .filter(col("sim") >= SimCut)
        .select(col("a_id"), col("b_id"),
          levenshtein(col("a_text"), col("b_text")).cast("long").as("lev"),
          round(col("sim"), 6).as("sim"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // ------------------- data-quality rule audit (p116)

    // Scale shape: every per-table rule family folds into ONE conditional-
    // aggregation scan of that table (violations are when()-counts, the
    // duplicate-PK rule rides the same scan as count distinct); the orphan
    // rule is one anti join. The report is a union of 1-row frames.
    QueryDef.sql("p116_dq_rules", """
      WITH cust AS (
        SELECT count(*) AS n, count(*) FILTER (WHERE c_acctbal < 0) AS v
        FROM customer),
      li AS (
        SELECT count(*) AS n,
               count(*) FILTER (WHERE l_discount > 0.08) AS v_disc,
               count(*) FILTER (WHERE l_quantity <= 0 OR l_quantity > 50) AS v_qty
        FROM lineitem),
      ord AS (
        SELECT count(*) AS n, count(*) - count(DISTINCT o_orderkey) AS v_dup
        FROM orders),
      orph AS (
        SELECT count(*) AS v FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      doc AS (
        SELECT count(*) AS n, count(*) FILTER (WHERE n_chars <> len(text)) AS v
        FROM documents),
      ev AS (
        SELECT count(*) AS n, count(*) FILTER (WHERE value > 450) AS v
        FROM events),
      pa AS (
        SELECT count(*) AS n, count(*) FILTER (WHERE p_retailprice <= 0) AS v
        FROM part),
      rules AS (
        SELECT 'r01_customer_negative_acctbal' AS rule, 'customer' AS tbl, n, v FROM cust
        UNION ALL SELECT 'r02_lineitem_discount_high', 'lineitem', n, v_disc FROM li
        UNION ALL SELECT 'r03_lineitem_quantity_range', 'lineitem', n, v_qty FROM li
        UNION ALL SELECT 'r04_orders_orphan_custkey', 'orders', ord.n, orph.v FROM ord, orph
        UNION ALL SELECT 'r05_orders_duplicate_pk', 'orders', n, v_dup FROM ord
        UNION ALL SELECT 'r06_documents_nchars_mismatch', 'documents', n, v FROM doc
        UNION ALL SELECT 'r07_events_value_extreme', 'events', n, v FROM ev
        UNION ALL SELECT 'r08_part_nonpositive_price', 'part', n, v FROM pa)
      SELECT rule, tbl, CAST(n AS BIGINT) AS n_rows, CAST(v AS BIGINT) AS n_violations,
             round(CAST(v AS DOUBLE) / n, 6) AS violation_rate
      FROM rules ORDER BY rule"""),

    // ------------------ training-shard manifest (p117)

    // Scale shape: the shard id is a map-side md5 fraction (the
    // p38/p44/p48 Horner grid — bit-identical in both engines), so the
    // manifest is ONE partial-aggregated groupBy over 16 keys; the share
    // denominator is a 1-row broadcast. This is exactly the pre-write
    // audit a 100 TB dataloader-sharding job runs.
    QueryDef("p117_shard_manifest", Some(s"""
      WITH d AS (
        SELECT CAST(floor(${Kit.hexFracSql("md5(CAST(doc_id AS VARCHAR))")} * 16)
                 AS INT) AS shard,
               len(string_split_regex(lower(text), '\\s+')) AS n_toks,
               n_chars
        FROM documents),
      sh AS (
        SELECT shard, count(*) AS n_docs, sum(n_toks) AS n_tokens,
               sum(n_chars) AS n_chars
        FROM d GROUP BY shard),
      tot AS (SELECT sum(n_docs) AS t FROM sh)
      SELECT shard, CAST(n_docs AS BIGINT) AS n_docs,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(n_chars AS BIGINT) AS n_chars,
             round(CAST(n_docs AS DOUBLE) / tot.t, 6) AS doc_share
      FROM sh CROSS JOIN tot ORDER BY shard""")) { (s, dir) =>
      val d = Tables.dfSpread(s, dir, "documents")
        .select(floor(Kit.hexFrac(md5(col("doc_id").cast("string"))) * Shards)
          .cast("int").as("shard"),
          size(Kit.words(col("text"))).as("n_toks"), col("n_chars"))
      val sh = d.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
      val tot = sh.agg(sum(col("n_docs")).as("t"))
      sh.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_chars"),
          round(col("n_docs").cast("double") / col("t"), 6).as("doc_share"))
        .orderBy(col("shard"))
    },

    // ------------------ cluster–label purity (p118)

    // Scale shape: identical to p47 (map-only assignment, K×dims-bounded
    // updates); the purity cross-tab is a (cid, label) groupBy with at
    // most K × |labels| output rows.
    QueryDef("p118_cluster_purity", Some(s"""
      WITH $kmeansOracleCtes,
      ct AS (
        SELECT a2.cid, emb.label, count(*) AS c
        FROM a2 JOIN embeddings emb ON a2.vec_id = emb.vec_id
        GROUP BY a2.cid, emb.label),
      n AS (SELECT cid, sum(c) AS n FROM ct GROUP BY cid),
      maj AS (
        SELECT cid, label AS maj_label, c AS maj_n FROM (
          SELECT *, row_number() OVER (PARTITION BY cid ORDER BY c DESC, label) AS rn
          FROM ct) WHERE rn = 1)
      SELECT n.cid AS cluster, CAST(n.n AS BIGINT) AS n_vecs,
             maj.maj_label, CAST(maj.maj_n AS BIGINT) AS maj_n,
             round(CAST(maj.maj_n AS DOUBLE) / n.n, 6) AS purity
      FROM n JOIN maj ON n.cid = maj.cid ORDER BY cluster""")) { (s, dir) =>
      val emb = Tables.dfSpread(s, dir, "embeddings")
      val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val ct = kmeansAssign(e)
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
        .groupBy(col("cid"), col("label")).agg(count(lit(1)).as("c"))
      val n = ct.groupBy(col("cid")).agg(sum(col("c")).as("n"))
      val maj = ct.withColumn("rn", row_number().over(
          Window.partitionBy(col("cid")).orderBy(col("c").desc, col("label"))))
        .filter(col("rn") === 1)
        .select(col("cid"), col("label").as("maj_label"), col("c").as("maj_n"))
      n.join(maj, Seq("cid"))
        .select(col("cid").as("cluster"), col("n").as("n_vecs"),
          col("maj_label"), col("maj_n"),
          round(col("maj_n").cast("double") / col("n"), 6).as("purity"))
        .orderBy(col("cluster"))
    }
  )
}
