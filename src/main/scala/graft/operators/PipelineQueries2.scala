package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 2: the IVF-style ANN scale path and a composed
  * end-to-end training-data pipeline (quality filter → exact dedup →
  * corpus stats).
  */
object PipelineQueries2 {

  val defs: Seq[QueryDef] = Seq(

    // IVF-flavored ANN: deterministic coarse quantizer (first 16 vectors as
    // centroids), every vector assigned to its nearest centroid (the
    // "inverted list"), queries probe their 4 nearest centroids and rerank
    // exactly within the probed lists only.
    //
    // Scale shape: centroids are tiny → broadcast everywhere; assignment is
    // one broadcast-join + per-vector top-1 (map-side, no shuffle of the
    // corpus); candidate generation is an equi-join on cluster id (shuffle
    // on cluster, i.e. |corpus|/|clusters| fan-out instead of |corpus|²).
    // At 100 TB the same plan holds with k-means-trained centroids.
    QueryDef("p15_ann_ivf", Some("""
      WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings WHERE vec_id < 16),
      assign AS (
        SELECT vec_id, cent_id FROM (
          SELECT e.vec_id, c.cent_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
                            c.cent_id) AS rn
          FROM embeddings e, cents c) t WHERE rn = 1),
      probes AS (
        SELECT q_id, cent_id FROM (
          SELECT q.vec_id AS q_id, c.cent_id,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
                            c.cent_id) AS rn
          FROM embeddings q, cents c WHERE q.vec_id < 5) t WHERE rn <= 4),
      cand AS (
        SELECT DISTINCT p.q_id, a.vec_id AS n_id
        FROM probes p JOIN assign a ON a.cent_id = p.cent_id
        WHERE a.vec_id <> p.q_id)
      SELECT q_id, n_id, sim, rn FROM (
        SELECT c.q_id, c.n_id,
               round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) AS sim,
               row_number() OVER (PARTITION BY c.q_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                          c.n_id) AS rn
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.q_id
        JOIN embeddings n ON n.vec_id = c.n_id) t
      WHERE rn <= 5 ORDER BY q_id, rn""")) { (s, dir) =>
      val e = Tables.dfSpread(s, dir, "embeddings")
      // Gate path uses the deterministic first-16 quantizer (the DuckDB
      // oracle replicates it); SPARK_GRAFT_IVF_TRAINED=1 swaps in k-means
      // centroids (IvfIndexSpec covers that path — no SQL-expressible oracle
      // for a trained model).
      val cents =
        if (sys.env.get("SPARK_GRAFT_IVF_TRAINED").contains("1"))
          IvfIndex.centroidsDf(s, IvfIndex.trainCentroids(e, k = 16))
        else e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
      IvfIndex.ivfTopK(e, cents, col("vec_id") < 5, probes = 4, topK = 5)
    },

    // Jaccard with a document-frequency cap — the scale path next to p04's
    // exact baseline. Shingles occurring in more than 2% of the corpus are
    // excluded from BLOCKING (they connect ~everything: stop-phrase blowup
    // is what makes naive shingle joins quadratic at 100 TB); the Jaccard
    // numerator/denominator then count capped shingles only, identically on
    // both engines. Candidate volume drops from O(hot²) to near-linear.
    QueryDef("p17_dedup_jaccard_capped", Some("""
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS shingle FROM (
          SELECT doc_id, list_transform(
                   range(1, greatest(len(t) - 2, 0) + 1),
                   i -> array_to_string(t[i:i+2], ' ')) AS sh
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                FROM documents) x) y),
      df AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle),
      rare AS (
        SELECT sh.doc_id, sh.shingle FROM sh JOIN df ON sh.shingle = df.shingle
        WHERE df.n_docs <= greatest(2, CAST(floor((SELECT count(*) FROM documents) * 0.02) AS BIGINT))),
      sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT doc_a, doc_b,
             round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
      ORDER BY doc_a, doc_b""")) { (s, dir) =>
      // Capped TRUTH TIER (r15 VERDICT #3): full rare-shingle blocking is
      // measured DNF at 100x (bench_sf10_synth.json); past the bound the
      // byte-identical prefix-filtered twin p191 is the plan to run
      // (PrefixFilterTwinSpec pins equality), so oversized corpora are
      // refused fast instead of launched forever.
      val docs = TruthTier.guard(s, dir, "documents",
        "p17_dedup_jaccard_capped", "p191_jaccard_prefix_filter")
      val jac = Kit.jaccard(col("i"), col("na"), col("nb"))
      Kit.jaccardPairs(Kit.rareShingles(Kit.shingleRows(docs), docs))
        .filter(jac >= 0.5)
        .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // End-to-end training-data pipeline pass: token-count quality gate →
    // exact content dedup (hash-groupBy) → corpus summary. One scan, two
    // hash aggregations — the minimal-shuffle shape of a 100-TB cleaning job.
    QueryDef("p16_pipeline_e2e", Some("""
      SELECT count(*) AS n_kept,
             CAST(sum(dup_cnt - 1) AS BIGINT) AS n_dups_removed,
             CAST(sum(toks) AS BIGINT) AS total_tokens,
             round(avg(toks), 4) AS avg_tokens
      FROM (
        SELECT md5(lower(text)) AS h, count(*) AS dup_cnt,
               min(len(string_split_regex(text, '\s+'))) AS toks
        FROM documents
        WHERE n_chars BETWEEN 60 AND 500
          AND len(string_split_regex(text, '\s+')) >= 8
        GROUP BY md5(lower(text))) d""")) { (s, dir) =>
      val toks = size(split(col("text"), "\\s+"))
      Tables.dfSpread(s, dir, "documents")
        .filter(col("n_chars").between(60, 500) && toks >= 8)
        .groupBy(md5(lower(col("text"))).as("h"))
        .agg(count(lit(1)).as("dup_cnt"), min(toks).as("toks"))
        .agg(
          count(lit(1)).as("n_kept"),
          sum(col("dup_cnt") - 1).as("n_dups_removed"),
          sum(col("toks")).as("total_tokens"),
          round(avg(col("toks")), 4).as("avg_tokens"))
    }
  )
}
