package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 22 — leakage-proof splitting, dedup-quality
  * policy evidence, and template-page detection:
  *
  *  - p95 component-safe split: train/val assignment at the DUP-CLOSURE
  *    level — every near-dup connected component lands in one split, so
  *    zero candidate pairs cross the boundary by construction (the
  *    document-level leakage guarantee p44's source-level split cannot
  *    give when near-dups span sources). The gate output carries the
  *    cross-pair count as a column — both engines must independently
  *    compute 0.
  *  - p96 dedup-quality interaction: among near-dup pairs, how far apart
  *    the members' ensemble quality scores sit — the evidence behind a
  *    keep-the-better-member policy (vs p18's keep-min-id).
  *  - p97 prefix-template families: documents sharing their first-8-token
  *    prefix — the boilerplate/template-page class exact-hash (p01) misses
  *    and shingle LSH (p02) under-weights when bodies diverge.
  */
object PipelineQueries22 {

  private val TrainFrac = 0.9

  val defs: Seq[QueryDef] = Seq(

    // ------------------- component-safe split (p95)

    // Scale shape: pairs + min-label propagation are the p18 machinery
    // (per-bucket pair emission, O(diameter≈3) rounds); the representative
    // joins back onto the corpus keyed (no broadcast assumption), the
    // split is a row-local hash of the representative, and the leak count
    // is one pair-keyed join against the ≤|pairs| assignment frame. The
    // invariant n_cross_pairs = 0 is COMPUTED, not asserted — an engine
    // that splits components would fail the gate hash.
    QueryDef("p95_component_safe_split", Some(s"""
      WITH RECURSIVE ${PipelineQueries3.pairsCte},
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach AS (
        SELECT node, node AS r FROM nodes
        UNION
        SELECT e.dst AS node, reach.r AS r
        FROM reach JOIN edges e ON e.src = reach.node),
      comp AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
      asg AS (
        SELECT d.doc_id,
               coalesce(c.comp, d.doc_id) AS rep,
               CASE WHEN ${Kit.hexFracSql(
                 "md5(CAST(coalesce(c.comp, d.doc_id) AS VARCHAR))")} < $TrainFrac
                    THEN 'train' ELSE 'val' END AS split
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
      leaks AS (
        SELECT count(*) AS n FROM pairs p
        JOIN asg a ON a.doc_id = p.doc_a
        JOIN asg b ON b.doc_id = p.doc_b
        WHERE a.split <> b.split)
      SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT rep) AS BIGINT) AS n_components,
             CAST((SELECT n FROM leaks) AS BIGINT) AS n_cross_pairs
      FROM asg GROUP BY split ORDER BY split""")) { (s, dir) =>
      // r18 OPTIMIZATION (guide §2.4/§5): `pairs` has TWO consumers in
      // separate actions — the component loop (which checkpoints only its
      // own exploded edge orientation) and the `leaks` join — so the full
      // minhash candidate pipeline executed twice per run. One shared
      // localCheckpoint materializes it once; results unchanged
      // (re-verified vs DuckDB at sf0.001/sf0.01).
      val pairs = Kit.minhashPairs(s, dir).localCheckpoint()
      val comp = ConnectedComponents.minLabelPropagation(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("node").as("doc_id"), col("comp"))
      val rep = coalesce(col("comp"), col("doc_id"))
      val asg = Tables.df(s, dir, "documents").select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), rep.as("rep"),
          when(Kit.hexFrac(md5(coalesce(col("comp"), col("doc_id")).cast("string")))
            < TrainFrac, "train")
            .otherwise("val").as("split"))
      val leaks = pairs
        .join(asg.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
        .join(asg.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
        .filter(col("sa") =!= col("sb"))
        .agg(count(lit(1)).as("n_cross_pairs"))
      asg.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("rep")).as("n_components"))
        .crossJoin(broadcast(leaks))
        .orderBy(col("split"))
    },

    // ---------------- dedup-quality interaction (p96)

    // Each near-dup pair carries both members' p85 ensemble scores
    // (scored with the SAME factored kernel); gap classes use midpoint
    // thresholds so the 2-decimal score grid can never straddle a
    // boundary ulp. Scale shape: two keyed joins of the pair set against
    // the row-local score frame; 3-row rollup with DECIMAL gap sums.
    QueryDef("p96_dedup_quality_gap", Some(s"""
      WITH ${PipelineQueries3.pairsCte},
      q AS (
        SELECT doc_id, ${PipelineQueries18.ensembleScoreSql("w")} AS score
        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
              FROM documents) t),
      g AS (
        SELECT abs(a.score - b.score) AS gap
        FROM pairs p
        JOIN q a ON a.doc_id = p.doc_a
        JOIN q b ON b.doc_id = p.doc_b),
      c AS (
        SELECT CASE WHEN gap < 0.005 THEN 'same'
                    WHEN gap < 0.055 THEN 'near' ELSE 'far' END AS gap_class,
               gap
        FROM g)
      SELECT gap_class, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CAST(round(gap, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sum_gap
      FROM c GROUP BY gap_class ORDER BY gap_class""")) { (s, dir) =>
      val q = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"),
          PipelineQueries18.ensembleScore(
            Kit.words(col("text"))).as("score"))
      val g = Kit.minhashPairs(s, dir)
        .join(q.select(col("doc_id").as("doc_a"), col("score").as("qa")), "doc_a")
        .join(q.select(col("doc_id").as("doc_b"), col("score").as("qb")), "doc_b")
        .select(abs(col("qa") - col("qb")).as("gap"))
      g.groupBy(when(col("gap") < 0.005, "same")
          .when(col("gap") < 0.055, "near").otherwise("far").as("gap_class"))
        .agg(count(lit(1)).as("n_pairs"),
          Kit.rsum(col("gap"), 2).as("sum_gap"))
        .orderBy(col("gap_class"))
    },

    // ------------------ prefix-template families (p97)

    // Row-local prefix hashing (one md5 of the first 8 tokens), one
    // digest-keyed reduce; only families with >1 member surface. The
    // family id is the minimum member id — stable under re-ingest, the
    // p01/p18 keeper convention.
    QueryDef("p97_prefix_families", Some("""
      WITH pfx AS (
        SELECT doc_id, source,
               md5(array_to_string(w[1:8], ' ')) AS pk
        FROM (SELECT doc_id, source, string_split_regex(lower(text), '\s+') AS w
              FROM documents) t
        WHERE len(w) >= 8),
      fam AS (
        SELECT pk, min(doc_id) AS family_id, count(*) AS n_docs,
               count(DISTINCT source) AS n_sources
        FROM pfx GROUP BY pk)
      SELECT CAST(family_id AS BIGINT) AS family_id,
             CAST(n_docs AS BIGINT) AS n_docs,
             CAST(n_sources AS BIGINT) AS n_sources
      FROM fam WHERE n_docs > 1 ORDER BY family_id""")) { (s, dir) =>
      val w = Kit.words(col("text"))
      Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), col("source"), w.as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), col("source"),
          md5(concat_ws(" ", slice(col("w"), 1, 8))).as("pk"))
        .groupBy(col("pk"))
        .agg(min(col("doc_id")).as("family_id"), count(lit(1)).as("n_docs"),
          count_distinct(col("source")).as("n_sources"))
        .filter(col("n_docs") > 1)
        .select(col("family_id"), col("n_docs"), col("n_sources"))
        .orderBy(col("family_id"))
    }
  )
}
