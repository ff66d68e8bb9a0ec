package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 3 — the curation stages a 100-TB training-data
  * pipeline runs after candidate generation: duplicate-cluster resolution
  * (connected components), PII redaction, benchmark-contamination checks,
  * reproducible stratified sampling, and repetition-based quality signals.
  *
  * Scale notes are per-query; none of these plans contains an all-pairs
  * join, a driver-side row collect, or an unbounded window over a hot key.
  */
object PipelineQueries3 {

  /** Broadcast `df` only when a bounded count probe stays at or under
    * `maxRows`; otherwise return it unhinted so the join planner falls back
    * to a shuffle join. The probe (`limit(maxRows+1).count()`) touches at
    * most maxRows+1 rows regardless of the side's true size, so the check
    * itself cannot OOM — unlike an unconditional `broadcast()` of a side
    * that only *usually* stays small. Note this is an eager Spark action at
    * DataFrame-construction time (like p26's bloom build).
    */
  private[graft] def broadcastIfSmall(df: DataFrame, maxRows: Int): DataFrame = {
    val probe = df.limit(maxRows + 1).count()
    if (probe <= maxRows) broadcast(df) else df
  }

  /** The p02 candidate-pair CTEs as DuckDB SQL, shared by the p18 oracle. */
  private[operators] val pairsCte = """
      sh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS shingle FROM (
          SELECT doc_id, list_transform(
                   range(1, greatest(len(t) - 2, 0) + 1),
                   i -> array_to_string(t[i:i+2], ' ')) AS sh
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                FROM documents) x) y),
      mh AS (
        SELECT doc_id, h,
               min(md5(CAST(h AS VARCHAR) || ':' || shingle)) AS minhash
        FROM sh, range(0, 8) hs(h)
        GROUP BY doc_id, h),
      bands AS (
        SELECT doc_id, h // 2 AS band,
               md5(string_agg(minhash, '|' ORDER BY h)) AS bucket
        FROM mh GROUP BY doc_id, h // 2),
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------- duplicate-cluster resolution

    // Connected components over the LSH near-dup pairs: every document in a
    // candidate pair is assigned the minimum doc_id reachable through the
    // pair graph — the canonical representative a dedup pass keeps.
    //
    // Scale shape: iterative min-label propagation — each round is one
    // equi-join (edges ⋈ labels on the node key) plus one partial-aggregated
    // groupBy(min); convergence needs diameter(G) rounds, and near-dup
    // components are LSH-bucket cliques with diameter ~2-3, so the loop is
    // 3-4 rounds at any corpus size. The per-round convergence check is a
    // scalar aggregate (count of changed labels), never a row collect, and
    // each round's result is localCheckpoint'ed so the plan/lineage stays
    // constant-size. For adversarial long-chain graphs p29 runs the same
    // resolution through the alternating large-star/small-star rounds
    // (Kiveris et al., "Connected Components in MapReduce and Beyond",
    // [[ConnectedComponents.largeSmallStar]]) — O(log^2 n) rounds
    // regardless of diameter; ConnectedComponentsSpec proves both strategies
    // agree and that star rounds beat O(diameter) on a 200-node chain.
    QueryDef("p18_dedup_components", Some(s"""
      WITH RECURSIVE $pairsCte,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach AS (
        SELECT node, node AS r FROM nodes
        UNION
        SELECT e.dst AS node, reach.r AS r
        FROM reach JOIN edges e ON e.src = reach.node)
      SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS component
      FROM reach GROUP BY node ORDER BY doc_id""")) { (s, dir) =>
      val pairs = Kit.minhashPairs(s, dir)
      ConnectedComponents.minLabelPropagation(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("node").as("doc_id"), col("comp").as("component"))
        .orderBy(col("doc_id"))
    },

    // The same duplicate-cluster resolution through the large-star/
    // small-star rounds — the robustness tier whose round count is
    // O(log^2 n) in the worst case instead of O(diameter), for graphs
    // where transitive similarity chains make components long and thin.
    // Same oracle as p18: both strategies compute min-reachable-id.
    QueryDef("p29_dedup_components_star", Some(s"""
      WITH RECURSIVE $pairsCte,
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      reach AS (
        SELECT node, node AS r FROM nodes
        UNION
        SELECT e.dst AS node, reach.r AS r
        FROM reach JOIN edges e ON e.src = reach.node)
      SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS component
      FROM reach GROUP BY node ORDER BY doc_id""")) { (s, dir) =>
      val pairs = Kit.minhashPairs(s, dir)
      ConnectedComponents.largeSmallStar(
        pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select(col("node").as("doc_id"), col("comp").as("component"))
        .orderBy(col("doc_id"))
    },

    // ----------------------------------------------------------- PII scrub

    // PII redaction: URLs, emails and IPv4 literals replaced with typed
    // placeholder tags, row-local (map-only — survives any scale unchanged).
    // Patterns are restricted to the regex subset Java and RE2 evaluate
    // identically; URL first so an address inside a URL is not half-masked.
    QueryDef("p19_pii_redact", Some("""
      SELECT doc_id,
             md5(regexp_replace(regexp_replace(regexp_replace(text,
                   'https?://[^ ]+', '<URL>', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
                   '([0-9]{1,3}[.]){3}[0-9]{1,3}', '<IP>', 'g')) AS redacted_md5,
             regexp_matches(text, 'https?://') AS has_url,
             regexp_matches(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+') AS has_email,
             regexp_matches(text, '([0-9]{1,3}[.]){3}[0-9]{1,3}') AS has_ip
      FROM documents ORDER BY doc_id""")) { (s, dir) =>
      val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
      val ipPat = "([0-9]{1,3}[.]){3}[0-9]{1,3}"
      Tables.dfSpread(s, dir, "documents").select(
        col("doc_id"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
          lit("https?://[^ ]+"), lit("<URL>")),
          lit(emailPat), lit("<EMAIL>")),
          lit(ipPat), lit("<IP>"))).as("redacted_md5"),
        col("text").rlike("https?://").as("has_url"),
        col("text").rlike(emailPat).as("has_email"),
        col("text").rlike(ipPat).as("has_ip"))
        .orderBy(col("doc_id"))
    },

    // -------------------------------------------- benchmark contamination

    // Contamination check: does a training document share long n-grams with
    // a held-out benchmark set? Benchmark = every 20th document (stand-in
    // for the real eval suites); overlap = distinct shared 5-gram count.
    //
    // Scale shape: the benchmark side is small (real eval suites are), and
    // the broadcast decision is left to AQE's runtime re-plan — the shuffle
    // join converts to broadcast only when the bench side's ACTUAL runtime
    // size is under the adaptive threshold, so a mis-sized benchmark side
    // degrades to a slower-but-safe shuffle plan instead of OOMing the
    // executors, and plan construction triggers zero driver-side jobs
    // (round-4 ADVICE replaced the eager broadcastIfSmall count probe; the
    // probe utility remains for callers that must decide pre-AQE). The
    // corpus side is map-only shingling followed by one hash-join on the
    // shingle and a partial-aggregated count. Reported pairs are
    // thresholded (>= 3 shared 5-grams) to keep output sparse.
    QueryDef("p20_contamination", Some("""
      WITH grams AS (
        SELECT doc_id, unnest(list_distinct(g)) AS g FROM (
          SELECT doc_id, list_transform(
                   range(1, greatest(len(t) - 4, 0) + 1),
                   i -> array_to_string(t[i:i+4], ' ')) AS g
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                FROM documents) x) y),
      bench AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id % 20 = 0),
      corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % 20 <> 0)
      SELECT c.doc_id, b.bench_id, CAST(count(DISTINCT c.g) AS BIGINT) AS shared_grams
      FROM corpus c JOIN bench b ON c.g = b.g
      GROUP BY c.doc_id, b.bench_id
      HAVING count(DISTINCT c.g) >= 3
      ORDER BY doc_id, bench_id""")) { (s, dir) =>
      val grams = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), explode(Kit.shingleSet(Kit.words(col("text")), 5)).as("g"))
      val bench = grams.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("bench_id"), col("g"))
      val corpus = grams.filter(col("doc_id") % 20 =!= 0)
      corpus.join(bench, "g")
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(countDistinct(col("g")).as("shared_grams"))
        .filter(col("shared_grams") >= 3)
        .orderBy(col("doc_id"), col("bench_id"))
    },

    // -------------------------------------------------- curation sampling

    // Reproducible stratified sampling: top-k per language stratum ordered
    // by a salted digest of the key — deterministic across runs, engines and
    // partitionings (what a pipeline needs for auditable subsets, vs
    // TABLESAMPLE's partition-dependent draw). One shuffle on the stratum
    // key; the rank window is bounded per stratum. At 100 TB with very hot
    // strata, pre-filter with a digest-prefix predicate so each stratum
    // ships only ~k rows into the window.
    QueryDef.sql("p21_sample_stratified", """
      SELECT lang, doc_id, rn FROM (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR) || ':graft'), doc_id) AS rn
        FROM documents) t
      WHERE rn <= 5 ORDER BY lang, doc_id"""),

    // ------------------------------------------------- repetition quality

    // Repetition signals (Gopher-style): token-type ratio and the mass of
    // the single most frequent token. Per-document term frequencies via one
    // partial-aggregated groupBy — the (doc_id, token) key is never hot, so
    // no salting is needed even on pathological documents.
    QueryDef("p22_text_repetition", Some("""
      WITH tf AS (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents) t
        GROUP BY doc_id, tok)
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_types,
             round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS type_token_ratio,
             round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_token_mass
      FROM tf GROUP BY doc_id ORDER BY doc_id""")) { (s, dir) =>
      Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), explode(Kit.words(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(
          sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          round(count(lit(1)).cast("double") / sum(col("c")), 6).as("type_token_ratio"),
          round(max(col("c")).cast("double") / sum(col("c")), 6).as("top_token_mass"))
        .orderBy(col("doc_id"))
    }
  )
}
