package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 14 — vocabulary sizing, dedup-cluster keeper
  * selection, robust value clipping, cohort analytics, and information
  * density:
  *
  *  - p67 vocabulary coverage curve: what fraction of all token
  *    occurrences the top-{100,300,1000,3000} words cover (the sizing
  *    study run before fixing a tokenizer vocabulary).
  *  - p68 cluster representatives: the "keep best of each near-dup
  *    cluster" step — p02's LSH pairs resolved to components (p18's
  *    propagation), then ONE quality-ranked keeper per cluster with a
  *    full keep/drop ledger.
  *  - p69 winsorization: per-event-type exact p01/p99 bounds via the
  *    two-phase ExactPercentile (the HIGH-cardinality variant its
  *    scaladoc prescribes — events.value is near-unique), then clipped
  *    summary stats.
  *  - p70 weekly retention cohorts: the signup-week × week-offset
  *    retention matrix (classic product-analytics rollup) over events.
  *  - p71 token entropy: per-doc Shannon entropy of the token
  *    distribution — the information-density quality signal that
  *    complements p22's repetition ratios.
  */
object PipelineQueries14 {

  /** p67: coverage curve sample points (vocabulary sizes). */
  private val Sizes = Seq(100, 300, 1000, 3000)

  /** p69: winsorization tail fractions and phase-A bucket width. */
  private val PLo = 0.01
  private val PHi = 0.99
  private val BucketW = 10.0

  val defs: Seq[QueryDef] = Seq(

    // ---------------------- vocabulary coverage curve (p67)

    // Scale shape: one token-keyed count shuffle (map-side combine), then
    // the vocabulary cap rides TakeOrdered top-K (K = max size, bounded) —
    // the rank window runs over the capped 3000-row frame, never the full
    // vocabulary; the coverage rollup is |Sizes|-bounded and the total is
    // a broadcast 1-row frame.
    QueryDef("p67_vocab_coverage", Some(s"""
      WITH tok AS (
        SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents),
      wf AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
      tot AS (SELECT sum(c) AS t FROM wf),
      ranked AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk FROM wf),
      sz AS (SELECT unnest([${Sizes.mkString(", ")}]) AS size)
      SELECT size,
             CAST(sum(CASE WHEN rnk <= size THEN 1 ELSE 0 END) AS BIGINT) AS vocab_words,
             CAST(sum(CASE WHEN rnk <= size THEN c ELSE 0 END) AS BIGINT) AS covered,
             CAST(min(t) AS BIGINT) AS total_tokens,
             round(CAST(sum(CASE WHEN rnk <= size THEN c ELSE 0 END) AS DOUBLE) / min(t), 6) AS coverage
      FROM ranked, sz, tot
      WHERE rnk <= ${Sizes.max}
      GROUP BY size ORDER BY size""")) { (s, dir) =>
      val tok = Tables.dfSpread(s, dir, "documents")
        .select(explode(Kit.words(col("text"))).as("w"))
      val wf = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = wf.agg(sum(col("c")).as("t"))
      val ranked = wf.orderBy(col("c").desc, col("w")).limit(Sizes.max)
        .withColumn("rnk", row_number().over(Window.orderBy(col("c").desc, col("w"))))
      val sz = tot.select(explode(array(Sizes.map(lit(_)): _*)).as("size"))
      ranked.crossJoin(broadcast(sz))
        .groupBy(col("size"))
        .agg(sum(when(col("rnk") <= col("size"), 1L).otherwise(0L)).as("vocab_words"),
          sum(when(col("rnk") <= col("size"), col("c")).otherwise(0L)).as("covered"))
        .crossJoin(broadcast(tot))
        .select(col("size"), col("vocab_words"), col("covered"),
          col("t").as("total_tokens"),
          round(col("covered").cast("double") / col("t"), 6).as("coverage"))
        .orderBy(col("size"))
    },

    // ------------------- dedup-cluster representatives (p68)

    // Composition of the dedup pipeline's last mile: p02's LSH candidate
    // pairs → p18's min-label propagation → one keeper per component by
    // quality (distinct-token ratio, doc_id tiebreak), singletons keeping
    // themselves. Scale shape: the component resolution is the audited
    // p18 loop; keeper selection is a row_number window per component
    // (cluster-size bounded) plus one component-keyed join-back.
    QueryDef("p68_cluster_reps", Some(s"""
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
      sc AS (
        SELECT doc_id, round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS score
        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
              FROM documents) x),
      lab AS (
        SELECT sc.doc_id, CAST(coalesce(comp.comp, sc.doc_id) AS BIGINT) AS component, score
        FROM sc LEFT JOIN comp ON sc.doc_id = comp.node),
      rep AS (
        SELECT component, doc_id AS rep_doc,
               row_number() OVER (PARTITION BY component ORDER BY score DESC, doc_id) AS rn
        FROM lab)
      SELECT l.doc_id, l.component, l.score, r.rep_doc, l.doc_id = r.rep_doc AS kept
      FROM lab l JOIN (SELECT component, rep_doc FROM rep WHERE rn = 1) r USING (component)
      ORDER BY l.doc_id""")) { (s, dir) =>
      val comps = ConnectedComponents.minLabelPropagation(
        Kit.minhashPairs(s, dir)
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
      val sc = Tables.dfSpread(s, dir, "documents")
        .withColumn("t", Kit.words(col("text")))
        .select(col("doc_id"),
          round(size(array_distinct(col("t"))).cast("double") / size(col("t")), 6).as("score"))
      val lab = sc.join(comps, sc("doc_id") === comps("node"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("component"), col("score"))
      val rep = lab
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("component")).orderBy(col("score").desc, col("doc_id"))))
        .filter(col("rn") === 1)
        .select(col("component"), col("doc_id").as("rep_doc"))
      lab.join(rep, "component")
        .select(col("doc_id"), col("component"), col("score"), col("rep_doc"),
          (col("doc_id") === col("rep_doc")).as("kept"))
        .orderBy(col("doc_id"))
    },

    // ----------------------- exact winsorization (p69)

    // Per-event-type p01/p99 bounds through ExactPercentile's TWO-PHASE
    // path: events.value is near-unique, so the one-level histogram would
    // shuffle data-sized state — exactly the case the module's scaladoc
    // routes to `refined` (phase A shuffles ~49 bucket cells per type,
    // phase B re-scans only candidate buckets). Both tail fractions melt
    // into one prepared frame (the q41 multi-measure pattern) so they
    // share phase A's scan; the 2-row-per-type bound frame then broadcasts
    // back onto the stream for clipping.
    QueryDef("p69_winsorize", Some(s"""
      WITH q AS (
        SELECT event_type,
               quantile_cont(value, $PLo) AS lo, quantile_cont(value, $PHi) AS hi
        FROM events GROUP BY event_type),
      w AS (
        SELECT e.event_type, e.value, q.lo, q.hi,
               least(greatest(e.value, q.lo), q.hi) AS wv,
               CASE WHEN e.value < q.lo OR e.value > q.hi THEN 1 ELSE 0 END AS clipped
        FROM events e JOIN q USING (event_type))
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             round(min(lo), 6) AS p01, round(min(hi), 6) AS p99,
             CAST(sum(clipped) AS BIGINT) AS n_clipped,
             round(CAST(sum(CAST(round(wv, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS mean_wins
      FROM w GROUP BY event_type ORDER BY event_type""")) { (s, dir) =>
      val ev = Tables.df(s, dir, "events").select(col("event_type"), col("value"))
      val prepared = ev
        .select(col("event_type"), col("value").cast("double").as("__v"),
          explode(array(
            struct(lit("lo").as("m"), lit(PLo).as("__p")),
            struct(lit("hi").as("m"), lit(PHi).as("__p")))).as("ms"))
        .select(col("event_type"), col("ms.m").as("m"), col("ms.__p").as("__p"),
          col("__v"), floor(col("__v") / BucketW).cast("long").as("__b"))
      val bounds = ExactPercentile.refinedDynamic(prepared, Seq("event_type", "m"), "res")
        .groupBy(col("event_type"))
        .agg(max(when(col("m") === "lo", col("res"))).as("lo"),
          max(when(col("m") === "hi", col("res"))).as("hi"))
      val w = ev.join(broadcast(bounds), "event_type")
        .withColumn("wv", least(greatest(col("value"), col("lo")), col("hi")))
        .withColumn("clipped",
          when(col("value") < col("lo") || col("value") > col("hi"), 1L).otherwise(0L))
      w.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(min(col("lo")), 6).as("p01"), round(min(col("hi")), 6).as("p99"),
          sum(col("clipped")).as("n_clipped"),
          round(Kit.rsum(col("wv"), 9)
            / count(lit(1)), 6).as("mean_wins"))
        .orderBy(col("event_type"))
    },

    // -------------------- weekly retention cohorts (p70)

    // Scale shape: first-event-per-user is one user-keyed partial-agg
    // shuffle; the activity join is user-keyed (co-partitioned with the
    // cohort frame — no broadcast needed, users are data-sized); the
    // matrix rollup is (weeks × offsets)-bounded. Week arithmetic stays on
    // integer day counts (both week starts are Monday truncations, so the
    // difference is an exact multiple of 7).
    QueryDef("p70_retention_cohorts", Some("""
      WITH fu AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cw
        FROM events GROUP BY user_id),
      cs AS (SELECT cw, count(*) AS cohort_size FROM fu GROUP BY cw),
      act AS (
        SELECT fu.cw,
               CAST(date_diff('day', fu.cw, date_trunc('week', e.ts)) // 7 AS INTEGER) AS week_offset,
               count(DISTINCT e.user_id) AS active
        FROM events e JOIN fu ON e.user_id = fu.user_id
        GROUP BY fu.cw, 2)
      SELECT CAST(act.cw AS DATE) AS cohort_week, week_offset,
             CAST(active AS BIGINT) AS active_users,
             CAST(cohort_size AS BIGINT) AS cohort_size,
             round(CAST(active AS DOUBLE) / cohort_size, 6) AS retention
      FROM act JOIN cs USING (cw)
      ORDER BY cohort_week, week_offset""")) { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
      val fu = ev.groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).as("cw"))
      val cs = fu.groupBy(col("cw")).agg(count(lit(1)).as("cohort_size"))
      val act = ev.join(fu, "user_id")
        .select(col("cw"),
          (datediff(date_trunc("week", col("ts")), col("cw")) / 7).cast("int").as("week_offset"),
          col("user_id"))
        .groupBy(col("cw"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("active"))
      act.join(cs, "cw")
        .select(col("cw").cast("date").as("cohort_week"), col("week_offset"),
          col("active").as("active_users"), col("cohort_size"),
          round(col("active").cast("double") / col("cohort_size"), 6).as("retention"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },

    // ------------------------- token entropy (p71)

    // Shannon entropy of each doc's token distribution via the exact
    // identity H = ln(n) - (Σ c·ln c)/n — the Σ is a DECIMAL sum of
    // 9dp-rounded terms, so summation order cannot leak into the hash.
    // Scale shape: one (doc, token) partial-agg shuffle (cells bounded by
    // per-doc vocabulary), then a doc-keyed reduce; map-only after that.
    QueryDef("p71_token_entropy", Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents),
      wc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
      h AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
               CAST(sum(CAST(round(c * ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(38,9))) AS DOUBLE) AS sclc
        FROM wc GROUP BY doc_id)
      SELECT doc_id, n_tok,
             round(ln(CAST(n_tok AS DOUBLE)) - sclc / n_tok, 6) AS entropy,
             round(CASE WHEN n_tok > 1
                        THEN (ln(CAST(n_tok AS DOUBLE)) - sclc / n_tok) / ln(CAST(n_tok AS DOUBLE))
                   END, 6) AS entropy_norm
      FROM h ORDER BY doc_id""")) { (s, dir) =>
      val wc = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), explode(Kit.words(col("text"))).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      val h = wc.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tok"),
          Kit.rsum(col("c") * log(col("c").cast("double")), 9).as("sclc"))
      val ent = log(col("n_tok").cast("double")) - col("sclc") / col("n_tok")
      h.select(col("doc_id"), col("n_tok"),
          round(ent, 6).as("entropy"),
          round(when(col("n_tok") > 1, ent / log(col("n_tok").cast("double"))), 6)
            .as("entropy_norm"))
        .orderBy(col("doc_id"))
    }
  )
}
