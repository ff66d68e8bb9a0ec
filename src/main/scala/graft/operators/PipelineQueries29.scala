package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 29 — data-selection classics: DSIR importance
  * weighting, robust MAD screening, count-min-sketch heavy hitters, and
  * k-center coreset selection.
  *
  *  - p111 DSIR importance weights (Xie et al. 2023, "Data Selection for
  *    Language Models via Importance Resampling"): per-document
  *    log-importance of a target unigram LM (here: the 'en' slice) over
  *    the raw-corpus LM, the standard way to up-sample raw crawl toward a
  *    curated target distribution. The two LMs are top-K vocabularies —
  *    bounded state regardless of corpus size — broadcast so scoring is
  *    map-only.
  *
  *  - p112 robust outlier screen on event values: per-type median/MAD
  *    z-scores (the 1.4826 consistency constant), the curation-grade
  *    alternative to mean/σ that p110 uses — MAD is immune to the very
  *    outliers it hunts. Medians via ExactPercentile (bounded histogram
  *    state, no group buffering).
  *
  *  - p113 count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005):
  *    a depth-4 × width-256 CMS built from the token frequency table,
  *    then the exact top-20 tokens joined against their sketch estimates
  *    to expose the overcount. The sketch is 1,024 counters regardless of
  *    corpus size — the mergeable-summary shape that replaces exact
  *    counting at 100 TB; buckets are md5-derived so both engines build
  *    bitwise-identical sketches.
  *
  *  - p114 k-center coreset (Gonzalez 1985 farthest-point traversal):
  *    pick 8 maximally-spread embeddings — the classic coreset /
  *    diversity-seeding pass before expensive labeling or kmeans++ init.
  *    k driver-paced iterations of one distributed argmax each (the
  *    model-sized-state pattern of p62): per-iteration work is one
  *    map-side min over a ≤k-row broadcast, never an all-pairs join.
  *    Distances fold per-dim in index order (IEEE-identical in both
  *    engines) and are rounded to 9dp before every comparison, with
  *    vec_id tie-breaks, so the traversal is engine-deterministic.
  */
object PipelineQueries29 {

  /** p111: vocabulary cap (the broadcastable LM size at any corpus scale). */
  private val VocabK = 500

  /** p112: robust z cut. */
  private val MadCut = 3.5

  /** p114: coreset size. */
  private val KCenter = 8

  /** Index-ordered squared L2 between two double arrays — a left fold, so
    * Spark and DuckDB accumulate in the same order and produce identical
    * doubles. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** The 8-step farthest-point oracle, generated as chained CTEs (ch0..ch7
    * each UNION the previous set with that iteration's argmax). */
  private def kcenterOracle: String = {
    val dist = "round(list_sum(list_transform(range(1, CAST(len(e.v) AS BIGINT) + 1), " +
      "j -> (e.v[j] - c.v[j]) * (e.v[j] - c.v[j]))), 9)"
    val steps = (1 until KCenter).map { i =>
      s"""cand$i AS (
         |  SELECT e.vec_id, min($dist) AS d
         |  FROM e, ch${i - 1} c GROUP BY e.vec_id),
         |pick$i AS (
         |  SELECT n.vec_id, e.v, $i AS it, n.d
         |  FROM cand$i n JOIN e ON n.vec_id = e.vec_id
         |  ORDER BY n.d DESC, n.vec_id LIMIT 1),
         |ch$i AS (SELECT * FROM ch${i - 1} UNION ALL SELECT * FROM pick$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ch0 AS (
       |  SELECT vec_id, v, 0 AS it, 0.0 AS d FROM e ORDER BY vec_id LIMIT 1),
       |$steps
       |SELECT it, vec_id, round(d, 6) AS sel_dist
       |FROM ch${KCenter - 1} ORDER BY it""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------- DSIR importance weights (p111)

    // Scale shape: both LMs reduce to top-K (tok, count) tables — ONE
    // token shuffle feeds both (the target slice is a conditional count,
    // not a second scan) — joined map-side via broadcast; the per-doc sum
    // is one partial-aggregated groupBy. OOV tokens take the same +0.5
    // smoothing mass in both engines. The ln-term sum is rounded at 6dp
    // (the p108 convention: per-group addend counts are doc-sized, so
    // cross-engine accumulation-order error is ~1e-14, far under the grid).
    QueryDef("p111_dsir_importance", Some("""
      WITH pt AS (
        SELECT doc_id, lang, unnest(string_split_regex(lower(text), '\s+')) AS tok
        FROM documents),
      tf AS (
        SELECT tok, count(*) AS rc,
               count(*) FILTER (WHERE lang = 'en') AS tc
        FROM pt GROUP BY tok),
      tot AS (
        SELECT sum(rc) AS rn, sum(tc) AS tn, count(*) AS v FROM tf),
      vocab AS (
        SELECT tok, rc, tc FROM (
          SELECT tok, rc, tc, row_number() OVER (ORDER BY rc DESC, tok) AS rnk
          FROM tf) t
        WHERE rnk <= 500)
      SELECT pt.doc_id,
             any_value(pt.lang) AS lang,
             CAST(count(*) AS BIGINT) AS n_toks,
             round(sum(ln((coalesce(vocab.tc, 0) + 0.5) / (tot.tn + 0.5 * tot.v))
                     - ln((coalesce(vocab.rc, 0) + 0.5) / (tot.rn + 0.5 * tot.v))), 6)
               AS log_weight
      FROM pt LEFT JOIN vocab ON pt.tok = vocab.tok CROSS JOIN tot
      GROUP BY pt.doc_id ORDER BY pt.doc_id""")) { (s, dir) =>
      val pt = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(Kit.words(col("text"))).as("tok"))
      val tf = pt.groupBy(col("tok"))
        .agg(count(lit(1)).as("rc"),
          count(when(col("lang") === "en", 1)).as("tc"))
      val tot = tf.agg(sum(col("rc")).as("rn"), sum(col("tc")).as("tn"),
        count(lit(1)).as("v"))
      val vocab = tf.orderBy(col("rc").desc, col("tok")).limit(VocabK)
      val term =
        log((coalesce(col("tc"), lit(0)) + 0.5) / (col("tn") + col("v") * 0.5)) -
        log((coalesce(col("rc"), lit(0)) + 0.5) / (col("rn") + col("v") * 0.5))
      pt.join(broadcast(vocab), Seq("tok"), "left")
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(first(col("lang")).as("lang"),
          count(lit(1)).as("n_toks"),
          round(sum(term), 6).as("log_weight"))
        .orderBy(col("doc_id"))
    },

    // ------------------- robust MAD event screen (p112)

    // Scale shape: two ExactPercentile passes (median, then MAD) on the
    // per-type value histogram — bounded state, no per-group buffering —
    // broadcast back so the flagging pass is map-only. med and MAD are
    // quantile midpoints of 2dp-exact doubles (exact halves), so the
    // robust z is derived from bitwise-identical inputs; no value can
    // straddle the two engines' 3.5σ fences.
    QueryDef("p112_mad_outliers", Some("""
      WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type),
      mad AS (
        SELECT e.event_type, quantile_cont(abs(e.value - med.med), 0.5) AS mad
        FROM events e JOIN med ON e.event_type = med.event_type
        GROUP BY e.event_type),
      z AS (
        SELECT e.event_id, e.event_type, e.value,
               (e.value - med.med) / (1.4826 * mad.mad) AS rz
        FROM events e
        JOIN med ON e.event_type = med.event_type
        JOIN mad ON e.event_type = mad.event_type
        WHERE mad.mad > 0)
      SELECT event_id, event_type, round(value, 6) AS value, round(rz, 4) AS rz
      FROM z WHERE abs(rz) > 3.5 ORDER BY event_id""")) { (s, dir) =>
      val e = Tables.df(s, dir, "events")
      val med = ExactPercentile.percentiles(e, "event_type", col("value"),
        Seq(0.5 -> "med"))
      val withMed = e.join(broadcast(med), Seq("event_type"))
      val mad = ExactPercentile.percentiles(withMed, "event_type",
        abs(col("value") - col("med")), Seq(0.5 -> "mad"))
      withMed.join(broadcast(mad), Seq("event_type"))
        .filter(col("mad") > 0)
        .withColumn("rz", (col("value") - col("med")) / (lit(1.4826) * col("mad")))
        .filter(abs(col("rz")) > MadCut)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"), round(col("rz"), 4).as("rz"))
        .orderBy(col("event_id"))
    },

    // --------------- count-min-sketch heavy hitters (p113)

    // Scale shape: ONE token shuffle builds the frequency table; the CMS
    // is a 4×256 re-aggregation of that table (the counters are constant
    // size at any corpus scale — this is the summary you'd actually ship
    // at 100 TB); estimates come from an 80-row × 1,024-row broadcast
    // join. All-integer outputs — the overcount is exact arithmetic.
    QueryDef("p113_cms_heavy_hitters", Some("""
      WITH pt AS (
        SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
        FROM documents),
      tf AS (SELECT tok, count(*) AS c FROM pt GROUP BY tok),
      ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
      cms AS (
        SELECT d, substr(md5(CAST(d AS VARCHAR) || ':' || tok), 1, 2) AS b,
               sum(c) AS s
        FROM tf CROSS JOIN ds GROUP BY d, b),
      top AS (
        SELECT tok, c FROM (
          SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rnk FROM tf) t
        WHERE rnk <= 20),
      ex AS (
        SELECT top.tok, top.c, ds.d,
               substr(md5(CAST(ds.d AS VARCHAR) || ':' || top.tok), 1, 2) AS b
        FROM top CROSS JOIN ds),
      est AS (
        SELECT ex.tok, ex.c, min(cms.s) AS est
        FROM ex JOIN cms ON ex.d = cms.d AND ex.b = cms.b
        GROUP BY ex.tok, ex.c)
      SELECT tok, CAST(c AS BIGINT) AS exact_count,
             CAST(est AS BIGINT) AS cms_estimate,
             CAST(est - c AS BIGINT) AS overcount
      FROM est ORDER BY exact_count DESC, tok""")) { (s, dir) =>
      val pt = Tables.dfSpread(s, dir, "documents")
        .select(explode(Kit.words(col("text"))).as("tok"))
      val tf = pt.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val ds = (0 until 4).map(lit(_))
      def bucket(d: Column, tok: Column): Column =
        substring(md5(concat(d.cast("string"), lit(":"), tok)), 1, 2)
      val cms = tf.select(col("c"), explode(array(ds: _*)).as("d"),
          col("tok"))
        .groupBy(col("d"), bucket(col("d"), col("tok")).as("b"))
        .agg(sum(col("c")).as("s"))
      val top = tf.orderBy(col("c").desc, col("tok")).limit(20)
      val ex = top.select(col("tok"), col("c"), explode(array(ds: _*)).as("d"))
        .withColumn("b", bucket(col("d"), col("tok")))
      ex.join(broadcast(cms), Seq("d", "b"))
        .groupBy(col("tok"), col("c"))
        .agg(min(col("s")).as("est"))
        .select(col("tok"), col("c").as("exact_count"),
          col("est").as("cms_estimate"), (col("est") - col("c")).as("overcount"))
        .orderBy(col("exact_count").desc, col("tok"))
    },

    // ------------------- k-center coreset (p114)

    // Driver-paced like p62: state is the ≤8-row chosen set (model-sized),
    // each iteration one distributed min-over-broadcast + argmax job; the
    // corpus is never joined with itself.
    QueryDef("p114_kcenter_coreset", Some(kcenterOracle)) { (s, dir) =>
      // r18 OPTIMIZATION (guide §2.4): the chosen set is ≤8 vectors of
      // model state — hold it on the DRIVER as plan literals instead of
      // re-deriving it from a filtered corpus scan + broadcast build each
      // iteration. min-over-chosen becomes least() over ≤8 per-row sqDist
      // terms (identical arithmetic/rounding on identical doubles), so the
      // crossJoin + groupBy(vec_id) shuffle disappears: each iteration is
      // ONE map + TakeOrdered job with zero Exchange (before: a broadcast-
      // build job + crossJoin + per-vec aggregation per iteration).
      // Results re-verified hash-identical vs DuckDB at sf0.001/sf0.01.
      val e = Tables.df(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .localCheckpoint() // KCenter scans of a small frame, one parquet read
      val firstRow = e.orderBy(col("vec_id")).limit(1)
        .select(col("vec_id"), col("v")).collect()(0)
      var chosenVecs = List(firstRow.getSeq[Double](1).toArray)
      var out = List((0, firstRow.getLong(0), 0.0))
      for (it <- 1 until KCenter) {
        val dCol = chosenVecs
          .map(cv => round(sqDist(col("v"), array(cv.map(lit(_)): _*)), 9))
          .reduce(least(_, _))
        val next = e.select(col("vec_id"), dCol.as("d"), col("v"))
          .orderBy(col("d").desc, col("vec_id"))
          .limit(1).collect()(0)
        chosenVecs ::= next.getSeq[Double](2).toArray
        out ::= ((it, next.getLong(0), next.getDouble(1)))
      }
      import s.implicits._
      out.reverse.toDF("it", "vec_id", "sel_dist")
        .select(col("it"), col("vec_id"), round(col("sel_dist"), 6).as("sel_dist"))
        .orderBy(col("it"))
    }
  )
}
