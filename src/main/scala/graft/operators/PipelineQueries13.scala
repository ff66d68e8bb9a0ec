package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 13 — corpus similarity, distributed model
  * fitting, and graph/sequence analytics:
  *
  *  - p61 TF-IDF doc-to-doc similarity: sparse cosine over an inverted
  *    token index (the classic pre-embedding near-dup/related-doc tool).
  *  - p62 quality-classifier training: a fixed-iteration batch-gradient
  *    logistic regression fit INSIDE the engine (fastText-style corpus
  *    quality filter, here lang='en' as the label) — each iteration is one
  *    map-side-combinable aggregate; the model is scalar state.
  *  - p63 Markov transition matrix over per-user event sequences (the
  *    behavioral prior a sessionized event stream feeds downstream).
  *  - p64 curriculum staging: per-doc mean unigram surprisal → exact
  *    quartile boundaries → 4 curriculum stages with token totals.
  *  - p65 langid evaluation: confusion counts + precision/recall/F1 of the
  *    p08 stopword classifier against the labeled corpus (the audit loop a
  *    production filter ships with).
  *  - p66 PageRank (3 fixed iterations, damping 0.85) over a
  *    deterministically derived doc-link graph — the iterative
  *    join+aggregate (Pregel) shape at engine level.
  *
  * Determinism conventions (see QueryDef scaladoc): every float reduction
  * is a DECIMAL sum of per-row terms rounded to a fixed scale, so neither
  * engine's summation order can leak into the hash; weights/ranks evolve
  * through IEEE-deterministic scalar ops on identical inputs, never through
  * order-dependent double accumulation.
  */
object PipelineQueries13 {

  /** p61: FIXED query set (every 50th doc under id 500 — constant size at
    * every corpus scale, the production shape of a pinned query workload)
    * and neighbors kept per query. */
  private val QMod = 50
  private val QCap = 500
  private val TopK = 5

  /** p62: gradient-descent iterations and learning rate (fixed —
    * determinism over tuning; chosen so the fit separates label 0 on the
    * synthetic embeddings with margin at both test scales). */
  private val Iters = 5
  private val Lr = 5.0
  private val Dim = 65 // 64 embedding dims + intercept

  /** p66: PageRank iterations and damping. */
  private val PrIters = 3
  private val Damping = 0.85

  val defs: Seq[QueryDef] = Seq(

    // -------------------- TF-IDF doc-to-doc cosine similarity (p61)

    // Scale shape: tf and df are one token-keyed shuffle each (map-side
    // combine collapses repeats); the pairing join streams the CORPUS side
    // against the BROADCAST query postings (the fixed query set is the
    // small side by construction — the p06 brute-force class), so no
    // corpus×corpus pair set ever materializes. On a Zipf vocabulary the
    // postings a query contributes are df-bounded per token; the synthetic
    // corpus's dense vocabulary makes candidate sets ~corpus-sized, which
    // this shape absorbs as a linear scan per query, not a blowup.
    // idf uses the smoothed ln((N+1)/(df+1))+1 form (strictly positive, so
    // dense synthetic vocabularies cannot zero every weight).
    QueryDef("p61_tfidf_topk", Some(s"""
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tk
        FROM documents),
      tf AS (SELECT doc_id, tk, count(*) AS tf FROM tok GROUP BY doc_id, tk),
      nn AS (SELECT count(*) AS n FROM documents),
      idf AS (
        SELECT tk, ln((CAST(n AS DOUBLE) + 1) / (count(*) + 1)) + 1 AS idf
        FROM tf, nn GROUP BY tk, n),
      w AS (
        SELECT tf.doc_id, tf.tk, tf.tf * idf.idf AS w
        FROM tf JOIN idf USING (tk)),
      nrm AS (
        SELECT doc_id,
               sqrt(CAST(sum(CAST(round(w * w, 9) AS DECIMAL(38,9))) AS DOUBLE)) AS nrm
        FROM w GROUP BY doc_id),
      qw AS (SELECT doc_id AS qid, tk, w AS wq
             FROM w WHERE doc_id % $QMod = 0 AND doc_id < $QCap),
      dt AS (
        SELECT qw.qid, w.doc_id AS cid,
               CAST(sum(CAST(round(qw.wq * w.w, 9) AS DECIMAL(38,9))) AS DOUBLE) AS dot
        FROM qw JOIN w ON qw.tk = w.tk AND w.doc_id <> qw.qid
        GROUP BY qw.qid, w.doc_id),
      sim AS (
        SELECT dt.qid, dt.cid, dt.dot / (nq.nrm * nc.nrm) AS cos,
               row_number() OVER (PARTITION BY dt.qid
                                  ORDER BY dt.dot / (nq.nrm * nc.nrm) DESC, dt.cid) AS rnk
        FROM dt JOIN nrm nq ON nq.doc_id = dt.qid
                JOIN nrm nc ON nc.doc_id = dt.cid)
      SELECT qid, rnk, cid, round(cos, 6) AS cosine
      FROM sim WHERE rnk <= $TopK ORDER BY qid, rnk""")) { (s, dir) =>
      val docs = Tables.dfSpread(s, dir, "documents")
      val tok = docs.select(col("doc_id"), explode(Kit.words(col("text"))).as("tk"))
      val tf = tok.groupBy(col("doc_id"), col("tk")).agg(count(lit(1)).as("tf"))
      val nn = docs.agg(count(lit(1)).as("n"))
      val idf = tf.groupBy(col("tk")).agg(count(lit(1)).as("dfreq"))
        .crossJoin(broadcast(nn))
        .select(col("tk"),
          (log((col("n").cast("double") + 1) / (col("dfreq") + 1)) + 1).as("idf"))
      // the weight frame feeds THREE consumers (norms, the query postings,
      // and the corpus side of the pairing join) — without a checkpoint
      // each consumer re-runs tokenize→tf→idf→join from the scan, which at
      // 100 TB is three redundant corpus reads (and 34 exchanges in the
      // audited plan). localCheckpoint materializes it once, same pattern
      // as p62's feature frame.
      val w = tf.join(idf, "tk")
        .select(col("doc_id"), col("tk"), (col("tf") * col("idf")).as("w"))
        .localCheckpoint()
      val nrm = w.groupBy(col("doc_id"))
        .agg(sqrt(Kit.rsum(col("w") * col("w"), 9)).as("nrm"))
      val qw = w.filter(col("doc_id") % QMod === 0 && col("doc_id") < QCap)
        .select(col("doc_id").as("qid"), col("tk").as("qtk"), col("w").as("wq"))
      val dt = w.join(broadcast(qw),
          col("tk") === col("qtk") && col("doc_id") =!= col("qid"))
        .groupBy(col("qid"), col("doc_id").as("cid"))
        .agg(Kit.rsum(col("wq") * col("w"), 9).as("dot"))
      val sim = dt
        .join(broadcast(nrm.select(col("doc_id").as("qid"), col("nrm").as("nq"))), "qid")
        .join(nrm.select(col("doc_id").as("cid"), col("nrm").as("nc")), "cid")
        .withColumn("cos", col("dot") / (col("nq") * col("nc")))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))))
      sim.filter(col("rnk") <= TopK)
        .select(col("qid"), col("rnk"), col("cid"), round(col("cos"), 6).as("cosine"))
        .orderBy(col("qid"), col("rnk"))
    },

    // ------------- logistic-regression quality classifier (p62)

    // Distributed model fitting as the engine sees it: a one-vs-rest
    // logistic regression (label 0 vs rest) over the 64-dim embeddings,
    // fit by $Iters batch-gradient iterations with balanced class weights.
    // Each iteration is two bounded shuffles — a per-row z reduction
    // (vec-keyed, 65 terms per vec) and a per-DIMENSION gradient reduction
    // (65 cells total, map-side combine) — with the 65-weight model held
    // as driver scalar state broadcast back into the next pass (the
    // documented scalar-convergence class: model state, never row data).
    // This is exactly how a 1000-executor fit of a small linear model
    // runs: parameters broadcast out, gradients tree-reduced back.
    //
    // Determinism: features are rounded to 6dp; per-term z products to
    // 12dp and per-row gradient terms to 9dp, both DECIMAL-summed, so
    // neither engine's reduction order can leak into the hash; the weight
    // update w += lr*g/n is IEEE arithmetic on identical doubles.
    QueryDef("p62_embed_logreg", Some {
      def iter(i: Int) = s"""
      z$i AS (
        SELECT e.vec_id, e.label, e.y, e.cw,
               CAST(sum(CAST(round(w.w * e.x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS z
        FROM ex e JOIN w${i - 1} w USING (i)
        GROUP BY e.vec_id, e.label, e.y, e.cw),
      p$i AS (SELECT vec_id, label, y, cw, 1.0 / (1.0 + exp(-z)) AS p FROM z$i),
      g$i AS (
        SELECT e.i, sum(CAST(round(e.cw * (e.y - p.p) * e.x, 9) AS DECIMAL(38,9))) AS gs
        FROM ex e JOIN p$i p USING (vec_id) GROUP BY e.i),
      w$i AS (
        SELECT g.i, w.w + $Lr * CAST(gs AS DOUBLE) / nn.n AS w
        FROM g$i g JOIN w${i - 1} w USING (i), nn)"""
      s"""
      WITH base AS (
        SELECT vec_id, label,
               CAST(CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y,
               list_prepend(1.0, list_transform(embedding, e -> round(CAST(e AS DOUBLE), 6))) AS xs
        FROM embeddings),
      nn AS (
        SELECT count(*) AS n, sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS npos
        FROM base),
      exb AS (
        SELECT vec_id, label, y, unnest(xs) AS x,
               generate_subscripts(xs, 1) - 1 AS i
        FROM base),
      ex AS (
        SELECT exb.*, CASE WHEN y = 1.0 THEN 0.5 * n / npos
                           ELSE 0.5 * n / (n - npos) END AS cw
        FROM exb, nn),
      w0 AS (SELECT unnest(range(0, $Dim)) AS i, 0.0 AS w),
      ${(1 to Iters).map(iter).mkString(",")},
      zf AS (
        SELECT e.vec_id, e.label,
               CAST(sum(CAST(round(w.w * e.x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS z
        FROM ex e JOIN w$Iters w USING (i) GROUP BY e.vec_id, e.label),
      scored AS (SELECT label, 1.0 / (1.0 + exp(-z)) AS p FROM zf)
      SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
             round(CAST(sum(CAST(round(p, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS avg_p,
             CAST(sum(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos
      FROM scored GROUP BY label ORDER BY label"""
    }) { (s, dir) =>
      // r18 OPTIMIZATION (guide §2.4/§1.2: remove shuffles outright; §4:
      // codegen-friendly expressions). The old shape exploded the corpus to
      // a |vecs|×65 row frame and ran TWO shuffles per iteration (a
      // vec-keyed z reduction and an i-keyed gradient reduction) plus a
      // broadcast join each — 2·Iters+1 shuffled passes. But both
      // reductions are order-free EXACT DECIMAL sums, so they can fold
      // per ROW over the feature array instead of per exploded cell:
      //   z     = Σ_i round(w_i·x_i, 12) as DECIMAL(38,12)  (array fold)
      //   g_i   = Σ_rows round(cw·(y−p)·x_i, 9) as DECIMAL(38,9)
      //           (one agg with 65 sum columns — map-side partial agg,
      //            65-cell final state)
      // Decimal addition is exact at these magnitudes, so any grouping /
      // order produces the bit-identical sum the oracle's GROUP BY gets —
      // results unchanged (re-verified vs DuckDB at sf0.001/sf0.01).
      // Each iteration is now ONE map-only job over the checkpointed
      // feature frame with ZERO Exchange (before: 2 Exchange + 2
      // BroadcastExchange per iteration); the frame itself is 65× smaller
      // than the old exploded checkpoint. At 100 TB: one corpus pass per
      // iteration, gradients tree-reduced as 65 decimal cells, model
      // broadcast as plan literals.
      // r19 (ADVICE #2): the per-row array folds rely on non-null,
      // uniform-width embeddings — drop nulls (the old exploded shape
      // dropped them implicitly) and assert the width instead of assuming
      // it (assert_true is dead code on well-formed data; re-verified
      // hash-identical vs the oracle).
      val base = Tables.dfSpread(s, dir, "embeddings")
        .filter(col("embedding").isNotNull)
        // null rows pass the assert: it holds in either conjunct order
        .filter(assert_true(col("embedding").isNull || size(col("embedding")) === Dim - 1,
          concat(lit(s"p62: embedding width != ${Dim - 1}: "),
            size(col("embedding")).cast("string"))).isNull)
        .select(col("vec_id"), col("label"),
          when(col("label") === 0, 1.0).otherwise(0.0).as("y"),
          concat(array(lit(1.0)),
            transform(col("embedding"), e => round(e.cast("double"), 6))).as("xs"))
        .localCheckpoint()
      val nnRow = base.agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("npos")).head()
      val (n, npos) = (nnRow.getLong(0), nnRow.getLong(1))
      val cw = when(col("y") === 1.0, lit(0.5 * n / npos))
        .otherwise(lit(0.5 * n / (n - npos)))
      // z as a per-row index-ordered fold: round(w_i·x_i,12) terms summed
      // at DECIMAL scale 12 — exact, so fold order is immaterial and the
      // value equals the old exploded GROUP BY sum bit-for-bit. Operand
      // precisions are sized so no addition exceeds DECIMAL(38): terms at
      // (25,12), accumulator at (37,12) ⇒ each add is (38,12) exactly,
      // explicitly re-cast to (37,12) (value-preserving at |z| « 1e25) —
      // otherwise Spark's precision-loss rule would silently shave the
      // scale to 11 and the fold would stop matching the oracle's SUM.
      def zCol(w: Array[Double]): Column = {
        val wlit = array(w.map(lit(_)): _*)
        aggregate(
          zip_with(col("xs"), wlit,
            (x, wi) => round(wi * x, 12).cast("decimal(25,12)")),
          lit(0).cast("decimal(37,12)"),
          (acc, t) => (acc + t).cast("decimal(37,12)"))
          .cast("double")
      }
      var w = Array.fill(Dim)(0.0)
      for (_ <- 1 to Iters) {
        // cw·(y−p) projected ONCE before the aggregate so each of the 65
        // gradient columns is a minimal round(scale·x_i) expression —
        // keeps the generated aggregate small and the per-iteration
        // Catalyst pass cheap. NOTE round(cw·(y−p)·x_i, 9) factors as
        // written: the product is formed left-to-right in both spellings,
        // (cw·(y−p))·x_i, so the rounded term is bit-identical.
        val scored = base.select(col("xs"),
          (cw * (col("y") - (lit(1.0) / (lit(1.0) + exp(-zCol(w)))))).as("s"))
        val gExprs = (0 until Dim).map(i =>
          sum(Kit.rdec(col("s") * element_at(col("xs"), i + 1), 9)).as(s"g$i"))
        val row = scored.agg(gExprs.head, gExprs.tail: _*).head()
        w = w.indices.map(j =>
          w(j) + Lr * row.getDecimal(j).doubleValue() / n).toArray
      }
      base
        .select(col("label"), (lit(1.0) / (lit(1.0) + exp(-zCol(w)))).as("p"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(Kit.rsum(col("p"), 9)
            / count(lit(1)), 6).as("avg_p"),
          sum(when(col("p") >= 0.5, 1L).otherwise(0L)).as("n_pred_pos"))
        .orderBy(col("label"))
    },

    // ------------------ Markov event-transition matrix (p63)

    // Scale shape: ONE user-keyed window (each user's events sort within
    // their partition — user cardinality spreads the work; no global sort),
    // then a transition-keyed partial-agg shuffle bounded by
    // |event_type|^2 cells; the probability normalization is a window over
    // that tiny cell table.
    QueryDef("p63_markov_transitions", Some("""
      WITH e AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        FROM events),
      c AS (
        SELECT event_type AS prev, nxt, count(*) AS n
        FROM e WHERE nxt IS NOT NULL GROUP BY event_type, nxt)
      SELECT prev, nxt, CAST(n AS BIGINT) AS n,
             round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev), 6) AS prob
      FROM c ORDER BY prev, nxt""")) { (s, dir) =>
      val nxt = lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id")))
      val c = Tables.df(s, dir, "events")
        .select(col("event_type").as("prev"), nxt.as("nxt"))
        .filter(col("nxt").isNotNull)
        .groupBy(col("prev"), col("nxt")).agg(count(lit(1)).as("n"))
      c.select(col("prev"), col("nxt"), col("n"),
          round(col("n").cast("double")
            / sum(col("n")).over(Window.partitionBy(col("prev"))), 6).as("prob"))
        .orderBy(col("prev"), col("nxt"))
    },

    // ----------------------- curriculum staging (p64)

    // Per-doc difficulty = mean unigram surprisal under the corpus's own
    // unigram distribution (rare-vocabulary docs score high); stage
    // boundaries are EXACT quartiles of the 3dp-rounded score — a
    // bounded-value domain by construction, so ExactPercentile's one-level
    // histogram shuffles ≤ a few thousand cells regardless of corpus size
    // (the decision rule its scaladoc prescribes); assignment compares each
    // doc against the broadcast 1-row boundary frame. Token counts join
    // against the vocab-sized count table — vocab-bounded, not data-sized.
    QueryDef("p64_curriculum_stages", Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tk
        FROM documents),
      tc AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk),
      tot AS (SELECT sum(c) AS t FROM tc),
      sc AS (
        SELECT doc_id, count(*) AS n_tok,
               round(CAST(sum(CAST(round(-ln(CAST(c AS DOUBLE) / t), 9) AS DECIMAL(38,9))) AS DOUBLE)
                     / count(*), 3) AS sc
        FROM tok JOIN tc USING (tk), tot GROUP BY doc_id),
      q AS (
        SELECT quantile_cont(sc, 0.25) AS q1, quantile_cont(sc, 0.5) AS q2,
               quantile_cont(sc, 0.75) AS q3
        FROM sc),
      st AS (
        SELECT n_tok, sc,
               CASE WHEN sc <= q1 THEN 0 WHEN sc <= q2 THEN 1
                    WHEN sc <= q3 THEN 2 ELSE 3 END AS stage
        FROM sc, q)
      SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS tok_sum,
             round(min(sc), 3) AS sc_min, round(max(sc), 3) AS sc_max
      FROM st GROUP BY stage ORDER BY stage""")) { (s, dir) =>
      val tok = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), explode(Kit.words(col("text"))).as("tk"))
      val tc = tok.groupBy(col("tk")).agg(count(lit(1)).as("c"))
      val tot = tc.agg(sum(col("c")).as("t"))
      val sc = tok.join(tc, "tk").crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          round(Kit.rsum(-log(col("c").cast("double") / col("t")), 9) / count(lit(1)), 3).as("sc"))
      val q = ExactPercentile.percentiles(
        sc.withColumn("g", lit(1)), "g", col("sc"),
        Seq(0.25 -> "q1", 0.5 -> "q2", 0.75 -> "q3")).drop("g")
      sc.crossJoin(broadcast(q))
        .select(col("n_tok"), col("sc"),
          when(col("sc") <= col("q1"), 0).when(col("sc") <= col("q2"), 1)
            .when(col("sc") <= col("q3"), 2).otherwise(3).as("stage"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"),
          round(min(col("sc")), 3).as("sc_min"), round(max(col("sc")), 3).as("sc_max"))
        .orderBy(col("stage"))
    },

    // ------------------------ langid evaluation (p65)

    // The audit loop for the p08 classifier: per-label confusion counts and
    // precision/recall/F1 against the corpus labels. zh has no stopword
    // rule, so the matrix must show zh recall 0 with its mass absorbed by
    // the 'en' default — the kind of blind spot this op exists to surface.
    // Scale shape: scoring is row-local; both rollups are |lang|-bounded.
    QueryDef("p65_langid_eval", Some("""
      WITH scored AS (
        SELECT lang,
               CASE WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr THEN 'es'
                    WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
                    ELSE 'en' END AS pred
        FROM (
          SELECT lang,
                 len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is'))) AS s_en,
                 len(list_filter(t, x -> x IN ('der','die','das','und','ist','ein'))) AS s_de,
                 len(list_filter(t, x -> x IN ('el','la','de','y','es','un'))) AS s_es,
                 len(list_filter(t, x -> x IN ('le','la','et','est','un','une'))) AS s_fr
          FROM (SELECT lang, string_split_regex(lower(text), '\s+') AS t
                FROM documents) x) sc),
      ls AS (
        SELECT lang, count(*) AS n_docs,
               sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS tp
        FROM scored GROUP BY lang),
      ps AS (SELECT pred AS lang, count(*) AS np FROM scored GROUP BY pred)
      SELECT ls.lang, CAST(n_docs AS BIGINT) AS n_docs, CAST(tp AS BIGINT) AS tp,
             CAST(coalesce(np, 0) - tp AS BIGINT) AS fp,
             CAST(n_docs - tp AS BIGINT) AS fn,
             round(CASE WHEN coalesce(np, 0) > 0 THEN CAST(tp AS DOUBLE) / np END, 6) AS prec,
             round(CAST(tp AS DOUBLE) / n_docs, 6) AS recall,
             round(CASE WHEN coalesce(np, 0) > 0 AND tp > 0
                        THEN 2 * (CAST(tp AS DOUBLE) / np) * (CAST(tp AS DOUBLE) / n_docs)
                             / (CAST(tp AS DOUBLE) / np + CAST(tp AS DOUBLE) / n_docs)
                   END, 6) AS f1
      FROM ls LEFT JOIN ps USING (lang) ORDER BY lang""")) { (s, dir) =>
      val hit = (t: Column, ws: Seq[String]) =>
        size(filter(t, x => x.isin(ws.map(lit(_)): _*)))
      val scored = Tables.dfSpread(s, dir, "documents")
        .withColumn("t", Kit.words(col("text")))
        .withColumn("s_en", hit(col("t"), Seq("the", "a", "and", "of", "to", "in", "is")))
        .withColumn("s_de", hit(col("t"), Seq("der", "die", "das", "und", "ist", "ein")))
        .withColumn("s_es", hit(col("t"), Seq("el", "la", "de", "y", "es", "un")))
        .withColumn("s_fr", hit(col("t"), Seq("le", "la", "et", "est", "un", "une")))
        .select(col("lang"),
          when(col("s_de") > col("s_en") && col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
            .when(col("s_es") > col("s_en") && col("s_es") > col("s_de") && col("s_es") >= col("s_fr"), "es")
            .when(col("s_fr") > col("s_en") && col("s_fr") > col("s_de") && col("s_fr") > col("s_es"), "fr")
            .otherwise("en").as("pred"))
      val ls = scored.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred") === col("lang"), 1L).otherwise(0L)).as("tp"))
      val ps = scored.groupBy(col("pred").as("lang")).agg(count(lit(1)).as("np"))
      val tpD = col("tp").cast("double")
      val prec = tpD / col("np")
      val rec = tpD / col("n_docs")
      ls.join(ps, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("tp"),
          (coalesce(col("np"), lit(0L)) - col("tp")).as("fp"),
          (col("n_docs") - col("tp")).as("fn"),
          round(when(coalesce(col("np"), lit(0L)) > 0, prec), 6).as("prec"),
          round(rec, 6).as("recall"),
          round(when(coalesce(col("np"), lit(0L)) > 0 && col("tp") > 0,
            lit(2) * prec * rec / (prec + rec)), 6).as("f1"))
        .orderBy(col("lang"))
    },

    // ------------------------------- PageRank (p66)

    // The iterative join+aggregate (Pregel) shape: each of the $PrIters
    // rounds is edges⋈ranks (both key-partitioned — co-locatable by one
    // upfront repartition at real scale) followed by a dst-keyed
    // partial-agg shuffle; rank state is one DECIMAL per node, never
    // per-edge. The link graph is derived deterministically from doc_id
    // ((7v+13) mod m, (31v+5) mod m — out-degree exactly 2, no dangling
    // nodes on the contiguous testdata id space; targets outside the node
    // set would drop their mass, the standard dangling simplification).
    // Contributions are rounded to 12dp and DECIMAL-summed; the rank
    // update is IEEE arithmetic on identical doubles — bit-equal across
    // engines with no order dependence.
    QueryDef("p66_pagerank", Some {
      def iter(i: Int) = s"""
      s$i AS (
        SELECT e.dst AS v,
               sum(CAST(round(CAST(r AS DOUBLE) / 2, 12) AS DECIMAL(38,12))) AS s
        FROM e JOIN r${i - 1} ON e.src = r${i - 1}.v GROUP BY e.dst),
      r$i AS (
        SELECT nodes.v,
               CAST(round(0.15 / n + $Damping * CAST(coalesce(s, 0) AS DOUBLE), 12)
                    AS DECIMAL(38,12)) AS r
        FROM nodes LEFT JOIN s$i ON nodes.v = s$i.v, nn)"""
      s"""
      WITH nn AS (SELECT count(*) AS n, max(doc_id) + 1 AS m FROM documents),
      nodes AS (SELECT doc_id AS v FROM documents),
      e AS (
        SELECT v AS src, (7 * v + 13) % m AS dst FROM nodes, nn
        UNION ALL
        SELECT v AS src, (31 * v + 5) % m AS dst FROM nodes, nn),
      r0 AS (SELECT v, CAST(round(1.0 / n, 12) AS DECIMAL(38,12)) AS r FROM nodes, nn),
      ${(1 to PrIters).map(iter).mkString(",")}
      SELECT v AS doc_id, round(CAST(r AS DOUBLE), 10) AS pr
      FROM r$PrIters ORDER BY r DESC, v LIMIT 20"""
    }) { (s, dir) =>
      val docs = Tables.df(s, dir, "documents")
      val nn = docs.agg(count(lit(1)).as("n"), (max(col("doc_id")) + 1).as("m"))
      val nodes = docs.select(col("doc_id").as("v"))
      val base = nodes.crossJoin(broadcast(nn))
      val e = base.select(col("v").as("src"),
        explode(array((lit(7) * col("v") + 13) % col("m"),
          (lit(31) * col("v") + 5) % col("m"))).as("dst"))
      var r = base.select(col("v"),
        Kit.rdec(lit(1.0) / col("n"), 12).as("r"))
      for (_ <- 1 to PrIters) {
        val contrib = e.join(r, col("src") === col("v"))
          .groupBy(col("dst"))
          .agg(sum(Kit.rdec(col("r").cast("double") / 2, 12)).as("s"))
        r = nodes.join(contrib, col("v") === col("dst"), "left")
          .crossJoin(broadcast(nn))
          .select(col("v"),
            Kit.rdec(lit(0.15) / col("n")
              + lit(Damping) * coalesce(col("s"), Kit.dec(lit(0), 12)).cast("double"),
              12).as("r"))
      }
      r.orderBy(col("r").desc, col("v")).limit(20)
        .select(col("v").as("doc_id"), round(col("r").cast("double"), 10).as("pr"))
    }
  )
}
