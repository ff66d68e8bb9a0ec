package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 33 — the distributed-numerics tier of a curation
  * stack: the linear-algebra, split-finding, and distribution-geometry
  * audits that run over embedding and token frames before a training mix is
  * committed.
  *
  *  - p125 PCA power iteration: the top principal component of the 64-dim
  *    embedding cloud, fit by 3 power iterations on the centered Gram
  *    operator. Each iteration is the p62 two-shuffle shape — a per-row
  *    projection reduction and a per-DIMENSION accumulation (64 cells,
  *    map-side combined) — with the unit vector held as driver model state
  *    and broadcast back. This is exactly how a 1000-executor PCA of a
  *    small component count runs (the classic tall-skinny regime: data
  *    never leaves the executors, only d-sized vectors move).
  *
  *  - p126 decision-stump split finder: the histogram-based best-split
  *    search that is the inner loop of every distributed GBDT (XGBoost /
  *    LightGBM approx mode): ONE pass builds per-(dimension, bin) class
  *    histograms (64×16 cells regardless of corpus size), then all 960
  *    candidate thresholds are scored by Gini gain on the tiny cell frame.
  *    The corpus-sized work is a single partial-agg shuffle; the argmax is
  *    histogram-sized.
  *
  *  - p127 Jensen–Shannon source-divergence matrix: pairwise JS divergence
  *    between per-source unigram distributions restricted to the corpus
  *    top-K vocabulary — the symmetric, bounded ([0, ln 2]) companion to
  *    p45's KL-to-corpus drift statistic, and the standard mixing-dashboard
  *    "how far apart are my sources" matrix. The top-K cap (TakeOrdered,
  *    never a global window) bounds every downstream frame to |S|²·K cells
  *    at ANY corpus size — the skew-safe path.
  *
  * Determinism conventions (the p62-proven set): features gridded to 6dp;
  * per-term products re-gridded (9/12dp) before DECIMAL summation so no
  * engine's reduction order leaks into the hash; cross-engine arithmetic
  * restricted to IEEE +,-,*,/ and sqrt (exactly specified) over identical
  * gridded doubles, with ln gridded at 9dp (the p45 convention).
  */
object PipelineQueries33 {

  private val Dim = 64
  private val Iters = 3
  private val TopK = 200
  private val NBins = 16
  /** GBDT-style min_child_weight: a candidate split must leave at least
    * this many rows on each side (kills 1-row noise leaves). */
  private val MinChild = 10

  val defs: Seq[QueryDef] = Seq(

    // --------------------------------------- PCA via power iteration (p125)
    QueryDef("p125_pca_power", Some {
      def iter(k: Int) = s"""
      d$k AS (
        SELECT e.vec_id, e.label,
               CAST(sum(CAST(round(v.w * e.xc, 12) AS DECIMAL(38,12))) AS DOUBLE) AS d
        FROM ex e JOIN v${k - 1} v USING (i) GROUP BY e.vec_id, e.label),
      g$k AS (
        SELECT e.i,
               CAST(sum(CAST(round(d.d * e.xc, 9) AS DECIMAL(38,9))) AS DOUBLE) AS g
        FROM ex e JOIN d$k d USING (vec_id) GROUP BY e.i),
      n$k AS (
        SELECT CAST(sum(CAST(round(g * g, 12) AS DECIMAL(38,12))) AS DOUBLE) AS n2
        FROM g$k),
      v$k AS (SELECT i, round(g / sqrt(n2), 9) AS w FROM g$k, n$k)"""
      s"""
      WITH exr AS (
        SELECT vec_id, label, unnest(xs) AS x, generate_subscripts(xs, 1) - 1 AS i
        FROM (SELECT vec_id, label,
                     list_transform(embedding, e -> round(CAST(e AS DOUBLE), 6)) AS xs
              FROM embeddings)),
      m AS (
        SELECT i, round(CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(*), 9) AS m
        FROM exr GROUP BY i),
      ex AS (
        SELECT vec_id, label, exr.i, round(x - m.m, 9) AS xc
        FROM exr JOIN m ON exr.i = m.i),
      v0 AS (SELECT unnest(range(0, $Dim)) AS i, 1.0 AS w),
      ${(1 to Iters).map(iter).mkString(",")},
      pf AS (
        SELECT e.vec_id, e.label,
               CAST(sum(CAST(round(v.w * e.xc, 12) AS DECIMAL(38,12))) AS DOUBLE) AS p
        FROM ex e JOIN v$Iters v USING (i) GROUP BY e.vec_id, e.label),
      nn AS (SELECT count(*) AS n FROM pf)
      SELECT label,
             CAST(count(*) AS BIGINT) AS n_vecs,
             round(CAST(sum(CAST(round(p, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6)
               AS mean_proj,
             round(sqrt(CAST(sum(CAST(round(p * p, 9) AS DECIMAL(38,9))) AS DOUBLE)
                        / count(*)), 6) AS rms_proj,
             round(sqrt((SELECT n2 FROM n$Iters)) / (SELECT n FROM nn), 6) AS eigenvalue
      FROM pf GROUP BY label ORDER BY label"""
    }) { (s, dir) =>
      // r18 OPTIMIZATION (guide §2.4/§1.2, same rewrite as p62): the old
      // shape exploded the corpus to |vecs|×64 rows and ran two shuffles
      // per power iteration (vec-keyed projection + i-keyed accumulation)
      // plus broadcast joins. Both reductions are order-free EXACT DECIMAL
      // sums, so they fold per ROW over the embedding array instead:
      //   d   = Σ_i round(v_i·xc_i, 12)  (array fold, scale-12 decimal)
      //   g_i = Σ_rows round(d·xc_i, 9)  (one agg, 64 sum columns)
      // Each iteration is ONE map-only corpus job with zero Exchange
      // (before: 2 Exchange + 2 BroadcastExchange); the checkpointed
      // centered frame is 64× fewer rows. The 64-cell g row is
      // re-exploded to a tiny frame so the norm and the rescale keep the
      // OLD sum/round expressions verbatim (engine-side rounding — v's
      // grid must come from the same round() kernel the oracle uses).
      // Results re-verified hash-identical vs DuckDB at sf0.001/sf0.01.
      // r19 (ADVICE #2): enforce the non-null, uniform-width invariant the
      // element_at folds rely on (see p62 note; assert_true is dead code on
      // well-formed data — re-verified hash-identical vs the oracle).
      val exs = Tables.dfSpread(s, dir, "embeddings")
        .filter(col("embedding").isNotNull)
        // null rows pass the assert: it holds in either conjunct order
        .filter(assert_true(col("embedding").isNull || size(col("embedding")) === Dim,
          concat(lit(s"p125: embedding width != $Dim: "),
            size(col("embedding")).cast("string"))).isNull)
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), e => round(e.cast("double"), 6)).as("xs"))
        .localCheckpoint()
      // per-dim means, engine-side rounding: identical expression to the
      // old groupBy(i) per-cell mean, as 64 agg columns over one pass
      val mExprs = (0 until Dim).map(i =>
        round(Kit.dsum(element_at(col("xs"), i + 1), 6) / count(lit(1)), 9).as(s"m$i"))
      val mRow = exs.agg(mExprs.head, mExprs.tail: _*).head()
      val mlit = array((0 until Dim).map(i => lit(mRow.getDouble(i))): _*)
      val ex = exs.select(col("vec_id"), col("label"),
        zip_with(col("xs"), mlit, (x, m) => round(x - m, 9)).as("xc"))
        .localCheckpoint()
      // index-ordered exact fold (operand precisions sized so no addition
      // hits the DECIMAL(38) cap — see p62 zCol for the rationale)
      def dCol(v: Array[Double]): Column = {
        val vlit = array(v.map(lit(_)): _*)
        aggregate(
          zip_with(col("xc"), vlit,
            (x, wi) => round(wi * x, 12).cast("decimal(25,12)")),
          lit(0).cast("decimal(37,12)"),
          (acc, t) => (acc + t).cast("decimal(37,12)"))
          .cast("double")
      }
      var v: Array[Double] = Array.fill(Dim)(1.0)
      var n2Last = 0.0
      for (_ <- 1 to Iters) {
        val scored = ex.select(col("xc"), dCol(v).as("d"))
        val gExprs = (0 until Dim).map(i =>
          Kit.rsum(col("d") * element_at(col("xc"), i + 1), 9).as(s"g$i"))
        val gRow = scored.agg(gExprs.head, gExprs.tail: _*)
          .localCheckpoint() // one corpus job; norm + rescale read 64 cells
        val g = gRow.select(posexplode(
          array((0 until Dim).map(i => col(s"g$i")): _*)).as(Seq("i", "g")))
        val n2 = g.agg(Kit.rsum(col("g") * col("g"), 12).as("n2"))
        n2Last = n2.head().getDouble(0)
        // engine-side rounding (never driver-side): v's grid must come from
        // the same round() kernel the oracle uses
        v = g.select(col("i"), round(col("g") / sqrt(lit(n2Last)), 9).as("w"))
          .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
      }
      val pf = ex.select(col("label"), dCol(v).as("p"))
        .localCheckpoint() // consumed by the per-label rollup AND the n count
      val nn = pf.agg(count(lit(1)).as("n"))
      val eig = nn.select(round(sqrt(lit(n2Last)) / col("n"), 6).as("eigenvalue"))
      pf.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          round(Kit.rsum(col("p"), 9)
            / count(lit(1)), 6).as("mean_proj"),
          round(sqrt(Kit.rsum(col("p") * col("p"), 9) / count(lit(1))), 6).as("rms_proj"))
        .crossJoin(broadcast(eig))
        .orderBy(col("label"))
    },

    // ------------------------------------ GBDT stump split finder (p126)
    // Threshold semantics: candidate t after bin b is edge(b+1) = -2+0.25(b+1);
    // left = rows with x in bins <= b. Empty cells merely drop duplicate
    // candidates — identically on both engines (same groupBy domain).
    QueryDef("p126_stump_split", Some(s"""
      WITH exu AS (
        SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
               generate_subscripts(xs, 1) - 1 AS i,
               unnest(xs) AS x
        FROM (SELECT label,
                     list_transform(embedding, e -> round(CAST(e AS DOUBLE), 6)) AS xs
              FROM embeddings)),
      exr AS (
        SELECT y, i,
               CAST(least(greatest(floor((x + 2.0) / 0.25), 0), ${NBins - 1})
                 AS INTEGER) AS bin
        FROM exu),
      hist AS (
        SELECT i, bin,
               CAST(sum(y) AS BIGINT) AS pos,
               CAST(sum(1 - y) AS BIGINT) AS neg
        FROM exr GROUP BY i, bin),
      cum AS (
        SELECT i, bin,
               sum(pos) OVER (PARTITION BY i ORDER BY bin) AS cp,
               sum(neg) OVER (PARTITION BY i ORDER BY bin) AS cn,
               sum(pos) OVER (PARTITION BY i) AS tp,
               sum(neg) OVER (PARTITION BY i) AS tn
        FROM hist),
      cand AS (
        SELECT i, bin, cp, cn, tp, tn,
               cp + cn AS nl, tp + tn - cp - cn AS nr, tp + tn AS tt
        FROM cum
        WHERE bin < ${NBins - 1} AND cp + cn >= $MinChild
          AND tp + tn - cp - cn >= $MinChild),
      scored AS (
        SELECT i, bin, nl, nr, cp, tp,
               (1.0 - (CAST(tp AS DOUBLE) / CAST(tt AS DOUBLE)) * (CAST(tp AS DOUBLE) / CAST(tt AS DOUBLE))
                    - (CAST(tn AS DOUBLE) / CAST(tt AS DOUBLE)) * (CAST(tn AS DOUBLE) / CAST(tt AS DOUBLE)))
               - (CAST(nl AS DOUBLE) / CAST(tt AS DOUBLE)) *
                 (1.0 - (CAST(cp AS DOUBLE) / CAST(nl AS DOUBLE)) * (CAST(cp AS DOUBLE) / CAST(nl AS DOUBLE))
                      - (CAST(cn AS DOUBLE) / CAST(nl AS DOUBLE)) * (CAST(cn AS DOUBLE) / CAST(nl AS DOUBLE)))
               - (CAST(nr AS DOUBLE) / CAST(tt AS DOUBLE)) *
                 (1.0 - (CAST(tp - cp AS DOUBLE) / CAST(nr AS DOUBLE)) * (CAST(tp - cp AS DOUBLE) / CAST(nr AS DOUBLE))
                      - (CAST(tn - cn AS DOUBLE) / CAST(nr AS DOUBLE)) * (CAST(tn - cn AS DOUBLE) / CAST(nr AS DOUBLE)))
               AS gain
        FROM cand),
      ranked AS (
        SELECT *, row_number() OVER (ORDER BY gain DESC, i, bin) AS rnk FROM scored)
      SELECT rnk, i AS dim, bin,
             -2.0 + 0.25 * (bin + 1) AS threshold,
             CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
             CAST(cp AS BIGINT) AS pos_left, CAST(tp - cp AS BIGINT) AS pos_right,
             round(gain, 6) AS gain
      FROM ranked WHERE rnk <= 5 ORDER BY rnk""")) { (s, dir) =>
      val exr = Tables.dfSpread(s, dir, "embeddings")
        .select(when(col("label") === 0, 1).otherwise(0).as("y"),
          posexplode(transform(col("embedding"), e => round(e.cast("double"), 6)))
            .as(Seq("i", "x")))
      val hist = exr
        .select(col("y"), col("i"),
          least(greatest(floor((col("x") + lit(2.0)) / lit(0.25)), lit(0L)),
            lit((NBins - 1).toLong)).cast("int").as("bin"))
        .groupBy(col("i"), col("bin"))
        .agg(sum(col("y")).as("pos"), sum(lit(1) - col("y")).as("neg"))
      val wCum = Window.partitionBy(col("i")).orderBy(col("bin"))
      val wTot = Window.partitionBy(col("i"))
      val cum = hist.select(col("i"), col("bin"),
        sum(col("pos")).over(wCum).as("cp"), sum(col("neg")).over(wCum).as("cn"),
        sum(col("pos")).over(wTot).as("tp"), sum(col("neg")).over(wTot).as("tn"))
      val cand = cum
        .withColumn("nl", col("cp") + col("cn"))
        .withColumn("nr", col("tp") + col("tn") - col("cp") - col("cn"))
        .withColumn("tt", col("tp") + col("tn"))
        .filter(col("bin") < (NBins - 1) && col("nl") >= MinChild && col("nr") >= MinChild)
      def f(c: Column) = c.cast("double")
      val gp = lit(1.0) - (f(col("tp")) / f(col("tt"))) * (f(col("tp")) / f(col("tt"))) -
        (f(col("tn")) / f(col("tt"))) * (f(col("tn")) / f(col("tt")))
      val gl = lit(1.0) - (f(col("cp")) / f(col("nl"))) * (f(col("cp")) / f(col("nl"))) -
        (f(col("cn")) / f(col("nl"))) * (f(col("cn")) / f(col("nl")))
      val gr = lit(1.0) -
        (f(col("tp") - col("cp")) / f(col("nr"))) * (f(col("tp") - col("cp")) / f(col("nr"))) -
        (f(col("tn") - col("cn")) / f(col("nr"))) * (f(col("tn") - col("cn")) / f(col("nr")))
      val scored = cand.withColumn("gain",
        gp - (f(col("nl")) / f(col("tt"))) * gl - (f(col("nr")) / f(col("tt"))) * gr)
      // the ranking window runs over the <= 64x15 candidate frame — bounded
      // at any corpus size (whitelisted in BoundedWindowSpec)
      val ranked = scored.withColumn("rnk",
        row_number().over(Window.orderBy(col("gain").desc, col("i"), col("bin"))))
      ranked.filter(col("rnk") <= 5)
        .select(col("rnk"), col("i").as("dim"), col("bin"),
          (lit(-2.0) + lit(0.25) * (col("bin") + 1).cast("double")).as("threshold"),
          col("nl").cast("bigint").as("n_left"), col("nr").cast("bigint").as("n_right"),
          col("cp").cast("bigint").as("pos_left"),
          (col("tp") - col("cp")).cast("bigint").as("pos_right"),
          round(col("gain"), 6).as("gain"))
        .orderBy(col("rnk"))
    },

    // ------------------------- Jensen–Shannon source-divergence matrix (p127)
    QueryDef("p127_js_source_divergence", Some(s"""
      WITH wc AS (
        SELECT source, w, count(*) AS c
        FROM (SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS w
              FROM documents)
        GROUP BY source, w),
      topk AS (
        SELECT w FROM (SELECT w, sum(c) AS cw FROM wc GROUP BY w)
        ORDER BY cw DESC, w LIMIT $TopK),
      sc AS (SELECT wc.source, wc.w, wc.c FROM wc JOIN topk USING (w)),
      ts AS (SELECT source, sum(c) AS t_s FROM sc GROUP BY source),
      p AS (
        SELECT sc.source, sc.w, CAST(sc.c AS DOUBLE) / CAST(ts.t_s AS DOUBLE) AS p
        FROM sc JOIN ts USING (source)),
      grid AS (
        SELECT a.source AS src_a, b.source AS src_b, t.w
        FROM ts a, ts b, topk t WHERE a.source < b.source),
      terms AS (
        SELECT g.src_a, g.src_b,
               coalesce(pa.p, 0.0) AS ta, coalesce(pb.p, 0.0) AS tb
        FROM grid g
        LEFT JOIN p pa ON pa.source = g.src_a AND pa.w = g.w
        LEFT JOIN p pb ON pb.source = g.src_b AND pb.w = g.w),
      kt AS (
        SELECT src_a, src_b,
               CASE WHEN ta > 0 AND tb > 0 THEN 1 ELSE 0 END AS shared,
               round(CASE WHEN ta > 0
                          THEN 0.5 * ta * round(ln(ta / ((ta + tb) / 2.0)), 9)
                          ELSE 0.0 END
                   + CASE WHEN tb > 0
                          THEN 0.5 * tb * round(ln(tb / ((ta + tb) / 2.0)), 9)
                          ELSE 0.0 END, 9) AS kterm
        FROM terms)
      SELECT src_a, src_b,
             CAST(sum(shared) AS BIGINT) AS n_shared,
             round(CAST(sum(CAST(kterm AS DECIMAL(38,9))) AS DOUBLE), 6) AS js
      FROM kt GROUP BY src_a, src_b ORDER BY src_a, src_b""")) { (s, dir) =>
      val wc = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), explode(Kit.words(col("text"))).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      // top-K vocabulary via TakeOrdered — never a global window over the
      // corpus-sized vocabulary (the skew-safe cap, bounded at any scale)
      val topk = wc.groupBy(col("w")).agg(sum(col("c")).as("cw"))
        .orderBy(col("cw").desc, col("w")).limit(TopK).select(col("w"))
      val sc = wc.join(broadcast(topk), "w").select(col("source"), col("w"), col("c"))
      val ts = sc.groupBy(col("source")).agg(sum(col("c")).as("t_s"))
      val p = sc.join(broadcast(ts), "source")
        .select(col("source"), col("w"),
          (col("c").cast("double") / col("t_s").cast("double")).as("p"))
      val grid = ts.select(col("source").as("src_a"))
        .crossJoin(broadcast(ts.select(col("source").as("src_b"))))
        .filter(col("src_a") < col("src_b"))
        .crossJoin(broadcast(topk))
      val terms = grid
        .join(broadcast(p.select(col("source").as("src_a"), col("w"), col("p").as("pa"))),
          Seq("src_a", "w"), "left")
        .join(broadcast(p.select(col("source").as("src_b"), col("w"), col("p").as("pb"))),
          Seq("src_b", "w"), "left")
        .select(col("src_a"), col("src_b"),
          coalesce(col("pa"), lit(0.0)).as("ta"), coalesce(col("pb"), lit(0.0)).as("tb"))
      val mHalf = (col("ta") + col("tb")) / lit(2.0)
      val kt = terms.select(col("src_a"), col("src_b"),
        when(col("ta") > 0 && col("tb") > 0, 1).otherwise(0).as("shared"),
        round(
          when(col("ta") > 0, lit(0.5) * col("ta") * round(log(col("ta") / mHalf), 9))
            .otherwise(0.0)
            + when(col("tb") > 0, lit(0.5) * col("tb") * round(log(col("tb") / mHalf), 9))
              .otherwise(0.0), 9).as("kterm"))
      kt.groupBy(col("src_a"), col("src_b"))
        .agg(sum(col("shared")).cast("bigint").as("n_shared"),
          round(Kit.dsum(col("kterm"), 9), 6).as("js"))
        .orderBy(col("src_a"), col("src_b"))
    })
}
