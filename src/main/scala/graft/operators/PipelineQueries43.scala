package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 43 — nonparametric inference, mergeable quantile
  * sketching, and contrastive-pair auditing:
  *
  *  - p155 Mann–Whitney U (tie-corrected normal approximation) comparing
  *    `value` between the click and view event populations — the
  *    nonparametric sibling of p138's Welch t-test, the test a pipeline
  *    reaches for when the metric is skewed/ordinal. Computed at the
  *    VALUE level: one hash aggregation collapses the corpus to distinct
  *    values (the 2-decimal domain is bounded), midrank sums come from a
  *    window over that bounded frame, and every rank quantity stays
  *    integer-exact (2× midranks) until the final sigma.
  *
  *  - p156 mergeable equi-width histogram sketch (256 bins) over
  *    l_extendedprice with P50/P90/P99 read off by within-bin
  *    interpolation, audited against the exact quantiles — the
  *    constant-state sketch a 100 TB profile pass ships per split and
  *    merges by vector addition; the audit quantifies what the 256-bin
  *    resolution costs. Exact side runs ExactPercentile.refined (two-phase
  *    bucketed selection — the l_extendedprice domain is near-distinct, so
  *    the one-level histogram variant would shuffle data-sized state).
  *
  *  - p157 contrastive positive-pair audit: anchors blocked by
  *    (lang, length-bucket) — the cheap blocking a contrastive-pretraining
  *    sampler uses — each bucket capped to its first 15 docs by doc_id,
  *    all capped in-bucket pairs scored by unigram Jaccard. Reports, per
  *    lang, how many positive candidates the blocking yields and how
  *    lexically close they actually are (share >= 0.3). Pair volume is
  *    C(15,2)-bounded per bucket by construction.
  *
  *  - p158 lognormal fit of the document length distribution:
  *    method-of-moments mu/sigma of ln(n_chars) (9dp-rounded log terms,
  *    DECIMAL sufficient sums — the p154 convention) plus the empirical
  *    within-1-sigma coverage against the theoretical 68.27% — the
  *    one-pass sanity check that a corpus's length profile matches the
  *    lognormal assumption sampling curricula lean on.
  *
  *  - p159 quantile-normalization audit: each event population's `value`
  *    is mapped onto the GLOBAL value distribution via its within-group
  *    percent_rank interpolated through a 101-point global quantile grid
  *    (the batch-effect correction used to align heterogeneous sources);
  *    reported as post-normalization per-group mean/std — aligned groups
  *    should agree. The grid is constant-size (broadcast); the per-group
  *    rank is a partition-local sort window.
  *
  *  - p160 IDF-weighted Jaccard dedup: p17's capped-frequency blocking,
  *    but similarity weights each shared shingle by ln(N/df) so overlap
  *    on RARE content counts more than boilerplate — the dedup variant
  *    that resists template-heavy corpora. Weights are 9dp-rounded
  *    DECIMAL, numerator/denominator are DECIMAL sums, and the candidate
  *    set is the same near-linear capped-blocking one as p17.
  *
  * Determinism: integer or DECIMAL sufficient statistics everywhere;
  * libm ln terms rounded to 9dp per row before summing; sqrt is IEEE
  * exact; outputs rounded 4–6dp.
  */
object PipelineQueries43 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- Mann–Whitney U, tie-corrected (p155)
    QueryDef("p155_mann_whitney", Some("""
      WITH vv AS (
        SELECT value AS v,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cx,
               sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cy
        FROM events WHERE event_type IN ('click', 'view') GROUP BY value),
      cum AS (
        SELECT v, cx, cy, cx + cy AS t,
               coalesce(sum(cx + cy) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        FROM vv),
      agg AS (
        SELECT CAST(sum(cx) AS BIGINT) AS nx, CAST(sum(cy) AS BIGINT) AS ny,
               CAST(sum(cx * (2 * below + t + 1)) AS BIGINT) AS r2x,
               CAST(sum(t * t * t - t) AS BIGINT) AS ties
        FROM cum),
      stat AS (
        SELECT nx, ny,
               CAST(r2x AS DOUBLE) / 2 - CAST(nx AS DOUBLE) * (nx + 1) / 2 AS u,
               CAST(nx AS DOUBLE) * ny / 2 AS mu,
               sqrt(CAST(nx AS DOUBLE) * ny / 12.0 *
                 ((nx + ny + 1) - CAST(ties AS DOUBLE)
                   / (CAST(nx + ny AS DOUBLE) * (nx + ny - 1)))) AS sigma
        FROM agg)
      SELECT nx, ny, u, mu, round(sigma, 6) AS sigma,
             round((u - mu) / sigma, 4) AS z
      FROM stat""")) { (s, dir) =>
      // window over the DISTINCT-value frame (bounded 2-decimal domain),
      // never over the row-level corpus
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = Kit.clickViewCounts(Tables.df(s, dir, "events"))
        .withColumn("t", col("cx") + col("cy"))
        .withColumn("below", coalesce(sum(col("cx") + col("cy")).over(w), lit(0L)))
      val agg = cum.agg(
        sum(col("cx")).as("nx"), sum(col("cy")).as("ny"),
        sum(col("cx") * (lit(2) * col("below") + col("t") + 1)).as("r2x"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      val u = col("r2x").cast("double") / 2 -
        col("nx").cast("double") * (col("nx") + 1) / 2
      val mu = col("nx").cast("double") * col("ny") / 2
      val sigma = sqrt(col("nx").cast("double") * col("ny") / 12.0 *
        ((col("nx") + col("ny") + 1) - col("ties").cast("double") /
          ((col("nx") + col("ny")).cast("double") * (col("nx") + col("ny") - 1))))
      agg.select(
        col("nx"), col("ny"), u.as("u"), mu.as("mu"),
        round(sigma, 6).as("sigma"), round((u - mu) / sigma, 4).as("z"))
    },

    // --------------------- mergeable histogram quantile sketch (p156)
    QueryDef("p156_quantile_sketch", Some("""
      WITH st AS (
        SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
               count(*) AS n
        FROM lineitem),
      b AS (
        SELECT least(CAST(floor((l_extendedprice - lo)
                 / ((hi - lo) / 256.0)) AS BIGINT), 255) AS bin,
               count(*) AS c
        FROM lineitem, st GROUP BY 1),
      cb AS (
        SELECT bin, c,
               coalesce(sum(c) OVER (ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
        FROM b),
      qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
      est AS (
        SELECT q, min(lo + ((hi - lo) / 256.0)
                 * (bin + (q * (n - 1) - below + 0.5) / c)) AS est
        FROM qs, cb, st
        WHERE below <= q * (n - 1) AND q * (n - 1) < below + c
        GROUP BY q),
      ex AS (
        SELECT unnest([0.5, 0.9, 0.99]) AS q,
               unnest(quantile_cont(l_extendedprice, [0.5, 0.9, 0.99])) AS exact
        FROM lineitem)
      SELECT est.q AS q, round(est.est, 4) AS est, round(ex.exact, 4) AS exact,
             round(abs(est.est - ex.exact), 4) AS abs_err,
             round(abs(est.est - ex.exact) / ex.exact, 6) AS rel_err
      FROM est JOIN ex ON est.q = ex.q
      ORDER BY q""")) { (s, dir) =>
      val li = Tables.df(s, dir, "lineitem")
      val v = col("l_extendedprice")
      val st = li.agg(min(v).as("lo"), max(v).as("hi"), count(lit(1)).as("n"))
      // the sketch: one map-side-combinable aggregation to 256 cells — the
      // vector a 100 TB profile pass merges across splits by addition
      val width = (col("hi") - col("lo")) / 256.0
      val bins = li.crossJoin(broadcast(st))
        .select(least(floor((v - col("lo")) / width)
          .cast("long"), lit(255L)).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cb = bins.withColumn("below", coalesce(sum(col("c")).over(w), lit(0L)))
      val qs = Seq(0.5, 0.9, 0.99)
      val qsDf = s.range(1).select(explode(array(qs.map(lit): _*)).as("q"))
      val pos = col("q") * (col("n") - 1)
      val est = qsDf.crossJoin(cb).crossJoin(broadcast(st))
        .filter(col("below") <= pos && pos < col("below") + col("c"))
        .groupBy(col("q"))
        .agg(min(col("lo") + width *
          (col("bin") + (pos - col("below") + 0.5) / col("c"))).as("est"))
      // exact side: two-phase bucketed selection (near-distinct domain)
      val keyed = li.select(lit(0L).as("k"), v.as("price"))
      val exact = qs.map { q =>
        ExactPercentile.refined(keyed, "k", col("price"), Seq(q -> "exact"),
            bucket = x => floor(x / 1000.0))
          .select(lit(q).as("q"), col("exact"))
      }.reduce(_.unionAll(_))
      est.join(exact, "q")
        .select(col("q"), round(col("est"), 4).as("est"),
          round(col("exact"), 4).as("exact"),
          round(abs(col("est") - col("exact")), 4).as("abs_err"),
          round(abs(col("est") - col("exact")) / col("exact"), 6).as("rel_err"))
        .orderBy(col("q"))
    },

    // --------------------- contrastive positive-pair audit (p157)
    QueryDef("p157_contrastive_pairs", Some("""
      WITH d AS (
        SELECT doc_id, lang, CAST(floor(n_chars / 256.0) AS BIGINT) AS lb,
               list_distinct(string_split_regex(lower(text), '\s+')) AS tk
        FROM documents),
      r AS (
        SELECT doc_id, lang, lb, tk,
               row_number() OVER (PARTITION BY lang, lb ORDER BY doc_id) AS rk
        FROM d),
      cap AS (SELECT * FROM r WHERE rk <= 15),
      tok AS (SELECT doc_id, lang, lb, rk, unnest(tk) AS tok FROM cap),
      inter AS (
        SELECT a.lang AS lang, a.doc_id AS da, b.doc_id AS db, count(*) AS i
        FROM tok a JOIN tok b
          ON a.lang = b.lang AND a.lb = b.lb AND a.tok = b.tok AND a.rk < b.rk
        GROUP BY a.lang, a.doc_id, b.doc_id),
      sz AS (SELECT doc_id, len(tk) AS n FROM cap),
      allp AS (
        SELECT a.lang AS lang, a.doc_id AS da, b.doc_id AS db
        FROM cap a JOIN cap b
          ON a.lang = b.lang AND a.lb = b.lb AND a.rk < b.rk),
      pairs AS (
        SELECT p.lang,
               round(CAST(coalesce(i.i, 0) AS DOUBLE)
                 / (sa.n + sb.n - coalesce(i.i, 0)), 6) AS jac
        FROM allp p
        LEFT JOIN inter i ON i.da = p.da AND i.db = p.db
        JOIN sz sa ON sa.doc_id = p.da
        JOIN sz sb ON sb.doc_id = p.db)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_pairs,
             round(CAST(sum(CAST(jac AS DECIMAL(38,6))) AS DOUBLE)
               / count(*), 6) AS avg_jac,
             CAST(sum(CASE WHEN jac >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_close
      FROM pairs GROUP BY lang ORDER BY lang""")) { (s, dir) =>
      val d = Tables.dfSpread(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        floor(col("n_chars") / 256.0).cast("long").as("lb"),
        array_distinct(Kit.words(col("text"))).as("tk"))
      // bucket-partitioned rank: each (lang, length-bucket) sorts locally
      val byBucket = Window.partitionBy(col("lang"), col("lb")).orderBy(col("doc_id"))
      val cap = d.withColumn("rk", row_number().over(byBucket)).filter(col("rk") <= 15)
      val tok = cap.select(col("doc_id"), col("lang"), col("lb"), col("rk"),
        explode(col("tk")).as("tok"))
      val a = tok.alias("a")
      val b = tok.alias("b")
      val inter = a.join(b,
          col("a.lang") === col("b.lang") && col("a.lb") === col("b.lb") &&
            col("a.tok") === col("b.tok") && col("a.rk") < col("b.rk"))
        .groupBy(col("a.lang").as("lang"), col("a.doc_id").as("da"),
          col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("i"))
      val sz = cap.select(col("doc_id"), size(col("tk")).as("n"))
      val ca = cap.alias("ca")
      val cb2 = cap.alias("cb")
      val allp = ca.join(cb2,
          col("ca.lang") === col("cb.lang") && col("ca.lb") === col("cb.lb") &&
            col("ca.rk") < col("cb.rk"))
        .select(col("ca.lang").as("lang"), col("ca.doc_id").as("da"),
          col("cb.doc_id").as("db"))
      val jac = round(Kit.jaccard(coalesce(col("i"), lit(0L)), col("sa.n"), col("sb.n")), 6)
      allp
        .join(inter.drop("lang"), Seq("da", "db"), "left")
        .join(sz.alias("sa"), col("sa.doc_id") === col("da"))
        .join(sz.alias("sb"), col("sb.doc_id") === col("db"))
        .select(col("lang"), jac.as("jac"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_pairs"),
          round(Kit.dsum(col("jac"), 6) /
            count(lit(1)), 6).as("avg_jac"),
          sum(when(col("jac") >= 0.3, 1L).otherwise(0L)).as("n_close"))
        .orderBy(col("lang"))
    },

    // --------------------- lognormal length fit (p158)
    QueryDef("p158_lognormal_fit", Some("""
      WITH x AS (
        SELECT CAST(round(ln(n_chars), 9) AS DECIMAL(38,9)) AS lx
        FROM documents WHERE n_chars > 0),
      m AS (
        SELECT count(*) AS n,
               CAST(sum(lx) AS DECIMAL(38,9)) AS s1,
               CAST(sum(CAST(round(CAST(lx AS DOUBLE) * CAST(lx AS DOUBLE), 9)
                 AS DECIMAL(38,9))) AS DECIMAL(38,9)) AS s2
        FROM x),
      p AS (
        SELECT n, CAST(s1 AS DOUBLE) / n AS mu,
               sqrt(greatest(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0)) AS sigma
        FROM m),
      cov AS (
        SELECT count(*) AS n_in
        FROM x, p WHERE abs(CAST(lx AS DOUBLE) - mu) <= sigma)
      SELECT CAST(n AS BIGINT) AS n, round(mu, 6) AS mu,
             round(sigma, 6) AS sigma,
             round(CAST(n_in AS DOUBLE) / n, 6) AS cov_1s,
             round(CAST(n_in AS DOUBLE) / n - 0.682689, 6) AS delta_1s
      FROM p, cov""")) { (s, dir) =>
      val x = Tables.df(s, dir, "documents")
        .filter(col("n_chars") > 0)
        .select(Kit.rdec(log(col("n_chars")), 9).as("lx"))
      val m = x.agg(
        count(lit(1)).as("n"),
        sum(col("lx")).cast("decimal(38,9)").as("s1"),
        sum(Kit.rdec(col("lx").cast("double") * col("lx").cast("double"), 9))
          .cast("decimal(38,9)").as("s2"))
      val p = m.select(col("n"),
        (col("s1").cast("double") / col("n")).as("mu"),
        sqrt(greatest(col("s2").cast("double") / col("n") -
          (col("s1").cast("double") / col("n")) *
          (col("s1").cast("double") / col("n")), lit(0.0))).as("sigma"))
      // scalar (mu, sigma) broadcast back for the coverage pass
      val cov = x.crossJoin(broadcast(p))
        .filter(abs(col("lx").cast("double") - col("mu")) <= col("sigma"))
        .agg(count(lit(1)).as("n_in"))
      p.crossJoin(cov).select(
        col("n").cast("long").as("n"), round(col("mu"), 6).as("mu"),
        round(col("sigma"), 6).as("sigma"),
        round(col("n_in").cast("double") / col("n"), 6).as("cov_1s"),
        round(col("n_in").cast("double") / col("n") - 0.682689, 6).as("delta_1s"))
    },

    // --------------------- quantile-normalization audit (p159)
    QueryDef("p159_quantile_norm_audit", Some("""
      WITH grid AS (
        SELECT quantile_cont(value,
          list_transform(range(0, 101), i -> i / 100.0)) AS g
        FROM events),
      r AS (
        SELECT event_type, value,
               percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS pr
        FROM events),
      n AS (
        SELECT event_type,
               round(g[CAST(floor(pr * 100) AS INTEGER) + 1]
                 + (pr * 100 - floor(pr * 100))
                 * (g[least(CAST(floor(pr * 100) AS INTEGER) + 2, 101)]
                    - g[CAST(floor(pr * 100) AS INTEGER) + 1]), 6) AS nv
        FROM r, grid)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(nv AS DECIMAL(38,6))) AS DOUBLE)
               / count(*), 6) AS mean_norm,
             round(sqrt(greatest(
               CAST(sum(CAST(round(nv * nv, 9) AS DECIMAL(38,9))) AS DOUBLE)
                 / count(*)
               - (CAST(sum(CAST(nv AS DECIMAL(38,6))) AS DOUBLE) / count(*))
                 * (CAST(sum(CAST(nv AS DECIMAL(38,6))) AS DOUBLE) / count(*)),
               0)), 6) AS std_norm
      FROM n GROUP BY event_type ORDER BY event_type""")) { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
      val gridExpr = (0 to 100).map(i => i / 100.0).mkString(
        "percentile(value, array(", ", ", "))")
      val grid = ev.agg(expr(gridExpr).as("g"))
      val byType = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val pr = col("pr") * 100
      val lo = floor(pr).cast("int")
      val nv = round(
        element_at(col("g"), lo + 1) +
          (pr - floor(pr)) *
          (element_at(col("g"), least(lo + 2, lit(101))) -
            element_at(col("g"), lo + 1)), 6)
      ev.select(col("event_type"), col("value"))
        .withColumn("pr", percent_rank().over(byType))
        .crossJoin(broadcast(grid))
        .select(col("event_type"), nv.as("nv"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          round(Kit.dsum(col("nv"), 6) /
            count(lit(1)), 6).as("mean_norm"),
          round(sqrt(greatest(
            Kit.rsum(col("nv") * col("nv"), 9) / count(lit(1)) -
              (Kit.dsum(col("nv"), 6) /
                count(lit(1))) *
              (Kit.dsum(col("nv"), 6) /
                count(lit(1))),
            lit(0.0))), 6).as("std_norm"))
        .orderBy(col("event_type"))
    },

    // --------------------- IDF-weighted Jaccard dedup (p160)
    QueryDef("p160_idf_weighted_jaccard", Some("""
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS shingle FROM (
          SELECT doc_id, list_transform(
                   range(1, greatest(len(t) - 2, 0) + 1),
                   i -> array_to_string(t[i:i+2], ' ')) AS sh
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                FROM documents) x) y),
      df AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle),
      tot AS (SELECT count(*) AS corpus_n FROM documents),
      rare AS (
        SELECT sh.doc_id, sh.shingle,
               CAST(round(ln(CAST(corpus_n AS DOUBLE) / n_docs), 9)
                 AS DECIMAL(38,9)) AS idf
        FROM sh JOIN df ON sh.shingle = df.shingle, tot
        WHERE df.n_docs <= greatest(2,
          CAST(floor(corpus_n * 0.02) AS BIGINT))),
      wts AS (
        SELECT doc_id, CAST(sum(idf) AS DECIMAL(38,9)) AS w
        FROM rare GROUP BY doc_id),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(sum(a.idf) AS DECIMAL(38,9)) AS shared
        FROM rare a JOIN rare b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT doc_a, doc_b,
             round(CAST(shared AS DOUBLE)
               / (CAST(wa.w AS DOUBLE) + CAST(wb.w AS DOUBLE)
                  - CAST(shared AS DOUBLE)), 6) AS wjac
      FROM inter
      JOIN wts wa ON wa.doc_id = doc_a
      JOIN wts wb ON wb.doc_id = doc_b
      WHERE CAST(shared AS DOUBLE)
              / (CAST(wa.w AS DOUBLE) + CAST(wb.w AS DOUBLE)
                 - CAST(shared AS DOUBLE)) >= 0.4
      ORDER BY doc_a, doc_b""")) { (s, dir) =>
      // Capped TRUTH TIER (r15 VERDICT #3): measured DNF at 100x; the
      // byte-identical prefix-filtered twin p192 is the scale plan
      // (PrefixFilterTwinSpec), so oversized corpora are refused fast.
      val docs = TruthTier.guard(s, dir, "documents",
        "p160_idf_weighted_jaccard", "p192_wjaccard_prefix_filter")
      // r19 OPTIMIZATION (guide §2.5): pin the sh-by-shingle exchange to
      // session parallelism — AQE coalesced the rare join-back + self-join
      // fan-out stage onto 1-2 of 32 cores. Bounded by the guard above.
      val sh = Kit.pin(Kit.shingleRows(docs), "shingle")
      val rare = Kit.rareShingles(sh, docs)
        .select(col("doc_id"), col("shingle"), Kit.rareIdf.as("idf"))
      val wts = rare.groupBy(col("doc_id"))
        .agg(sum(col("idf")).cast("decimal(38,9)").as("w"))
      val a = rare.alias("a")
      val b = rare.alias("b")
      val inter = a.join(b, col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(sum(col("a.idf")).cast("decimal(38,9)").as("shared"))
      val wjac = Kit.jaccard(col("shared").cast("double"),
        col("wa.w").cast("double"), col("wb.w").cast("double"))
      inter
        .join(wts.alias("wa"), col("wa.doc_id") === col("doc_a"))
        .join(wts.alias("wb"), col("wb.doc_id") === col("doc_b"))
        .filter(wjac >= 0.4)
        .select(col("doc_a"), col("doc_b"), round(wjac, 6).as("wjac"))
        .orderBy(col("doc_a"), col("doc_b"))
    }
  )
}
