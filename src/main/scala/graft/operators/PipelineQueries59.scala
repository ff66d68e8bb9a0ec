package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 59 — agreement beyond kappa, corpus keyness,
  * categorical effect size, ranked-retrieval precision, serial residual
  * correlation, and the confusion-matrix quality panel:
  *
  *  - p247 Krippendorff's alpha (nominal, 2 coders): the
  *    chance-corrected agreement that, unlike p124's per-language Cohen's
  *    kappa, is defined from COINCIDENCES so it generalizes across coder
  *    counts and missing data, and differs numerically from kappa by
  *    using the pooled margin (Scott/Krippendorff) rather than per-coder
  *    margins. For the binary 2-coder complete case the whole statistic
  *    reduces to integer sufficient statistics: α = 1 − dis·(n−1)/(n₀·n₁)
  *    with n = 2·units, n₀/n₁ pooled label totals, dis = disagreeing
  *    units. Krippendorff (1970/2004).
  *
  *  - p248 Dunning log-likelihood keyness (signed G²): per-token
  *    likelihood-ratio test of en vs non-en usage — the keyness measure
  *    that stays calibrated at low counts where PMI (p46) explodes;
  *    complements p227's model-based Dirichlet log-odds with the
  *    model-free classic. Integer 2×2 per token from one conditional
  *    aggregation (no dense grid — a zero cell contributes a zero term by
  *    x·ln x → 0), G² rounded to 9dp BEFORE ranking so the top-15 cut is
  *    engine-portable, extracted with distributed top-k
  *    (TakeOrderedAndProject — the p216 probe pattern); the rank column is
  *    then numbered over the LIMIT 15 frame. Dunning (1993).
  *
  *  - p249 bias-corrected Cramér's V: the effect-size companion to p137's
  *    chi² (which answers "is lang independent of source?" but not "how
  *    strongly?"). Dense lang×source grid (zero-observed cells still
  *    contribute (0−E)²/E), per-cell 9dp DECIMAL terms, and the Bergsma
  *    (2013) small-sample correction φ²' = max(0, φ² − (r−1)(c−1)/(n−1))
  *    with shrunken r', c' — the uncorrected V is emitted beside it.
  *
  *  - p250 average precision (AP@10 / MAP): order-sensitive retrieval
  *    quality over the p216 BM25 probe frame with binary relevance
  *    DECOUPLED from the score (a hit is relevant iff the doc is
  *    substantial, n_chars ≥ 400 — the corpus's la label; defining
  *    relevance from the tf that drives BM25 made every AP exactly 1.0,
  *    a FixtureVacuity catch) — AP integrates precision AT each relevant
  *    hit, punishing
  *    early misses where NDCG's log discount (p216) is gentle and AUC
  *    (p133) ignores ranking depth entirely. Per-term windows are
  *    term-partitioned; P@k terms are exact rationals rounded to 9dp
  *    before the per-term reduce.
  *
  *  - p251 Durbin–Watson: first-order serial correlation of the residuals
  *    around the daily-count OLS trend — the regression-residual
  *    complement of p201's raw autocorrelation (a trending series shows
  *    high raw ACF even with independent residuals; DW detrends first).
  *    OLS from integer sums over the day frame (day index rebased to the
  *    span minimum keeps Σx² small), residual lag over the
  *    date-span-bounded frame, DW = Σ(eₜ−eₜ₋₁)²/Σeₜ², ρ̂ ≈ 1 − DW/2.
  *    Durbin & Watson (1950).
  *
  *  - p252 confusion-matrix quality panel: MCC, F1, balanced accuracy,
  *    and Youden's J for the p124 label pair read as truth (length
  *    criterion) vs prediction (stopword criterion) — the threshold-fixed
  *    complement of p133's ranking AUC, with MCC the margin-robust
  *    single number (Matthews 1975). Four corpus integers in, six exact
  *    ratios out.
  *
  * Determinism: integer sufficient statistics, per-row DECIMAL rounding
  * before float reduces, 9dp-rounded ranking keys, CAST-to-DOUBLE on
  * fractional literals, mirrored left-assoc chains, 6dp outputs, ordered
  * results.
  */
object PipelineQueries59 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- Krippendorff's alpha (p247)
    QueryDef("p247_krippendorff_alpha", Some("""
      WITH t AS (
        SELECT CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS la,
               CASE WHEN 20 * len(regexp_extract_all(lower(text),
                      '\b(the|and|of|to|in|a|is|for|on|with)\b'))
                    >= len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                    THEN 1 ELSE 0 END AS lb
        FROM documents),
      c AS (
        SELECT CAST(count(*) AS BIGINT) AS u,
               CAST(sum(CASE WHEN la <> lb THEN 1 ELSE 0 END) AS BIGINT) AS dis,
               CAST(sum(la + lb) AS BIGINT) AS n1
        FROM t)
      SELECT u AS n_units, dis AS n_disagree,
             2 * u - n1 AS n_zero, n1 AS n_one,
             round(1 - CAST(dis AS DOUBLE) * (2 * u - 1)
               / (CAST(2 * u - n1 AS DOUBLE) * n1), 6) AS alpha
      FROM c""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(Kit.annotatorLabels: _*)
      val c = t.agg(count(lit(1)).cast("bigint").as("u"),
        sum(when(col("la") =!= col("lb"), 1).otherwise(0)).cast("bigint").as("dis"),
        sum(col("la") + col("lb")).cast("bigint").as("n1"))
      c.select(col("u").as("n_units"), col("dis").as("n_disagree"),
        (lit(2) * col("u") - col("n1")).as("n_zero"), col("n1").as("n_one"),
        round(lit(1) - col("dis").cast("double") * (lit(2) * col("u") - 1)
          / ((lit(2) * col("u") - col("n1")).cast("double") * col("n1")), 6)
          .as("alpha"))
    },

    // --------------------- Dunning signed G^2 keyness (p248)
    QueryDef("p248_dunning_g2", Some("""
      WITH tok AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
               unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents),
      cw AS (
        SELECT w, CAST(sum(is_en) AS BIGINT) AS a,
               CAST(sum(1 - is_en) AS BIGINT) AS b
        FROM tok WHERE w <> '' GROUP BY w),
      tots AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
                      CAST(sum(b) AS BIGINT) AS tb FROM cw),
      g AS (
        SELECT w, a, b,
               round(2 * (
                 CASE WHEN a > 0 THEN a * ln(CAST(a AS DOUBLE)
                   / (CAST(ta AS DOUBLE) * (a + b) / (ta + tb))) ELSE 0 END
                 + CASE WHEN b > 0 THEN b * ln(CAST(b AS DOUBLE)
                   / (CAST(tb AS DOUBLE) * (a + b) / (ta + tb))) ELSE 0 END),
                 9) AS g2r,
               CASE WHEN CAST(a AS DOUBLE) * tb > CAST(b AS DOUBLE) * ta
                 THEN 1 ELSE -1 END AS sgn
        FROM cw, tots),
      top AS (
        SELECT w, a, b, g2r, sgn,
               row_number() OVER (ORDER BY g2r DESC, w) AS rnk
        FROM g QUALIFY rnk <= 15)
      SELECT rnk AS rank, w AS token, a AS cnt_en, b AS cnt_rest,
             round(sgn * g2r, 6) AS g2_signed
      FROM top ORDER BY rnk""")) { (s, dir) =>
      val tok = Tables.dfSpread(s, dir, "documents")
        .select(when(col("lang") === "en", 1).otherwise(0).as("is_en"),
          explode(Kit.words(col("text"))).as("w"))
        .filter(col("w") =!= "")
      val cw = tok.groupBy(col("w"))
        .agg(sum(col("is_en")).cast("bigint").as("a"),
          sum(lit(1) - col("is_en")).cast("bigint").as("b"))
      val tots = cw.agg(sum(col("a")).cast("bigint").as("ta"),
        sum(col("b")).cast("bigint").as("tb"))
      val g = cw.crossJoin(broadcast(tots)).select(col("w"), col("a"), col("b"),
        round(lit(2) * (
          when(col("a") > 0, col("a") * log(col("a").cast("double")
            / (col("ta").cast("double") * (col("a") + col("b"))
              / (col("ta") + col("tb"))))).otherwise(lit(0.0))
          + when(col("b") > 0, col("b") * log(col("b").cast("double")
            / (col("tb").cast("double") * (col("a") + col("b"))
              / (col("ta") + col("tb"))))).otherwise(lit(0.0))), 9).as("g2r"),
        when(col("a").cast("double") * col("tb")
          > col("b").cast("double") * col("ta"), 1).otherwise(-1).as("sgn"))
      // distributed top-k (TakeOrderedAndProject, the p216 pattern) — the
      // vocabulary never passes through a single-partition sort; the rank
      // numbering then runs over the LIMIT 15 frame (p47 whitelist class)
      val top = g.orderBy(col("g2r").desc, col("w")).limit(15)
      top.select(
          row_number().over(Window.orderBy(col("g2r").desc, col("w")))
            .cast("bigint").as("rank"),
          col("w").as("token"), col("a").as("cnt_en"), col("b").as("cnt_rest"),
          round(col("sgn") * col("g2r"), 6).as("g2_signed"))
        .orderBy(col("rank"))
    },

    // --------------------- bias-corrected Cramer's V (p249)
    QueryDef.sql("p249_cramers_v", """
      WITH o AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY lang, source),
      rm AS (SELECT lang, CAST(sum(c) AS BIGINT) AS rt FROM o GROUP BY lang),
      cm AS (SELECT source, CAST(sum(c) AS BIGINT) AS ct FROM o GROUP BY source),
      nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM o),
      cell AS (
        SELECT rm.lang, cm.source, rm.rt, cm.ct, COALESCE(o.c, 0) AS c
        FROM rm CROSS JOIN cm
        LEFT JOIN o ON o.lang = rm.lang AND o.source = cm.source),
      chi AS (
        SELECT CAST(sum(CAST(round(
                 (c - CAST(rt AS DOUBLE) * ct / n)
                   * (c - CAST(rt AS DOUBLE) * ct / n)
                   / (CAST(rt AS DOUBLE) * ct / n), 9) AS DECIMAL(38,9)))
               AS DOUBLE) AS chi2
        FROM cell, nn),
      dims AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM rm) AS r,
               (SELECT CAST(count(*) AS BIGINT) FROM cm) AS cc),
      fin AS (
        SELECT n, r, cc, chi2,
               chi2 / n AS phi2,
               greatest(CAST(0 AS DOUBLE),
                 chi2 / n - (CAST(r AS DOUBLE) - 1) * (cc - 1) / (n - 1)) AS phi2c,
               CAST(r AS DOUBLE) - (CAST(r AS DOUBLE) - 1) * (r - 1) / (n - 1) AS rc,
               CAST(cc AS DOUBLE) - (CAST(cc AS DOUBLE) - 1) * (cc - 1) / (n - 1) AS ccc
        FROM chi, dims, nn)
      SELECT n AS n_docs, r AS n_langs, cc AS n_sources,
             round(chi2, 6) AS chi2,
             round(sqrt(phi2 / least(CAST(r AS DOUBLE) - 1, cc - 1)), 6)
               AS cramers_v,
             round(sqrt(phi2c / least(rc - 1, ccc - 1)), 6) AS cramers_v_corrected
      FROM fin"""),

    // --------------------- average precision @10 (p250)
    QueryDef("p250_average_precision", Some("""
      WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        FROM documents),
      dl AS (SELECT doc_id, count(*) AS dl FROM tok WHERE tok <> ''
             GROUP BY doc_id),
      avgdl AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      probes AS (
        SELECT tok AS term FROM (
          SELECT tok, count(*) AS c,
                 row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
          FROM tok WHERE length(tok) >= 4 GROUP BY tok) t
        WHERE rn <= 6),
      tf AS (
        SELECT p.term, t.doc_id, count(*) AS tf
        FROM tok t JOIN probes p ON t.tok = p.term
        GROUP BY p.term, t.doc_id),
      scored AS (
        SELECT f.term, f.doc_id,
               CASE WHEN dd.n_chars >= 400 THEN 1 ELSE 0 END AS rel,
               CAST(f.tf AS DOUBLE) * 2.2
                 / (f.tf + 1.2 * (0.25 + 0.75 * d.dl / a.avgdl)) AS score
        FROM tf f JOIN dl d ON f.doc_id = d.doc_id
        JOIN documents dd ON f.doc_id = dd.doc_id, avgdl a),
      ranked AS (
        SELECT term, rel,
               row_number() OVER (PARTITION BY term
                 ORDER BY score DESC, doc_id) AS rn,
               sum(rel) OVER (PARTITION BY term
                 ORDER BY score DESC, doc_id
                 ROWS UNBOUNDED PRECEDING) AS cumrel
        FROM scored),
      rtot AS (SELECT term, CAST(sum(rel) AS BIGINT) AS nrel
               FROM scored GROUP BY term),
      ap AS (
        SELECT r.term,
               CAST(sum(CASE WHEN r.rel = 1 AND r.rn <= 10 THEN
                 CAST(round(CAST(r.cumrel AS DOUBLE) / r.rn, 9)
                   AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END)
                 AS DOUBLE)
                 / least(t.nrel, 10) AS ap10, t.nrel
        FROM ranked r JOIN rtot t ON r.term = t.term
        WHERE t.nrel > 0
        GROUP BY r.term, t.nrel)
      SELECT term, nrel AS n_relevant, round(ap10, 6) AS ap10,
             round((SELECT CAST(sum(CAST(round(ap10, 9) AS DECIMAL(38,9)))
               AS DOUBLE) / count(*) FROM ap), 6) AS map10
      FROM ap ORDER BY term""")) { (s, dir) =>
      // r18 OPTIMIZATION (guide §2.3/§2.4, the p216 prologue rewrite
      // verbatim): dl is a map-only array expression (the >0 filter
      // reproduces the old groupBy's implicit drop of zero-token docs) and
      // carries n_chars so the old third documents scan disappears; ONE
      // explode feeds one (tok, doc_id)-keyed partial-agg shuffle shared
      // by probes and tf through runtime ReuseExchange. Identical counts;
      // rows re-verified vs DuckDB at sf0.001/sf0.01.
      val docsTok = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          Kit.words(col("text")).as("tks"))
      val dlnc = docsTok
        .select(col("doc_id"), col("n_chars"),
          size(filter(col("tks"), t => t =!= "")).cast("long").as("dl"))
        .filter(col("dl") > 0)
      val avgdl = dlnc.agg((sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val tc = Kit.termCounts(docsTok)
      val probes = Kit.probeTerms(tc)
      val tf = tc.join(broadcast(probes), col("tok") === col("term"))
        .select(col("term"), col("doc_id"), col("c").as("tf"))
      val scored = tf.join(dlnc, "doc_id")
        .crossJoin(broadcast(avgdl))
        .select(col("term"), col("doc_id"),
          when(col("n_chars") >= 400, 1).otherwise(0).as("rel"),
          (col("tf").cast("double") * lit(2.2)
            / (col("tf") + lit(1.2) * (lit(0.25)
              + lit(0.75) * col("dl") / col("avgdl")))).as("score"))
      val wTerm = Window.partitionBy(col("term"))
        .orderBy(col("score").desc, col("doc_id"))
      val ranked = scored.select(col("term"), col("rel"),
        row_number().over(wTerm).as("rn"),
        sum(col("rel")).over(wTerm.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).as("cumrel"))
      val rtot = scored.groupBy(col("term"))
        .agg(sum(col("rel")).cast("bigint").as("nrel"))
      val ap = ranked.join(rtot, "term").filter(col("nrel") > 0)
        .groupBy(col("term"), col("nrel"))
        .agg((sum(when(col("rel") === 1 && col("rn") <= 10,
          Kit.rdec(col("cumrel").cast("double") / col("rn"), 9))
          .otherwise(Kit.dec(lit(0.0), 9))).cast("double")
          / least(col("nrel"), lit(10L))).as("ap10"))
      val map10 = ap.agg((Kit.rsum(col("ap10"), 9) / count(lit(1))).as("map10"))
      ap.crossJoin(broadcast(map10))
        .select(col("term"), col("nrel").as("n_relevant"),
          round(col("ap10"), 6).as("ap10"), round(col("map10"), 6).as("map10"))
        .orderBy(col("term"))
    },

    // --------------------- Durbin-Watson residual autocorrelation (p251)
    QueryDef("p251_durbin_watson", Some("""
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      base AS (SELECT min(d) AS d0 FROM dc),
      xy AS (
        SELECT date_diff('day', base.d0, dc.d) AS x, dc.c AS y
        FROM dc, base),
      s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM xy),
      fit AS (
        SELECT n,
               (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS b
        FROM s),
      ab AS (
        SELECT fit.n, fit.b,
               (CAST(s.sy AS DOUBLE) - fit.b * s.sx) / fit.n AS a
        FROM fit, s),
      e AS (
        SELECT x, y - ab.a - ab.b * x AS e
        FROM xy, ab),
      lagd AS (
        SELECT e, lag(e) OVER (ORDER BY x) AS ep
        FROM e),
      dw AS (
        SELECT CAST(sum(CAST(round((e - ep) * (e - ep), 9)
                 AS DECIMAL(38,9))) FILTER (WHERE ep IS NOT NULL)
               AS DOUBLE) AS num,
               CAST(sum(CAST(round(e * e, 9) AS DECIMAL(38,9)))
               AS DOUBLE) AS den
        FROM lagd)
      SELECT ab.n AS n_days, round(ab.b, 6) AS ols_slope,
             round(dw.num / dw.den, 6) AS dw_stat,
             round(1 - dw.num / dw.den / 2, 6) AS rho_hat
      FROM dw, ab""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val xy = Kit.dayIndex(dc).select(col("x"), col("c").as("y"))
      val ab = Kit.trend(xy)
      val e = xy.crossJoin(broadcast(ab))
        .select(col("x"), col("n"), col("b"),
          (col("y") - col("a") - col("b") * col("x")).as("e"))
      // the lag runs over the per-DAY frame — date-span-bounded (p232 class)
      val lagd = e.select(col("n"), col("b"), col("e"),
        lag(col("e"), 1).over(Window.orderBy(col("x"))).as("ep"))
      val dw = lagd.agg(
        max(col("n")).as("n"), max(col("b")).as("b"),
        sum(when(col("ep").isNotNull,
          Kit.rdec((col("e") - col("ep")) * (col("e") - col("ep")), 9))).cast("double").as("num"),
        Kit.rsum(col("e") * col("e"), 9).as("den"))
      dw.select(col("n").as("n_days"), round(col("b"), 6).as("ols_slope"),
        round(col("num") / col("den"), 6).as("dw_stat"),
        round(lit(1) - col("num") / col("den") / 2, 6).as("rho_hat"))
    },

    // --------------------- confusion-matrix quality panel (p252)
    QueryDef("p252_mcc_quality", Some("""
      WITH t AS (
        SELECT CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS la,
               CASE WHEN 20 * len(regexp_extract_all(lower(text),
                      '\b(the|and|of|to|in|a|is|for|on|with)\b'))
                    >= len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                    THEN 1 ELSE 0 END AS lb
        FROM documents),
      c AS (
        SELECT CAST(sum(la * lb) AS BIGINT) AS tp,
               CAST(sum(la * (1 - lb)) AS BIGINT) AS fn,
               CAST(sum((1 - la) * lb) AS BIGINT) AS fp,
               CAST(sum((1 - la) * (1 - lb)) AS BIGINT) AS tn
        FROM t)
      SELECT tp, fn, fp, tn,
             round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision_,
             round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall_,
             round(2 * CAST(tp AS DOUBLE) / (2 * CAST(tp AS DOUBLE) + fp + fn), 6)
               AS f1,
             round((CAST(tp AS DOUBLE) / (tp + fn)
               + CAST(tn AS DOUBLE) / (tn + fp)) / 2, 6) AS balanced_acc,
             round(CAST(tp AS DOUBLE) / (tp + fn)
               + CAST(tn AS DOUBLE) / (tn + fp) - 1, 6) AS youden_j,
             round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
               / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
                 * (CAST(tn AS DOUBLE) + fp) * (CAST(tn AS DOUBLE) + fn)), 6)
               AS mcc
      FROM c""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(Kit.annotatorLabels: _*)
      val c = t.agg(
        sum(col("la") * col("lb")).cast("bigint").as("tp"),
        sum(col("la") * (lit(1) - col("lb"))).cast("bigint").as("fn"),
        sum((lit(1) - col("la")) * col("lb")).cast("bigint").as("fp"),
        sum((lit(1) - col("la")) * (lit(1) - col("lb"))).cast("bigint").as("tn"))
      c.select(col("tp"), col("fn"), col("fp"), col("tn"),
        round(col("tp").cast("double") / (col("tp") + col("fp")), 6).as("precision_"),
        round(col("tp").cast("double") / (col("tp") + col("fn")), 6).as("recall_"),
        round(lit(2) * col("tp").cast("double")
          / (lit(2) * col("tp").cast("double") + col("fp") + col("fn")), 6).as("f1"),
        round((col("tp").cast("double") / (col("tp") + col("fn"))
          + col("tn").cast("double") / (col("tn") + col("fp"))) / 2, 6)
          .as("balanced_acc"),
        round(col("tp").cast("double") / (col("tp") + col("fn"))
          + col("tn").cast("double") / (col("tn") + col("fp")) - 1, 6)
          .as("youden_j"),
        round((col("tp").cast("double") * col("tn")
          - col("fp").cast("double") * col("fn"))
          / sqrt((col("tp").cast("double") + col("fp"))
            * (col("tp").cast("double") + col("fn"))
            * (col("tn").cast("double") + col("fp"))
            * (col("tn").cast("double") + col("fn"))), 6).as("mcc"))
    }
  )
}
