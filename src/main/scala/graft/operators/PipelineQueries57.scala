package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 57 — sequence predictability, unseen-vocabulary
  * estimation, robust trend magnitude, lead–lag coupling, distribution
  * shape, and the bounded-distance drift metric:
  *
  *  - p235 conditional bigram entropy: H(w₂|w₁) = H(w₁,w₂) − H(w₁) per
  *    language, both terms over the SAME bigram-token population (the
  *    first-word marginal comes from the bigram table, not the corpus
  *    unigram distribution — the classic off-by-one-population mistake).
  *    The predictability statistic that decides how compressible /
  *    templated a corpus slice is, complementing p71 (unigram entropy)
  *    and p168 (model-based perplexity) with the model-free sequence
  *    number. Count tables only; per-row DECIMAL c·ln c terms.
  *
  *  - p236 Chao1 unseen-vocabulary estimate: V + N1²/(2N2) per language
  *    on bigram types (N2=0 falls back to V + N1(N1−1)/2) — the
  *    capture–recapture answer to "how much vocabulary have we NOT seen",
  *    the estimator dual of p211's Good–Turing unseen MASS. Same
  *    frequency-of-frequencies table, constant-size reduce.
  *
  *  - p237 Theil–Sen slope: the robust trend MAGNITUDE for daily event
  *    counts — median of all pairwise day slopes, 29% breakdown point —
  *    pairing with p222 (Mann–Kendall decides IF there is a trend,
  *    Theil–Sen says HOW STEEP). The pair frame is the date-span-bounded
  *    day grid squared — constant at any corpus size.
  *
  *  - p238 lead–lag cross-correlation: Pearson r between the click and
  *    purchase daily series at lags −3..+3 — does one series LEAD the
  *    other? The cross-series complement of p201's autocorrelation. One
  *    literal lag frame joined on shifted dates; per-lag sums in DECIMAL.
  *
  *  - p239 skewness / kurtosis: per-source document-length shape from
  *    exact raw power sums (Σx..Σx⁴ in DECIMAL — order-free), with the
  *    bias-corrected G1/G2 next to the population g1/g2. The moment
  *    audit that tells heavy-tailed sources from merely high-variance
  *    ones (p86 stops at variance).
  *
  *  - p240 Hellinger length-histogram drift: per source vs the corpus
  *    over fixed 50-char buckets — the BOUNDED, symmetric,
  *    triangle-inequality member that completes the drift family (PSI
  *    p154 unbounded, KS p140 sup-based, CVM p162, JS p127, W1 p217);
  *    Hellinger is the one you can threshold portably because it never
  *    leaves [0,1]. Bucket cells only; absent cells contribute zero to
  *    the Bhattacharyya sum by algebra, so no dense grid is needed.
  *
  * Determinism: integer/DECIMAL sufficient statistics, per-row DECIMAL
  * rounding before every multi-row float reduce, literal lag/bucket
  * constants, mirrored left-assoc double chains, 6dp-rounded outputs,
  * ordered results.
  */
object PipelineQueries57 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- conditional bigram entropy (p235)
    QueryDef("p235_conditional_entropy", Some("""
      WITH t AS (
        SELECT lang, string_split_regex(lower(text), '\s+') AS t
        FROM documents),
      bg AS (
        SELECT lang, unnest(list_transform(
                 range(1, greatest(len(t) - 1, 0) + 1),
                 i -> array_to_string(t[i:i+1], ' '))) AS b
        FROM t),
      cb AS (SELECT lang, b, CAST(count(*) AS BIGINT) AS c
             FROM bg GROUP BY lang, b),
      fw AS (
        SELECT lang, unnest(t[1:len(t)-1]) AS w
        FROM t WHERE len(t) >= 2),
      cf AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
             FROM fw GROUP BY lang, w),
      sb AS (
        SELECT lang, CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(CAST(round(c * ln(CAST(c AS DOUBLE)), 9)
                 AS DECIMAL(38,9))) AS DOUBLE) AS clnc
        FROM cb GROUP BY lang),
      sf AS (
        SELECT lang,
               CAST(sum(CAST(round(c * ln(CAST(c AS DOUBLE)), 9)
                 AS DECIMAL(38,9))) AS DOUBLE) AS clnc
        FROM cf GROUP BY lang),
      h AS (
        SELECT sb.lang, sb.n,
               ln(CAST(sb.n AS DOUBLE)) - sb.clnc / sb.n AS h_joint,
               ln(CAST(sb.n AS DOUBLE)) - sf.clnc / sb.n AS h_first
        FROM sb JOIN sf ON sb.lang = sf.lang)
      SELECT lang, n AS n_bigrams,
             round(h_joint, 6) AS h_joint, round(h_first, 6) AS h_first,
             round(h_joint - h_first, 6) AS h_cond
      FROM h ORDER BY lang""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("lang"), Kit.words(col("text")).as("t"))
      val cb = t.select(col("lang"),
          explode(graft.Functions.wordShingles(col("t"), 2)).as("b"))
        .groupBy(col("lang"), col("b"))
        .agg(count(lit(1)).cast("bigint").as("c"))
      val cf = t.filter(size(col("t")) >= 2)
        .select(col("lang"),
          explode(slice(col("t"), lit(1), size(col("t")) - 1)).as("w"))
        .groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).cast("bigint").as("c"))
      def clnc = Kit.rsum(col("c") * log(col("c").cast("double")), 9)
      val sb = cb.groupBy(col("lang"))
        .agg(sum(col("c")).cast("bigint").as("n"), clnc.as("clnc"))
      val sf = cf.groupBy(col("lang")).agg(clnc.as("clnc_f"))
      val h = sb.join(sf, "lang").select(col("lang"), col("n"),
        (log(col("n").cast("double")) - col("clnc") / col("n")).as("h_joint"),
        (log(col("n").cast("double")) - col("clnc_f") / col("n")).as("h_first"))
      h.select(col("lang"), col("n").as("n_bigrams"),
          round(col("h_joint"), 6).as("h_joint"),
          round(col("h_first"), 6).as("h_first"),
          round(col("h_joint") - col("h_first"), 6).as("h_cond"))
        .orderBy(col("lang"))
    },

    // --------------------- Chao1 unseen-vocabulary estimate (p236)
    QueryDef("p236_chao1_richness", Some("""
      WITH bg AS (
        SELECT lang, unnest(list_transform(
                 range(1, greatest(len(t) - 1, 0) + 1),
                 i -> array_to_string(t[i:i+1], ' '))) AS b FROM (
          SELECT lang, string_split_regex(lower(text), '\s+') AS t
          FROM documents) d),
      tf AS (SELECT lang, b, CAST(count(*) AS BIGINT) AS r
             FROM bg GROUP BY lang, b),
      cc AS (SELECT lang, r, CAST(count(*) AS BIGINT) AS n_r
             FROM tf GROUP BY lang, r)
      SELECT lang,
             CAST(sum(n_r) AS BIGINT) AS v_obs,
             CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN r = 2 THEN n_r ELSE 0 END) AS BIGINT) AS n2,
             round(sum(n_r) + CASE
               WHEN sum(CASE WHEN r = 2 THEN n_r ELSE 0 END) > 0 THEN
                 CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS DOUBLE)
                   * sum(CASE WHEN r = 1 THEN n_r ELSE 0 END)
                   / (CAST(2.0 AS DOUBLE)
                     * sum(CASE WHEN r = 2 THEN n_r ELSE 0 END))
               ELSE CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS DOUBLE)
                 * (sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) - 1)
                 / CAST(2.0 AS DOUBLE) END, 6) AS chao1
      FROM cc GROUP BY lang ORDER BY lang""")) { (s, dir) =>
      val tf = Tables.dfSpread(s, dir, "documents")
        .select(col("lang"), explode(graft.Functions.wordShingles(
          Kit.words(col("text")), 2)).as("b"))
        .groupBy(col("lang"), col("b"))
        .agg(count(lit(1)).cast("bigint").as("r"))
      val cc = tf.groupBy(col("lang"), col("r"))
        .agg(count(lit(1)).cast("bigint").as("n_r"))
      val n1 = sum(when(col("r") === 1, col("n_r")).otherwise(0L))
      val n2 = sum(when(col("r") === 2, col("n_r")).otherwise(0L))
      cc.groupBy(col("lang")).agg(
          sum(col("n_r")).cast("bigint").as("v_obs"),
          n1.cast("bigint").as("n1"), n2.cast("bigint").as("n2"),
          round(sum(col("n_r")) + when(n2 > 0,
              n1.cast("double") * n1 / (lit(2.0) * n2))
            .otherwise(n1.cast("double") * (n1 - 1) / lit(2.0)), 6).as("chao1"))
        .orderBy(col("lang"))
    },

    // --------------------- Theil-Sen robust trend slope (p237)
    QueryDef("p237_theil_sen", Some("""
      WITH dc AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      sl AS (
        SELECT (CAST(b.c AS DOUBLE) - a.c)
                 / date_diff('day', a.d, b.d) AS slope
        FROM dc a JOIN dc b ON a.d < b.d)
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             round(median(slope), 6) AS theil_sen_slope
      FROM sl""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val a = dc.alias("a"); val b = dc.alias("b")
      // the pair frame is the day grid squared — date-span-bounded
      val sl = a.join(b, col("a.d") < col("b.d"))
        .select(((col("b.c").cast("double") - col("a.c"))
          / datediff(col("b.d"), col("a.d"))).as("slope"))
      sl.agg(count(lit(1)).cast("bigint").as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 6).as("theil_sen_slope"))
    },

    // --------------------- lead-lag cross-correlation (p238)
    QueryDef("p238_lead_lag_ccf", Some("""
      WITH x AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'click' GROUP BY 1),
      y AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      lags AS (SELECT CAST(unnest(range(-3, 4)) AS BIGINT) AS lag),
      p AS (
        SELECT lags.lag, x.c AS xc, y.c AS yc
        FROM lags JOIN x ON TRUE
        JOIN y ON y.d = x.d + CAST(lags.lag AS INTEGER)),
      a AS (
        SELECT lag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xc) AS BIGINT) AS sx, CAST(sum(yc) AS BIGINT) AS sy,
               CAST(sum(xc * yc) AS BIGINT) AS sxy,
               CAST(sum(xc * xc) AS BIGINT) AS sxx,
               CAST(sum(yc * yc) AS BIGINT) AS syy
        FROM p GROUP BY lag)
      SELECT lag, n AS n_days,
             round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                 * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)), 6)
               AS ccf_r
      FROM a ORDER BY lag""")) { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
      def daily(t: String) = Kit.dayCounts(ev.filter(col("event_type") === t))
      val x = daily("click").select(col("d"), col("c").as("xc"))
      val y = daily("purchase").select(col("d").as("dy"), col("c").as("yc"))
      val lags = s.range(-3, 4).select(col("id").as("lag"))
      val p = broadcast(lags).join(x)
        .join(y, col("dy") === date_add(col("d"), col("lag").cast("int")))
      val a = p.groupBy(col("lag")).agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("xc")).cast("bigint").as("sx"),
        sum(col("yc")).cast("bigint").as("sy"),
        sum(col("xc") * col("yc")).cast("bigint").as("sxy"),
        sum(col("xc") * col("xc")).cast("bigint").as("sxx"),
        sum(col("yc") * col("yc")).cast("bigint").as("syy"))
      a.select(col("lag"), col("n").as("n_days"),
          round((col("n") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy"))
            / sqrt((col("n") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx"))
              * (col("n") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy"))), 6).as("ccf_r"))
        .orderBy(col("lag"))
    },

    // --------------------- skewness / kurtosis shape audit (p239)
    QueryDef.sql("p239_shape_moments", """
      WITH d AS (
        SELECT source, CAST(n_chars AS DECIMAL(9,0)) AS x FROM documents),
      s AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS DECIMAL(38,0)) AS s1,
               CAST(sum(x * x) AS DECIMAL(38,0)) AS s2,
               CAST(sum(x * x * x) AS DECIMAL(38,0)) AS s3,
               CAST(sum(x * x * x * x) AS DECIMAL(38,0)) AS s4
        FROM d GROUP BY source),
      m AS (
        SELECT source, n, CAST(s1 AS DOUBLE) / n AS m1,
               CAST(s2 AS DOUBLE) / n AS r2,
               CAST(s3 AS DOUBLE) / n AS r3,
               CAST(s4 AS DOUBLE) / n AS r4
        FROM s),
      c AS (
        SELECT source, n, m1,
               r2 - m1 * m1 AS m2,
               r3 - CAST(3.0 AS DOUBLE) * m1 * r2 + CAST(2.0 AS DOUBLE) * m1 * m1 * m1 AS m3,
               r4 - CAST(4.0 AS DOUBLE) * m1 * r3 + CAST(6.0 AS DOUBLE) * m1 * m1 * r2
                 - CAST(3.0 AS DOUBLE) * m1 * m1 * m1 * m1 AS m4
        FROM m),
      g AS (
        SELECT source, n, m2,
               m3 / sqrt(m2 * m2 * m2) AS g1,
               m4 / (m2 * m2) - 3 AS g2
        FROM c)
      SELECT source, CAST(n AS BIGINT) AS n_docs,
             round(sqrt(m2), 6) AS stddev_pop,
             round(g1, 6) AS skew_g1_pop,
             round(g1 * sqrt(CAST(n AS DOUBLE) * (n - 1)) / (n - 2), 6) AS skew_g1_adj,
             round(g2, 6) AS kurt_g2_pop,
             round(((n + CAST(1.0 AS DOUBLE)) * g2 + 6) * (n - 1)
               / ((n - 2) * (CAST(n AS DOUBLE) - 3)), 6) AS kurt_g2_adj
      FROM g ORDER BY source"""),

    // --------------------- Hellinger length-histogram drift (p240)
    QueryDef.sql("p240_hellinger_drift", """
      WITH b AS (
        SELECT source, CAST(floor(n_chars / 50) AS BIGINT) AS bkt
        FROM documents),
      sc AS (SELECT source, bkt, CAST(count(*) AS BIGINT) AS c_s
             FROM b GROUP BY source, bkt),
      ns AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS n_s FROM sc
             GROUP BY source),
      gc AS (SELECT bkt, CAST(count(*) AS BIGINT) AS c_all FROM b GROUP BY bkt),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM b),
      term AS (
        SELECT sc.source,
               CAST(round(sqrt((CAST(sc.c_s AS DOUBLE) / ns.n_s)
                 * (CAST(gc.c_all AS DOUBLE) / tot.n_all)), 9)
                 AS DECIMAL(38,9)) AS t
        FROM sc JOIN ns ON sc.source = ns.source
        JOIN gc ON sc.bkt = gc.bkt, tot),
      bc AS (
        SELECT source, CAST(sum(t) AS DOUBLE) AS bc FROM term GROUP BY source)
      SELECT source, round(bc, 6) AS bhattacharyya,
             round(sqrt(greatest(CAST(1.0 AS DOUBLE) - bc, 0.0)), 6)
               AS hellinger
      FROM bc ORDER BY source"""),
  )
}
