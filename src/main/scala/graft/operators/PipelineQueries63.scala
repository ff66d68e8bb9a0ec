package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 63 — series regularity/complexity, a robust
  * minimal trend test, single-outlier identification, paradox-resistant
  * rater agreement, partial autocorrelation, and first-relevant retrieval
  * quality:
  *
  *  - p271 sample entropy: SampEn(m=2, r=0.5σ) of the daily-volume series
  *    (Richman & Moorman 2000; r widened to 0.5σ — with only span−2 ≈ 28
  *    templates the classic 0.2σ leaves the length-3 match count A at zero
  *    and SampEn = −ln(A/B) undefined; 0.5σ keeps A positive at every SF) — the regularity complement of p256's Hurst
  *    (long memory) and p258's Markov entropy rate (symbol streams):
  *    −ln(A/B) over template pairs, where B counts length-2 template
  *    matches and A their length-3 extensions. The pair frame is
  *    (span²)-bounded — a calendar property (the p246 Pettitt class);
  *    integer count differences compare against the shared double radius.
  *
  *  - p272 Cox–Stuart: the sign test on (x_i, x_{i+⌈n/2⌉}) pairs — the
  *    assumption-free quick check whose verdict p222's Mann–Kendall and
  *    p237's Theil–Sen refine; S⁺/S⁻ are exact counts, ties dropped.
  *    Cox & Stuart (1955).
  *
  *  - p273 Grubbs: which single day most violates normal volume —
  *    G = max(ȳ−min, max−ȳ)/s with the achieving date, the
  *    IDENTIFICATION complement of p112's MAD outlier rate (population
  *    screening) and p60's rolling z-score (local deviation). Grubbs
  *    (1950).
  *
  *  - p274 Gwet AC1: chance-corrected agreement of the p124 labeler pair
  *    OVERALL, with the chance term 2π̂(1−π̂) from the pooled positive
  *    prevalence — the kappa-paradox-resistant coefficient (high observed
  *    agreement + skewed prevalence drives κ toward 0 while AC1 stays
  *    calibrated); κ on the same table is emitted for the contrast.
  *    Gwet (2008).
  *
  *  - p275 PACF: partial autocorrelation at lags 1–3 via the unrolled
  *    Durbin–Levinson recursion on the p201 ACF values — the AR-order
  *    diagnostic p201's raw ACF cannot give (an AR(1) series has
  *    geometric ACF at ALL lags but PACF zero past lag 1). Durbin (1960),
  *    Levinson (1947).
  *
  *  - p276 MRR / hit@10: mean reciprocal rank of the FIRST relevant
  *    result on the p250 BM25 probe setup (relevance decoupled from the
  *    score, per the p250 vacuity lesson) — the known-item complement of
  *    p216's NDCG (graded gain) and p250's AP (all-relevant precision).
  *    Voorhees (1999, TREC-8 QA).
  *
  * Determinism: integer sufficient statistics, 9dp rounding before every
  * multi-row float reduce, mirrored left-assoc chains, 6dp outputs,
  * deterministic tie-breaks (min date / doc_id ASC), ordered results.
  */
object PipelineQueries63 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- sample entropy of daily volume (p271)
    QueryDef("p271_sample_entropy", Some("""
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      st AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s1,
               CAST(sum(c * c) AS BIGINT) AS s2
        FROM dc),
      rr AS (
        SELECT n, CAST(0.5 AS DOUBLE) * sqrt(CAST(s2 AS DOUBLE) / n
          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS r
        FROM st),
      seq AS (
        SELECT c, lead(c, 1) OVER (ORDER BY d) AS y1,
               lead(c, 2) OVER (ORDER BY d) AS y2,
               row_number() OVER (ORDER BY d) AS rn
        FROM dc),
      tpl AS (SELECT c, y1, y2, rn FROM seq WHERE y2 IS NOT NULL),
      pr AS (
        SELECT CAST(count(*) FILTER (WHERE abs(a.c - b.c) <= rr.r
                 AND abs(a.y1 - b.y1) <= rr.r) AS BIGINT) AS bc,
               CAST(count(*) FILTER (WHERE abs(a.c - b.c) <= rr.r
                 AND abs(a.y1 - b.y1) <= rr.r
                 AND abs(a.y2 - b.y2) <= rr.r) AS BIGINT) AS ac
        FROM tpl a JOIN tpl b ON b.rn > a.rn, rr)
      SELECT rr.n AS n_days, pr.bc AS b_pairs, pr.ac AS a_pairs,
             round(-ln(CAST(pr.ac AS DOUBLE) / pr.bc), 6) AS sampen
      FROM pr, rr""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val st = dc.agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("c")).cast("bigint").as("s1"),
        sum(col("c") * col("c")).cast("bigint").as("s2"))
      val rr = st.select(col("n"),
        (lit(0.5) * sqrt(col("s2").cast("double") / col("n")
          - (col("s1").cast("double") / col("n"))
            * (col("s1").cast("double") / col("n")))).as("r"))
      val w = Window.orderBy(col("d"))
      val tpl = dc.select(col("c"), lead(col("c"), 1).over(w).as("y1"),
          lead(col("c"), 2).over(w).as("y2"),
          row_number().over(w).as("rn"))
        .filter(col("y2").isNotNull)
      // (span^2)-bounded template pair frame — the p246 Pettitt class.
      // broadcast() is load-bearing: the build side is the calendar-bounded
      // day frame, but at 100x synth the planner's size estimate for the
      // aggregated input exceeded the broadcast threshold and flipped this
      // inequality join to CartesianProduct (ScaleCheck-caught)
      val b = tpl.select(col("c").as("bc0"), col("y1").as("by1"),
        col("y2").as("by2"), col("rn").as("brn"))
      val pr = tpl.join(broadcast(b), col("brn") > col("rn"))
        .crossJoin(broadcast(rr))
        .agg(sum(when(abs(col("c") - col("bc0")) <= col("r")
          && abs(col("y1") - col("by1")) <= col("r"), 1L).otherwise(0L))
          .cast("bigint").as("bc"),
          sum(when(abs(col("c") - col("bc0")) <= col("r")
            && abs(col("y1") - col("by1")) <= col("r")
            && abs(col("y2") - col("by2")) <= col("r"), 1L).otherwise(0L))
            .cast("bigint").as("ac"))
      pr.crossJoin(broadcast(rr))
        .select(col("n").as("n_days"), col("bc").as("b_pairs"),
          col("ac").as("a_pairs"),
          round(-log(col("ac").cast("double") / col("bc")), 6).as("sampen"))
    },

    // --------------------- Cox-Stuart paired trend sign test (p272)
    QueryDef("p272_cox_stuart", Some("""
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dc),
      r AS (SELECT c, row_number() OVER (ORDER BY d) AS rn FROM dc),
      pr AS (
        SELECT a.c AS x, b.c AS y
        FROM r a JOIN nn ON true
        JOIN r b ON b.rn = a.rn + (nn.n + 1) // 2
        WHERE a.rn <= nn.n // 2),
      agg AS (
        SELECT CAST(sum(CASE WHEN y > x THEN 1 ELSE 0 END) AS BIGINT) AS sp,
               CAST(sum(CASE WHEN y < x THEN 1 ELSE 0 END) AS BIGINT) AS sm
        FROM pr)
      SELECT agg.sp + agg.sm AS n_pairs, agg.sp AS s_plus, agg.sm AS s_minus,
             round(CAST(agg.sp - agg.sm AS DOUBLE) / sqrt(agg.sp + agg.sm), 6)
               AS z_stat
      FROM agg""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val nn = dc.agg(count(lit(1)).cast("bigint").as("n"))
      val r = dc.select(col("c"),
        row_number().over(Window.orderBy(col("d"))).cast("bigint").as("rn"))
      val b = r.select(col("c").as("y"), col("rn").as("brn"))
      val pr = r.crossJoin(broadcast(nn))
        .filter(col("rn") <= floor(col("n") / 2))
        .join(b, col("brn") === col("rn") + floor((col("n") + 1) / 2))
        .select(col("c").as("x"), col("y"))
      val agg = pr.agg(
        sum(when(col("y") > col("x"), 1L).otherwise(0L)).cast("bigint").as("sp"),
        sum(when(col("y") < col("x"), 1L).otherwise(0L)).cast("bigint").as("sm"))
      agg.select((col("sp") + col("sm")).as("n_pairs"), col("sp").as("s_plus"),
        col("sm").as("s_minus"),
        round((col("sp") - col("sm")).cast("double")
          / sqrt(col("sp") + col("sm")), 6).as("z_stat"))
    },

    // --------------------- Grubbs extreme studentized deviate (p273)
    QueryDef("p273_grubbs_extremes", Some("""
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      st AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s1,
               CAST(sum(c * c) AS BIGINT) AS s2,
               CAST(max(c) AS BIGINT) AS cmax, CAST(min(c) AS BIGINT) AS cmin
        FROM dc),
      ms AS (
        SELECT n, cmax, cmin, CAST(s1 AS DOUBLE) / n AS mu,
               sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                 / (n - 1)) AS sd
        FROM st),
      g AS (
        SELECT n, cmax, cmin, mu, sd,
               (cmax - mu) / sd AS gmax, (mu - cmin) / sd AS gmin,
               CASE WHEN (cmax - mu) / sd >= (mu - cmin) / sd
                    THEN 'high' ELSE 'low' END AS side
        FROM ms),
      pk AS (
        SELECT min(dc.d) AS outlier_date
        FROM dc, g
        WHERE dc.c = CASE WHEN g.side = 'high' THEN g.cmax ELSE g.cmin END)
      SELECT g.n AS n_days, pk.outlier_date, g.side,
             round(CASE WHEN g.gmax >= g.gmin THEN g.gmax ELSE g.gmin END, 6)
               AS g_stat
      FROM g, pk""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val st = dc.agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("c")).cast("bigint").as("s1"),
        sum(col("c") * col("c")).cast("bigint").as("s2"),
        max(col("c")).cast("bigint").as("cmax"),
        min(col("c")).cast("bigint").as("cmin"))
      val ms = st.select(col("n"), col("cmax"), col("cmin"),
        (col("s1").cast("double") / col("n")).as("mu"),
        sqrt((col("s2").cast("double")
          - col("s1").cast("double") * col("s1") / col("n")) / (col("n") - 1))
          .as("sd"))
      val g = ms.select(col("n"), col("cmax"), col("cmin"), col("mu"), col("sd"),
        ((col("cmax") - col("mu")) / col("sd")).as("gmax"),
        ((col("mu") - col("cmin")) / col("sd")).as("gmin"),
        when((col("cmax") - col("mu")) / col("sd")
          >= (col("mu") - col("cmin")) / col("sd"), "high")
          .otherwise("low").as("side"))
      val pk = dc.crossJoin(broadcast(g))
        .filter(col("c") === when(col("side") === "high", col("cmax"))
          .otherwise(col("cmin")))
        .agg(min(col("d")).as("outlier_date"))
      g.crossJoin(pk).select(col("n").as("n_days"), col("outlier_date"),
        col("side"),
        round(when(col("gmax") >= col("gmin"), col("gmax"))
          .otherwise(col("gmin")), 6).as("g_stat"))
    },

    // --------------------- Gwet AC1 vs kappa, overall (p274)
    QueryDef("p274_gwet_ac1", Some("""
      WITH t AS (
        SELECT CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS la,
               CASE WHEN 20 * len(regexp_extract_all(lower(text),
                      '\b(the|and|of|to|in|a|is|for|on|with)\b'))
                    >= len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                    THEN 1 ELSE 0 END AS lb
        FROM documents),
      c AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(la * lb) AS BIGINT) AS a,
               CAST(sum(la * (1 - lb)) AS BIGINT) AS b,
               CAST(sum((1 - la) * lb) AS BIGINT) AS c,
               CAST(sum((1 - la) * (1 - lb)) AS BIGINT) AS d
        FROM t),
      p AS (
        SELECT n, CAST(a + d AS DOUBLE) / n AS po,
               CAST(a + b AS DOUBLE) / n AS pa1,
               CAST(a + c AS DOUBLE) / n AS pb1
        FROM c),
      e AS (
        SELECT n, po, pa1, pb1,
               2 * ((pa1 + pb1) / 2) * (1 - (pa1 + pb1) / 2) AS peg,
               pa1 * pb1 + (1 - pa1) * (1 - pb1) AS pek
        FROM p)
      SELECT n AS n_docs, round(po, 6) AS po,
             round((po - peg) / (1 - peg), 6) AS ac1,
             round((po - pek) / (1 - pek), 6) AS kappa_overall
      FROM e""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(Kit.annotatorLabels: _*)
      val c = t.agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("la") * col("lb")).cast("bigint").as("a"),
        sum(col("la") * (lit(1) - col("lb"))).cast("bigint").as("b"),
        sum((lit(1) - col("la")) * col("lb")).cast("bigint").as("c"),
        sum((lit(1) - col("la")) * (lit(1) - col("lb"))).cast("bigint").as("d"))
      val p = c.select(col("n"),
        ((col("a") + col("d")).cast("double") / col("n")).as("po"),
        ((col("a") + col("b")).cast("double") / col("n")).as("pa1"),
        ((col("a") + col("c")).cast("double") / col("n")).as("pb1"))
      def piHat = (col("pa1") + col("pb1")) / 2
      val e = p.select(col("n"), col("po"), col("pa1"), col("pb1"),
        (lit(2) * piHat * (lit(1) - piHat)).as("peg"),
        (col("pa1") * col("pb1")
          + (lit(1) - col("pa1")) * (lit(1) - col("pb1"))).as("pek"))
      e.select(col("n").as("n_docs"), round(col("po"), 6).as("po"),
        round((col("po") - col("peg")) / (lit(1) - col("peg")), 6).as("ac1"),
        round((col("po") - col("pek")) / (lit(1) - col("pek")), 6)
          .as("kappa_overall"))
    },

    // --------------------- PACF via Durbin-Levinson, lags 1-3 (p275)
    QueryDef("p275_pacf_durbin_levinson", Some("""
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1),
      m AS (SELECT CAST(sum(c) AS DOUBLE) / count(*) AS mu FROM daily),
      rn AS (SELECT c, row_number() OVER (ORDER BY d) AS r FROM daily),
      pairs AS (
        SELECT l.lag, a.c AS c, b.c AS cp
        FROM rn a, (SELECT unnest(range(1, 4)) AS lag) l
        JOIN rn b ON a.r = b.r + l.lag),
      acf AS (
        SELECT lag,
               CAST(sum(CAST(round((c - (SELECT mu FROM m))
                 * (cp - (SELECT mu FROM m)), 9) AS DECIMAL(38,9)))
                 AS DOUBLE) AS num
        FROM pairs GROUP BY lag),
      den AS (
        SELECT CAST(sum(CAST(round((c - (SELECT mu FROM m))
          * (c - (SELECT mu FROM m)), 9) AS DECIMAL(38,9))) AS DOUBLE) AS ss
        FROM daily),
      rv AS (
        SELECT max(CASE WHEN lag = 1 THEN num END) / (SELECT ss FROM den) AS r1,
               max(CASE WHEN lag = 2 THEN num END) / (SELECT ss FROM den) AS r2,
               max(CASE WHEN lag = 3 THEN num END) / (SELECT ss FROM den) AS r3
        FROM acf),
      dl AS (
        SELECT r1, r2, r3,
               (r2 - r1 * r1) / (1 - r1 * r1) AS p22
        FROM rv),
      dl2 AS (
        SELECT r1, r2, r3, p22, r1 * (1 - p22) AS p21
        FROM dl)
      SELECT CAST(1 AS BIGINT) AS lag, round(r1, 6) AS acf,
             round(r1, 6) AS pacf FROM dl2
      UNION ALL
      SELECT CAST(2 AS BIGINT), round(r2, 6), round(p22, 6) FROM dl2
      UNION ALL
      SELECT CAST(3 AS BIGINT), round(r3, 6),
             round((r3 - p21 * r2 - p22 * r1)
               / (1 - p21 * r1 - p22 * r2), 6) FROM dl2
      ORDER BY lag""")) { (s, dir) =>
      val daily = Kit.dayCounts(Tables.df(s, dir, "events"))
      val rv = Kit.lagPairs(daily, 3).agg(
        (max(when(col("lag") === 1, col("num"))) / first(col("ss"))).as("r1"),
        (max(when(col("lag") === 2, col("num"))) / first(col("ss"))).as("r2"),
        (max(when(col("lag") === 3, col("num"))) / first(col("ss"))).as("r3"))
      val dl = rv.select(col("r1"), col("r2"), col("r3"),
        ((col("r2") - col("r1") * col("r1"))
          / (lit(1) - col("r1") * col("r1"))).as("p22"))
      val dl2 = dl.select(col("r1"), col("r2"), col("r3"), col("p22"),
        (col("r1") * (lit(1) - col("p22"))).as("p21"))
      val l1 = dl2.select(lit(1L).as("lag"), round(col("r1"), 6).as("acf"),
        round(col("r1"), 6).as("pacf"))
      val l2 = dl2.select(lit(2L).as("lag"), round(col("r2"), 6).as("acf"),
        round(col("p22"), 6).as("pacf"))
      val l3 = dl2.select(lit(3L).as("lag"), round(col("r3"), 6).as("acf"),
        round((col("r3") - col("p21") * col("r2") - col("p22") * col("r1"))
          / (lit(1) - col("p21") * col("r1") - col("p22") * col("r2")), 6)
          .as("pacf"))
      l1.union(l2).union(l3).orderBy(col("lag"))
    },

    // --------------------- MRR and hit@10 on BM25 probes (p276)
    QueryDef("p276_mrr_hit_at_k", Some("""
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
                 ORDER BY score DESC, doc_id) AS rn
        FROM scored),
      fr AS (
        SELECT term, CAST(min(rn) AS BIGINT) AS first_rank
        FROM ranked WHERE rel = 1 GROUP BY term),
      gl AS (
        SELECT CAST(sum(CAST(round(CAST(1.0 AS DOUBLE) / first_rank, 9)
                 AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS mrr,
               CAST(sum(CASE WHEN first_rank <= 10 THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*) AS hit10
        FROM fr)
      SELECT fr.term, fr.first_rank,
             round(CAST(1.0 AS DOUBLE) / fr.first_rank, 6) AS rr,
             round(gl.mrr, 6) AS mrr, round(gl.hit10, 6) AS hit_at_10
      FROM fr, gl ORDER BY fr.term""")) { (s, dir) =>
      val tok = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), explode(Kit.words(col("text"))).as("tok"))
      val tokNe = tok.filter(col("tok") =!= "")
      val dl = tokNe.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val avgdl = dl.agg((sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      // distributed top-k probe selection — the p216/p250 pattern
      val probes = tokNe.filter(length(col("tok")) >= 4)
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(6)
        .select(col("tok").as("term"))
      val tf = tok.join(broadcast(probes), col("tok") === col("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      val docs = Tables.df(s, dir, "documents").select(col("doc_id").as("ddid"),
        col("n_chars"))
      val scored = tf.join(dl.withColumnRenamed("doc_id", "dldid"),
          col("doc_id") === col("dldid"))
        .join(docs, col("doc_id") === col("ddid"))
        .crossJoin(broadcast(avgdl))
        .select(col("term"), col("doc_id"),
          when(col("n_chars") >= 400, 1).otherwise(0).as("rel"),
          (col("tf").cast("double") * 2.2
            / (col("tf") + lit(1.2) * (lit(0.25)
              + lit(0.75) * col("dl") / col("avgdl")))).as("score"))
      val ranked = scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("score").desc, col("doc_id"))))
      val fr = ranked.filter(col("rel") === 1)
        .groupBy(col("term")).agg(min(col("rn")).cast("bigint").as("first_rank"))
      val gl = fr.agg(
        (Kit.rsum(lit(1.0) / col("first_rank"), 9) / count(lit(1))).as("mrr"),
        (sum(when(col("first_rank") <= 10, 1).otherwise(0)).cast("double")
          / count(lit(1))).as("hit10"))
      fr.crossJoin(broadcast(gl))
        .select(col("term"), col("first_rank"),
          round(lit(1.0) / col("first_rank"), 6).as("rr"),
          round(col("mrr"), 6).as("mrr"), round(col("hit10"), 6).as("hit_at_10"))
        .orderBy(col("term"))
    }
  )
}
