package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window

/** Pipeline coverage batch 62 — spectral periodicity testing, distribution-
  * free randomness and location tests, the ordinal-association family,
  * probabilistic-forecast decomposition, and profile agreement:
  *
  *  - p265 Fisher's g: the exact test for a hidden periodicity — the
  *    periodogram I(f_j) at the Fourier frequencies of the daily-volume
  *    series, g = max_j I_j / Σ_j I_j (Fisher 1929). The spectral
  *    complement of p203's fixed day-of-week profile and p257's seasonal
  *    strength: it FINDS the dominant cycle length instead of assuming 7.
  *    The day×frequency grid is (span × span/2)-bounded — a calendar
  *    property, not a corpus property; cos/sin products are 9dp-rounded
  *    per cell before the per-frequency reduce.
  *
  *  - p266 turning points: Kendall's local-extrema randomness test — count
  *    strict interior peaks/troughs T; under i.i.d., E[T] = 2(n−2)/3,
  *    Var[T] = (16n−29)/90. The shape complement of p232's runs test
  *    (sign changes about the median) — runs can look random while the
  *    series zig-zags too regularly. Kendall (1976).
  *
  *  - p267 Mood's median test: k-sample location via the 2×k table of
  *    above/below-grand-median counts (χ², df k−1) — the cruder but
  *    assumption-free sibling of p223's Kruskal–Wallis (no rank-sum
  *    variance identity needed; survives extreme outliers untouched).
  *    Grand median from the value-domain cumsum; exact integer table.
  *    Mood (1950).
  *
  *  - p268 ordinal association: Goodman–Kruskal γ, Kendall τ_b, and
  *    Somers' D(Y|X) in one pass over the bucket×bucket cell grid —
  *    concordant/discordant/tied pair counts as exact BIGINT products of
  *    cell counts (the grid is configuration-bounded: 8 length buckets ×
  *    5 stopword buckets), never a row-level pair join. The multi-level
  *    generalization of p220's rank stability and p225's Cliff's delta.
  *    Goodman & Kruskal (1954), Somers (1962).
  *
  *  - p269 Brier decomposition: Murphy's reliability − resolution +
  *    uncertainty split of the Brier score for the stopword-ratio
  *    English-probability proxy, over the p132 20-bin reliability
  *    diagram — p132 shows the diagram, this op reduces it to the three
  *    named calibration components plus the binning residual (the
  *    within-bin variance term binning hides). Murphy (1973).
  *
  *  - p270 ICC(1): one-way random-effects intraclass correlation of the
  *    day×event-type volume grid — do the five event streams AGREE on
  *    which days are busy? MSB/MSW from the dense (span × k)-bounded
  *    grid; ICC(1) = (MSB−MSW)/(MSB+(k−1)MSW). The continuous-profile
  *    complement of p247's Krippendorff α (categorical labels) and
  *    p242's Friedman ranks. Shrout & Fleiss (1979) ICC(1,1).
  *
  * Determinism: integer sufficient statistics, 9dp rounding before every
  * multi-row float reduce, literal constants (2π as the exact double
  * 6.283185307179586), mirrored left-assoc chains, 6dp outputs, ordered
  * results.
  */
object PipelineQueries62 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- Fisher's g spectral periodicity (p265)
    QueryDef.sql("p265_fisher_g", """
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dc),
      r AS (
        SELECT c, CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT) AS t
        FROM dc),
      fr AS (
        SELECT t + 1 AS j FROM r, nn WHERE 2 * (t + 1) <= nn.n - 1),
      ab AS (
        SELECT fr.j,
               CAST(sum(CAST(round(r.c * cos(CAST(6.283185307179586 AS DOUBLE)
                 * fr.j * r.t / nn.n), 9) AS DECIMAL(38,9))) AS DOUBLE) AS a,
               CAST(sum(CAST(round(r.c * sin(CAST(6.283185307179586 AS DOUBLE)
                 * fr.j * r.t / nn.n), 9) AS DECIMAL(38,9))) AS DOUBLE) AS b
        FROM r, fr, nn GROUP BY fr.j),
      spec AS (
        SELECT j, (a * a + b * b) / (SELECT n FROM nn) AS i
        FROM ab),
      tot AS (
        SELECT CAST(sum(CAST(round(i, 9) AS DECIMAL(38,9))) AS DOUBLE) AS s,
               max(i) AS imax
        FROM spec),
      pk AS (
        SELECT min(spec.j) AS jstar FROM spec, tot WHERE spec.i = tot.imax)
      SELECT nn.n AS n_days, pk.jstar AS j_star,
             round(CAST(nn.n AS DOUBLE) / pk.jstar, 6) AS period_days,
             round(tot.imax / tot.s, 6) AS fisher_g
      FROM nn, pk, tot"""),

    // --------------------- Kendall turning-point randomness test (p266)
    QueryDef.sql("p266_turning_points", """
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dc),
      l AS (
        SELECT c, lag(c) OVER (ORDER BY d) AS p,
               lead(c) OVER (ORDER BY d) AS nx
        FROM dc),
      tp AS (
        SELECT CAST(count(*) FILTER (WHERE p IS NOT NULL AND nx IS NOT NULL
          AND ((c > p AND c > nx) OR (c < p AND c < nx))) AS BIGINT) AS t
        FROM l)
      SELECT nn.n AS n_days, tp.t AS n_turning,
             round((CAST(tp.t AS DOUBLE) - CAST(2.0 AS DOUBLE) * (nn.n - 2) / 3)
               / sqrt((CAST(16.0 AS DOUBLE) * nn.n - 29) / 90), 6) AS z_stat
      FROM tp, nn"""),

    // --------------------- Mood's k-sample median test (p267)
    QueryDef("p267_mood_median", Some("""
      WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      vc AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
             FROM documents GROUP BY 1),
      w AS (
        SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS f
        FROM vc),
      med AS (SELECT min(v) AS med FROM w, nn WHERE 2 * f >= nn.n),
      t AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_s,
               CAST(sum(CASE WHEN n_chars > med.med THEN 1 ELSE 0 END)
                 AS BIGINT) AS a
        FROM documents, med GROUP BY source),
      mg AS (
        SELECT CAST(sum(n_s) AS BIGINT) AS nt, CAST(sum(a) AS BIGINT) AS at,
               CAST(count(*) AS BIGINT) AS k
        FROM t),
      chi AS (
        SELECT CAST(sum(CAST(round(
                 (a - CAST(n_s AS DOUBLE) * mg.at / mg.nt)
                   * (a - CAST(n_s AS DOUBLE) * mg.at / mg.nt)
                   / (CAST(n_s AS DOUBLE) * mg.at / mg.nt)
                 + ((n_s - a) - CAST(n_s AS DOUBLE) * (mg.nt - mg.at) / mg.nt)
                   * ((n_s - a) - CAST(n_s AS DOUBLE) * (mg.nt - mg.at) / mg.nt)
                   / (CAST(n_s AS DOUBLE) * (mg.nt - mg.at) / mg.nt), 9)
                 AS DECIMAL(38,9))) AS DOUBLE) AS chi2
        FROM t, mg)
      SELECT mg.nt AS n_docs, med.med AS grand_median, mg.k - 1 AS df,
             round(chi.chi2, 6) AS chi2_mood
      FROM chi, mg, med""")) { (s, dir) =>
      val docs = Tables.df(s, dir, "documents")
      val nn = docs.agg(count(lit(1)).cast("bigint").as("n"))
      val vc = docs.groupBy(col("n_chars").as("v"))
        .agg(count(lit(1)).cast("bigint").as("c"))
      // lower grand median from the value-domain cumsum (bounded frame)
      val wv = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w = vc.select(col("v"),
        sum(col("c")).over(wv).cast("bigint").as("f"))
      val med = w.crossJoin(broadcast(nn))
        .filter(lit(2) * col("f") >= col("n")).agg(min(col("v")).as("med"))
      val t = docs.crossJoin(broadcast(med))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_s"),
          sum(when(col("n_chars") > col("med"), 1).otherwise(0))
            .cast("bigint").as("a"))
      val mg = t.agg(sum(col("n_s")).cast("bigint").as("nt"),
        sum(col("a")).cast("bigint").as("at"),
        count(lit(1)).cast("bigint").as("k"))
      def ea = col("n_s").cast("double") * col("at") / col("nt")
      def eb = col("n_s").cast("double") * (col("nt") - col("at")) / col("nt")
      val chi = t.crossJoin(broadcast(mg))
        .agg(Kit.rsum((col("a") - ea) * (col("a") - ea) / ea
          + ((col("n_s") - col("a")) - eb) * ((col("n_s") - col("a")) - eb) / eb, 9).as("chi2"))
      chi.crossJoin(broadcast(mg)).crossJoin(broadcast(med))
        .select(col("nt").as("n_docs"), col("med").as("grand_median"),
          (col("k") - 1).as("df"), round(col("chi2"), 6).as("chi2_mood"))
    },

    // --------------------- gamma / tau-b / Somers' D on bucket grid (p268)
    QueryDef("p268_ordinal_association", Some("""
      WITH b AS (
        SELECT least(CAST(n_chars // 200 AS BIGINT), 7) AS xb,
               least(CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> x IN ('the','a','and','of','to','in','is'))) AS BIGINT), 4)
                 AS yb
        FROM documents),
      cells AS (
        SELECT xb, yb, CAST(count(*) AS BIGINT) AS n
        FROM b GROUP BY 1, 2),
      cd AS (
        SELECT CAST(sum(CASE WHEN p.xb > a.xb AND p.yb > a.yb
                 THEN a.n * p.n ELSE 0 END) AS BIGINT) AS c,
               CAST(sum(CASE WHEN p.xb > a.xb AND p.yb < a.yb
                 THEN a.n * p.n ELSE 0 END) AS BIGINT) AS d
        FROM cells a, cells p),
      rx AS (SELECT xb, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY 1),
      cy AS (SELECT yb, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY 1),
      mg AS (
        SELECT (SELECT CAST(sum(n) AS BIGINT) FROM cells) AS nt,
               (SELECT CAST(sum(r * (r - 1) / 2) AS BIGINT) FROM rx) AS n1,
               (SELECT CAST(sum(r * (r - 1) / 2) AS BIGINT) FROM cy) AS n2)
      SELECT mg.nt AS n_docs, cd.c AS c_pairs, cd.d AS d_pairs,
             round(CAST(cd.c - cd.d AS DOUBLE) / (cd.c + cd.d), 6) AS gamma,
             round(CAST(cd.c - cd.d AS DOUBLE)
               / sqrt((CAST(mg.nt AS DOUBLE) * (mg.nt - 1) / 2 - mg.n1)
                 * (CAST(mg.nt AS DOUBLE) * (mg.nt - 1) / 2 - mg.n2)), 6)
               AS tau_b,
             round(CAST(cd.c - cd.d AS DOUBLE)
               / (CAST(mg.nt AS DOUBLE) * (mg.nt - 1) / 2 - mg.n1), 6)
               AS somers_d_yx
      FROM cd, mg""")) { (s, dir) =>
      val b = Tables.dfSpread(s, dir, "documents")
        .select(least(floor(col("n_chars") / 200).cast("bigint"), lit(7)).as("xb"),
          least(size(filter(Kit.words(col("text")),
            x => x.isin(Seq("the", "a", "and", "of", "to", "in", "is")
              .map(lit(_)): _*))).cast("bigint"), lit(4)).as("yb"))
      val cells = b.groupBy(col("xb"), col("yb"))
        .agg(count(lit(1)).cast("bigint").as("n"))
      // pair counts as products of cell counts over the bounded 8x5 grid —
      // never a row-level pair join
      val p = cells.select(col("xb").as("pxb"), col("yb").as("pyb"),
        col("n").as("pn"))
      val cd = cells.crossJoin(broadcast(p)).agg(
        sum(when(col("pxb") > col("xb") && col("pyb") > col("yb"),
          col("n") * col("pn")).otherwise(0L)).cast("bigint").as("c"),
        sum(when(col("pxb") > col("xb") && col("pyb") < col("yb"),
          col("n") * col("pn")).otherwise(0L)).cast("bigint").as("d"))
      val n1 = cells.groupBy(col("xb")).agg(sum(col("n")).as("r"))
        .agg(sum(col("r") * (col("r") - 1) / 2).cast("bigint").as("n1"))
      val n2 = cells.groupBy(col("yb")).agg(sum(col("n")).as("r"))
        .agg(sum(col("r") * (col("r") - 1) / 2).cast("bigint").as("n2"))
      val nt = cells.agg(sum(col("n")).cast("bigint").as("nt"))
      def half = col("nt").cast("double") * (col("nt") - 1) / 2
      cd.crossJoin(broadcast(nt)).crossJoin(broadcast(n1))
        .crossJoin(broadcast(n2))
        .select(col("nt").as("n_docs"), col("c").as("c_pairs"),
          col("d").as("d_pairs"),
          round((col("c") - col("d")).cast("double") / (col("c") + col("d")), 6)
            .as("gamma"),
          round((col("c") - col("d")).cast("double")
            / sqrt((half - col("n1")) * (half - col("n2"))), 6).as("tau_b"),
          round((col("c") - col("d")).cast("double") / (half - col("n1")), 6)
            .as("somers_d_yx"))
    },

    // --------------------- Murphy Brier decomposition (p269)
    QueryDef("p269_brier_decomposition", Some("""
      WITH sc AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
               CAST(s_en AS DOUBLE) / (s_en + s_de + s_es + s_fr + 1) AS r
        FROM (
          SELECT lang,
                 len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is'))) AS s_en,
                 len(list_filter(t, x -> x IN ('der','die','das','und','ist','ein'))) AS s_de,
                 len(list_filter(t, x -> x IN ('el','la','de','y','es','un'))) AS s_es,
                 len(list_filter(t, x -> x IN ('le','la','et','est','un','une'))) AS s_fr
          FROM (SELECT lang, string_split_regex(lower(text), '\s+') AS t
                FROM documents) x) y),
      nn AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS npos,
               CAST(sum(CAST(round((r - pos) * (r - pos), 9)
                 AS DECIMAL(38,9))) AS DOUBLE) AS bsum
        FROM sc),
      bins AS (
        SELECT CAST(least(floor(r * 20.0), 19.0) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS nb,
               CAST(sum(CAST(round(r, 9) AS DECIMAL(38,9))) AS DOUBLE) AS rsum,
               CAST(sum(pos) AS BIGINT) AS psum
        FROM sc GROUP BY 1),
      parts AS (
        SELECT CAST(sum(CAST(round(nb * (rsum / nb - CAST(psum AS DOUBLE) / nb)
                 * (rsum / nb - CAST(psum AS DOUBLE) / nb), 9)
                 AS DECIMAL(38,9))) AS DOUBLE) AS rel,
               CAST(sum(CAST(round(nb * (CAST(psum AS DOUBLE) / nb
                   - CAST(nn.npos AS DOUBLE) / nn.n)
                 * (CAST(psum AS DOUBLE) / nb - CAST(nn.npos AS DOUBLE) / nn.n),
                 9) AS DECIMAL(38,9))) AS DOUBLE) AS res
        FROM bins, nn GROUP BY nn.n, nn.npos)
      SELECT nn.n AS n_docs,
             round(nn.bsum / nn.n, 6) AS brier,
             round(parts.rel / nn.n, 6) AS reliability,
             round(parts.res / nn.n, 6) AS resolution,
             round(CAST(nn.npos AS DOUBLE) / nn.n
               * (1 - CAST(nn.npos AS DOUBLE) / nn.n), 6) AS uncertainty,
             round(nn.bsum / nn.n - (parts.rel / nn.n - parts.res / nn.n
               + CAST(nn.npos AS DOUBLE) / nn.n
                 * (1 - CAST(nn.npos AS DOUBLE) / nn.n)), 6) AS binning_residual
      FROM parts, nn""")) { (s, dir) =>
      def hit(t: org.apache.spark.sql.Column, ws: Seq[String]) =
        size(filter(t, x => x.isin(ws.map(lit(_)): _*)))
      val sc = Tables.dfSpread(s, dir, "documents")
        .withColumn("t", Kit.words(col("text")))
        .select((col("lang") === "en").cast("int").as("pos"),
          (hit(col("t"), Seq("the", "a", "and", "of", "to", "in", "is"))
            .cast("double")
            / (hit(col("t"), Seq("the", "a", "and", "of", "to", "in", "is"))
              + hit(col("t"), Seq("der", "die", "das", "und", "ist", "ein"))
              + hit(col("t"), Seq("el", "la", "de", "y", "es", "un"))
              + hit(col("t"), Seq("le", "la", "et", "est", "un", "une")) + 1))
            .as("r"))
      val nn = sc.agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("pos")).cast("bigint").as("npos"),
        Kit.rsum((col("r") - col("pos")) * (col("r") - col("pos")), 9).as("bsum"))
      val bins = sc.groupBy(least(floor(col("r") * 20.0), lit(19.0))
          .cast("bigint").as("bucket"))
        .agg(count(lit(1)).cast("bigint").as("nb"),
          Kit.rsum(col("r"), 9).as("rsum"),
          sum(col("pos")).cast("bigint").as("psum"))
      def conf = col("rsum") / col("nb")
      def acc = col("psum").cast("double") / col("nb")
      def ybar = col("npos").cast("double") / col("n")
      val parts = bins.crossJoin(broadcast(nn))
        .groupBy(col("n"), col("npos"))
        .agg(Kit.rsum(col("nb") * (conf - acc) * (conf - acc), 9).as("rel"),
          Kit.rsum(col("nb") * (acc - ybar) * (acc - ybar), 9).as("res"))
      parts.crossJoin(broadcast(nn.select(col("n").as("n2"),
          col("npos").as("npos2"), col("bsum"))))
        .select(col("n2").as("n_docs"),
          round(col("bsum") / col("n2"), 6).as("brier"),
          round(col("rel") / col("n2"), 6).as("reliability"),
          round(col("res") / col("n2"), 6).as("resolution"),
          round(col("npos2").cast("double") / col("n2")
            * (lit(1) - col("npos2").cast("double") / col("n2")), 6)
            .as("uncertainty"),
          round(col("bsum") / col("n2") - (col("rel") / col("n2")
            - col("res") / col("n2") + col("npos2").cast("double") / col("n2")
              * (lit(1) - col("npos2").cast("double") / col("n2"))), 6)
            .as("binning_residual"))
    },

    // --------------------- one-way intraclass correlation ICC(1) (p270)
    QueryDef("p270_icc_oneway", Some("""
      WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
      types AS (SELECT DISTINCT event_type AS et FROM events),
      raw AS (
        SELECT CAST(ts AS DATE) AS d, event_type AS et,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      grid AS (
        SELECT days.d, types.et, coalesce(raw.c, 0) AS c
        FROM days CROSS JOIN types
        LEFT JOIN raw ON raw.d = days.d AND raw.et = types.et),
      dims AS (
        SELECT CAST(count(DISTINCT d) AS BIGINT) AS n,
               CAST(count(DISTINCT et) AS BIGINT) AS k,
               CAST(sum(c) AS BIGINT) AS st
        FROM grid),
      rows_ AS (
        SELECT d, CAST(sum(c) AS BIGINT) AS rs,
               CAST(sum(c * c) AS BIGINT) AS rs2
        FROM grid GROUP BY d),
      ss AS (
        SELECT CAST(sum(CAST(round(
                 (CAST(rs AS DOUBLE) / dims.k - CAST(dims.st AS DOUBLE)
                   / (dims.n * dims.k))
                 * (CAST(rs AS DOUBLE) / dims.k - CAST(dims.st AS DOUBLE)
                   / (dims.n * dims.k)), 9) AS DECIMAL(38,9))) AS DOUBLE) AS ssb_over_k,
               CAST(sum(CAST(round(rs2 - CAST(rs AS DOUBLE) * rs / dims.k, 9)
                 AS DECIMAL(38,9))) AS DOUBLE) AS ssw
        FROM rows_, dims GROUP BY dims.n, dims.k, dims.st),
      ms AS (
        SELECT dims.n, dims.k,
               dims.k * ss.ssb_over_k / (dims.n - 1) AS msb,
               ss.ssw / (CAST(dims.n AS DOUBLE) * (dims.k - 1)) AS msw
        FROM ss, dims)
      SELECT n AS n_days, k AS k_types,
             round(msb, 6) AS msb, round(msw, 6) AS msw,
             round((msb - msw) / (msb + (k - 1) * msw), 6) AS icc1
      FROM ms""")) { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
      // dense span x k grid — both axes bounded (calendar span, event-type
      // vocabulary), so the cross join is a constant-size frame
      val grid = Kit.dayTypeGrid(ev)
      val dims = grid.agg(countDistinct(col("d")).cast("bigint").as("n"),
        countDistinct(col("et")).cast("bigint").as("k"),
        sum(col("c")).cast("bigint").as("st"))
      val rows = grid.groupBy(col("d"))
        .agg(sum(col("c")).cast("bigint").as("rs"),
          sum(col("c") * col("c")).cast("bigint").as("rs2"))
      def rowMeanDev = col("rs").cast("double") / col("k") -
        col("st").cast("double") / (col("n") * col("k"))
      val ss = rows.crossJoin(broadcast(dims))
        .groupBy(col("n"), col("k"), col("st"))
        .agg(Kit.rsum(rowMeanDev * rowMeanDev, 9).as("ssb_over_k"),
          Kit.rsum(col("rs2") - col("rs").cast("double") * col("rs") / col("k"), 9).as("ssw"))
      val ms = ss.select(col("n"), col("k"),
        (col("k") * col("ssb_over_k") / (col("n") - 1)).as("msb"),
        (col("ssw") / (col("n").cast("double") * (col("k") - 1))).as("msw"))
      ms.select(col("n").as("n_days"), col("k").as("k_types"),
        round(col("msb"), 6).as("msb"), round(col("msw"), 6).as("msw"),
        round((col("msb") - col("msw"))
          / (col("msb") + (col("k") - 1) * col("msw")), 6).as("icc1"))
    }
  )
}
