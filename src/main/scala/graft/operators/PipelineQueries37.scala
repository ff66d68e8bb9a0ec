package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 37 — the hypothesis-testing tier: the sanity
  * tests a pipeline owner runs before trusting a corpus property ("is lang
  * mix independent of source?", "did the quality mean move?", "which
  * sources deviate, corrected for 20 looks?"). All three are closed-form
  * from sufficient statistics, so the corpus-sized work is ONE partial-agg
  * pass each; everything downstream runs on constant-size frames.
  *
  *  - p137 chi-squared independence of the source × lang contingency table:
  *    χ² = Σ (O−E)²/E over the |S|×|L| cell frame (margins broadcast),
  *    plus degrees of freedom and Cramér's V effect size.
  *
  *  - p138 Welch two-sample t-test on the EN-stopword score between the
  *    even- and odd-numbered source halves: means/variances from DECIMAL
  *    sufficient sums, the t statistic and Welch–Satterthwaite df in
  *    closed form. (Statistic + df are the output — the standard report
  *    when the p-value needs a t CDF no SQL engine shares bit-exactly.)
  *
  *  - p139 Benjamini–Hochberg FDR screen over per-source deviations:
  *    one-vs-pooled z statistics from the same sufficient sums, converted
  *    to the distribution-free Chebyshev bound p ≤ min(1, 1/z²) (documented
  *    conservative choice — exact cross-engine arithmetic, no Φ), then the
  *    BH step-up at α=0.10 over the |S|-row frame: rank ascending, reject
  *    every source at or below the largest rank with p ≤ rank/m·α.
  *
  * Determinism: integer count mass, DECIMAL sufficient sums of 6dp-rounded
  * scores, per-cell doubles rounded 9dp before DECIMAL summation, final
  * statistics rounded 6dp; ranks tie-broken by source name.
  */
object PipelineQueries37 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------------- chi-squared independence test (p137)
    QueryDef("p137_chi2_independence", Some("""
      WITH o AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS obs
        FROM documents GROUP BY 1, 2),
      rm AS (SELECT source, CAST(sum(obs) AS BIGINT) AS r_tot FROM o GROUP BY 1),
      cm AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS c_tot FROM o GROUP BY 1),
      tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o),
      cells AS (
        SELECT coalesce(o.obs, 0) AS obs,
               CAST(rm.r_tot AS DOUBLE) * cm.c_tot / tot.n AS e
        FROM rm CROSS JOIN cm CROSS JOIN tot
        LEFT JOIN o ON o.source = rm.source AND o.lang = cm.lang),
      agg AS (
        SELECT CAST(max(tot.n) AS BIGINT) AS n_docs,
               CAST((count(DISTINCT rm2.source) - 1)
                    * (count(DISTINCT cm2.lang) - 1) AS BIGINT) AS dof,
               (SELECT CAST(sum(CAST(round((obs - e) * (obs - e) / e, 9)
                                     AS DECIMAL(38,9))) AS DOUBLE)
                FROM cells) AS chi2_raw,
               CAST(least(count(DISTINCT rm2.source) - 1,
                          count(DISTINCT cm2.lang) - 1) AS BIGINT) AS mindim
        FROM rm rm2 CROSS JOIN cm cm2 CROSS JOIN tot)
      SELECT n_docs, dof, round(chi2_raw, 6) AS chi2,
             round(sqrt(chi2_raw / (n_docs * mindim)), 6) AS cramers_v
      FROM agg""")) { (s, dir) =>
      val o = Tables.dfSpread(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).cast("bigint").as("obs"))
      val rm = o.groupBy(col("source")).agg(sum(col("obs")).cast("bigint").as("r_tot"))
      val cm = o.groupBy(col("lang")).agg(sum(col("obs")).cast("bigint").as("c_tot"))
      val tot = o.agg(sum(col("obs")).cast("bigint").as("n"))
      val cells = rm.crossJoin(broadcast(cm)).crossJoin(broadcast(tot))
        .join(o.withColumnRenamed("source", "os").withColumnRenamed("lang", "ol"),
          col("os") === col("source") && col("ol") === col("lang"), "left")
        .select(coalesce(col("obs"), lit(0L)).as("obs"),
          (col("r_tot").cast("double") * col("c_tot") / col("n")).as("e"),
          col("n"), col("source"), col("lang"))
      val chi2raw = cells.agg(
        Kit.rsum((col("obs") - col("e")) * (col("obs") - col("e")) / col("e"), 9).as("chi2_raw"),
        max(col("n")).cast("bigint").as("n_docs"),
        ((countDistinct(col("source")) - 1) * (countDistinct(col("lang")) - 1))
          .cast("bigint").as("dof"),
        least(countDistinct(col("source")) - 1, countDistinct(col("lang")) - 1)
          .cast("bigint").as("mindim"))
      chi2raw.select(col("n_docs"), col("dof"),
        round(col("chi2_raw"), 6).as("chi2"),
        round(sqrt(col("chi2_raw") / (col("n_docs") * col("mindim"))), 6)
          .as("cramers_v"))
    },

    // ------------------------------------- Welch two-sample t-test (p138)
    QueryDef("p138_welch_ttest", Some(s"""
      WITH sc AS (
        SELECT CAST(substr(source, 4) AS INTEGER) % 2 AS grp,
               ${Kit.enRatioSql(6)} AS x
        FROM (SELECT source, string_split_regex(lower(text), '\\s+') AS ws
              FROM documents) t),
      g AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE)
                 AS sxx
        FROM sc GROUP BY grp),
      st AS (
        SELECT grp, n, round(sx / n, 6) AS m,
               round((sxx - sx * sx / n) / (n - 1), 12) AS v
        FROM g),
      w AS (
        SELECT a.n AS n_even, b.n AS n_odd,
               a.m AS mean_even, b.m AS mean_odd,
               a.v / a.n + b.v / b.n AS se2,
               a.v AS va, b.v AS vb
        FROM st a JOIN st b ON a.grp = 0 AND b.grp = 1)
      SELECT n_even, n_odd, mean_even, mean_odd,
             round((mean_even - mean_odd) / sqrt(se2), 6) AS t_stat,
             round(se2 * se2 / ((va / n_even) * (va / n_even) / (n_even - 1)
                                + (vb / n_odd) * (vb / n_odd) / (n_odd - 1)), 6)
               AS df_welch
      FROM w""")) { (s, dir) =>
      val sc = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), Kit.words(col("text")).as("ws"))
        .select((substring(col("source"), 4, 10).cast("int") % 2).as("grp"),
          Kit.enRatio(col("ws"), 6).as("x"))
      val g = sc.groupBy(col("grp"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          Kit.dsum(col("x"), 6).as("sx"),
          Kit.rsum(col("x") * col("x"), 12).as("sxx"))
      val st = g.select(col("grp"), col("n"),
        round(col("sx") / col("n"), 6).as("m"),
        round((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1),
          12).as("v"))
      val w = st.as("a").join(st.as("b"),
          col("a.grp") === 0 && col("b.grp") === 1)
        .select(col("a.n").as("n_even"), col("b.n").as("n_odd"),
          col("a.m").as("mean_even"), col("b.m").as("mean_odd"),
          (col("a.v") / col("a.n") + col("b.v") / col("b.n")).as("se2"),
          col("a.v").as("va"), col("b.v").as("vb"))
      w.select(col("n_even"), col("n_odd"), col("mean_even"), col("mean_odd"),
        round((col("mean_even") - col("mean_odd")) / sqrt(col("se2")), 6)
          .as("t_stat"),
        round(col("se2") * col("se2")
          / ((col("va") / col("n_even")) * (col("va") / col("n_even"))
               / (col("n_even") - 1)
             + (col("vb") / col("n_odd")) * (col("vb") / col("n_odd"))
               / (col("n_odd") - 1)), 6).as("df_welch"))
    },

    // ----------------------- Benjamini-Hochberg FDR screen (p139)
    QueryDef("p139_bh_fdr", Some(s"""
      WITH sc AS (
        SELECT source, ${Kit.enRatioSql(6)} AS x
        FROM (SELECT source, string_split_regex(lower(text), '\\s+') AS ws
              FROM documents) t),
      pool AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
                     / count(*), 6) AS m,
               round((CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12)))
                           AS DOUBLE)
                 - CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
                   * CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(*))
                 / (count(*) - 1), 12) AS v
        FROM sc),
      grp AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_g,
               round(CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE)
                     / count(*), 6) AS m_g
        FROM sc GROUP BY source),
      z AS (
        SELECT g.source, g.n_g,
               round((g.m_g - p.m) / sqrt(p.v / g.n_g), 6) AS z
        FROM grp g CROSS JOIN pool p),
      pv AS (
        SELECT source, n_g, z,
               round(least(1.0, 1.0 / (z * z)), 6) AS p_cheb
        FROM z),
      rk AS (
        SELECT source, n_g, z, p_cheb,
               row_number() OVER (ORDER BY p_cheb, source) AS rank,
               count(*) OVER () AS m_tests
        FROM pv),
      crit AS (
        SELECT *, round(CAST(rank AS DOUBLE) / m_tests * 0.10, 6) AS bh_crit,
               CASE WHEN p_cheb <= CAST(rank AS DOUBLE) / m_tests * 0.10
                    THEN rank END AS hit
        FROM rk),
      kmax AS (SELECT coalesce(max(hit), 0) AS k FROM crit)
      SELECT source, n_g, z, p_cheb, CAST(rank AS BIGINT) AS rank, bh_crit,
             CASE WHEN rank <= kmax.k THEN 1 ELSE 0 END AS rejected
      FROM crit CROSS JOIN kmax ORDER BY rank""")) { (s, dir) =>
      val sc = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), Kit.words(col("text")).as("ws"))
        .select(col("source"), Kit.enRatio(col("ws"), 6).as("x"))
      val pool = sc.agg(count(lit(1)).cast("bigint").as("n"),
        round(Kit.dsum(col("x"), 6)
          / count(lit(1)), 6).as("m"),
        round((Kit.rsum(col("x") * col("x"), 12)
          - Kit.dsum(col("x"), 6)
            * Kit.dsum(col("x"), 6) / count(lit(1)))
          / (count(lit(1)) - 1), 12).as("v"))
      val grp = sc.groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_g"),
          round(Kit.dsum(col("x"), 6)
            / count(lit(1)), 6).as("m_g"))
      val z = grp.crossJoin(broadcast(pool))
        .select(col("source"), col("n_g"),
          round((col("m_g") - col("m")) / sqrt(col("v") / col("n_g")), 6)
            .as("z"))
      val pv = z.select(col("source"), col("n_g"), col("z"),
        round(least(lit(1.0), lit(1.0) / (col("z") * col("z"))), 6).as("p_cheb"))
      // BH step-up over the per-source frame: |S| rows at any corpus size
      // (whitelisted bounded window)
      val rk = pv.select(col("source"), col("n_g"), col("z"), col("p_cheb"),
        row_number().over(Window.orderBy(col("p_cheb"), col("source"))).as("rank"),
        count(lit(1)).over(Window.partitionBy()).as("m_tests"))
      val crit = rk.withColumn("bh_crit",
          round(col("rank").cast("double") / col("m_tests") * 0.10, 6))
        .withColumn("hit",
          when(col("p_cheb") <= col("rank").cast("double") / col("m_tests") * 0.10,
            col("rank")))
      val kmax = crit.agg(coalesce(max(col("hit")), lit(0)).as("k"))
      crit.crossJoin(broadcast(kmax))
        .select(col("source"), col("n_g"), col("z"), col("p_cheb"),
          col("rank").cast("bigint").as("rank"), col("bh_crit"),
          when(col("rank") <= col("k"), 1).otherwise(0).as("rejected"))
        .orderBy(col("rank"))
    })
}
