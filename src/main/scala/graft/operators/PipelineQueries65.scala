package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 65 — post-hoc pairwise testing (parametric and
  * rank-based), readability scoring, cumulative-hazard estimation, joint
  * location-scale testing, and ordered-alternative trend in blocked
  * designs:
  *
  *  - p283 Tukey pairwise: the post-hoc step after p215's ANOVA omnibus —
  *    studentized range statistic q = |m_i−m_j|/√(MSW/2·(1/n_i+1/n_j))
  *    for every source pair (the k(k−1)/2 = 10-row pair frame), MSW from
  *    exact per-group sums. An omnibus "some source differs" without the
  *    pairwise map is unactionable for mixing-weight decisions. Tukey
  *    (1949), unequal-n Kramer (1956) form.
  *
  *  - p284 Dunn post-hoc: the rank analogue after p223's Kruskal–Wallis —
  *    z = (R̄_i−R̄_j)/√((N(N+1)/12 − T)(1/n_i+1/n_j)) with the shared
  *    midrank frame and the tie term T = Σ(t³−t)/(12(N−1)). Dunn (1964).
  *
  *  - p285 readability: Flesch reading ease + Flesch–Kincaid grade per
  *    source from integer counts — words ([a-z0-9]+ runs), sentences
  *    ([.!?]+ runs, floored at 1), syllables approximated as [aeiouy]+
  *    vowel groups (the standard regex proxy). The classic quality
  *    signal next to p09's length/punct ratios and p106's Gopher rules.
  *    Flesch (1948), Kincaid et al. (1975).
  *
  *  - p286 Nelson–Aalen: the cumulative-hazard complement of p188's KM
  *    survival curve — H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ with variance Σ dᵢ/nᵢ²,
  *    per event time over the same time-to-purchase frame; H(t) is the
  *    additive (hazard-scale) view that p277's log-rank integrates.
  *    Nelson (1972), Aalen (1978).
  *
  *  - p287 Lepage: the JOINT location-scale two-sample test — L = z_W² +
  *    z_AB² combining the tie-corrected Wilcoxon rank-sum z (p155's
  *    statistic) with the Ansari–Bradley z (p278's), both from ONE shared
  *    value-domain cumsum frame; catches en-vs-other length differences
  *    that move either the center or the spread. Lepage (1971).
  *
  *  - p288 Page trend: ordered-alternative trend in a BLOCKED design —
  *    L = Σ_j j·R_j over the 7 day-of-week blocks × 4 complete weeks
  *    (within-block midranks of weekly volume), z against E[L] =
  *    bk(k+1)²/4, Var[L] = bk²(k+1)(k²−1)/144 (no-tie form, documented
  *    approximation under midranks) — the blocked complement of p243's
  *    Jonckheere (unblocked ordered groups). Week index and day-of-week
  *    block are both derived from date arithmetic (no engine DOW
  *    convention). Page (1963).
  *
  * Determinism: integer sufficient statistics (doubled midranks exact in
  * BIGINT), 9dp rounding before every multi-row float reduce, mirrored
  * left-assoc chains, 6dp outputs, ordered results.
  */
object PipelineQueries65 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- Tukey-Kramer pairwise studentized range (p283)
    QueryDef.sql("p283_tukey_pairwise", """
      WITH g AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_s,
               CAST(sum(CAST(n_chars AS DECIMAL(9,0))) AS DECIMAL(38,0)) AS s1,
               CAST(sum(CAST(n_chars AS DECIMAL(9,0))
                 * CAST(n_chars AS DECIMAL(9,0))) AS DECIMAL(38,0)) AS s2
        FROM documents GROUP BY source),
      msw AS (
        SELECT CAST(sum(CAST(round(CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_s, 6)
                 AS DECIMAL(38,6))) AS DOUBLE)
                 / (sum(n_s) - count(*)) AS msw
        FROM g),
      pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(a.s1 AS DOUBLE) / a.n_s
                 - CAST(b.s1 AS DOUBLE) / b.n_s AS diff,
               a.n_s AS na, b.n_s AS nb
        FROM g a JOIN g b ON a.source < b.source)
      SELECT src_a, src_b, round(diff, 6) AS mean_diff,
             round(abs(diff) / sqrt(msw.msw / 2
               * (CAST(1.0 AS DOUBLE) / na + CAST(1.0 AS DOUBLE) / nb)), 6)
               AS q_stat
      FROM pairs, msw ORDER BY src_a, src_b"""),

    // --------------------- Dunn rank post-hoc after Kruskal-Wallis (p284)
    QueryDef.sql("p284_dunn_posthoc", """
      WITH vc AS (
        SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1),
      r AS (
        SELECT v, c,
               coalesce(sum(c) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + (c + 1) / 2.0 AS rv
        FROM vc),
      sc AS (
        SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c_s
        FROM documents GROUP BY 1, 2),
      gs AS (
        SELECT sc.source, CAST(sum(sc.c_s) AS BIGINT) AS n_s,
               CAST(sum(sc.c_s * CAST(r.rv AS DECIMAL(19,1)))
                 AS DECIMAL(38,1)) AS rsum
        FROM sc JOIN r ON sc.v = r.v GROUP BY sc.source),
      nn AS (
        SELECT CAST(sum(n_s) AS BIGINT) AS n FROM gs),
      tie AS (
        SELECT coalesce(CAST(sum(CAST(c * c * c - c AS DECIMAL(38,0)))
          AS DOUBLE), 0) AS tsum
        FROM vc WHERE c > 1),
      base AS (
        SELECT (CAST(nn.n AS DOUBLE) * (nn.n + 1) / 12
          - tie.tsum / (CAST(12.0 AS DOUBLE) * (nn.n - 1))) AS s2
        FROM nn, tie),
      pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(a.rsum AS DOUBLE) / a.n_s
                 - CAST(b.rsum AS DOUBLE) / b.n_s AS rdiff,
               a.n_s AS na, b.n_s AS nb
        FROM gs a JOIN gs b ON a.source < b.source)
      SELECT src_a, src_b, round(rdiff, 6) AS mean_rank_diff,
             round(rdiff / sqrt(base.s2
               * (CAST(1.0 AS DOUBLE) / na + CAST(1.0 AS DOUBLE) / nb)), 6)
               AS z_dunn
      FROM pairs, base ORDER BY src_a, src_b"""),

    // --------------------- Flesch / FK readability per source (p285)
    QueryDef("p285_readability", Some("""
      WITH d AS (
        SELECT source,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sen,
               len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
        FROM documents),
      g AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(w) AS BIGINT) AS words,
               CAST(sum(sen) AS BIGINT) AS sentences,
               CAST(sum(syl) AS BIGINT) AS syllables
        FROM d GROUP BY source)
      SELECT source, n_docs, words AS n_words, sentences AS n_sentences,
             syllables AS n_syllables,
             round(CAST(206.835 AS DOUBLE)
               - CAST(1.015 AS DOUBLE) * words / sentences
               - CAST(84.6 AS DOUBLE) * syllables / words, 6) AS flesch_ease,
             round(CAST(0.39 AS DOUBLE) * words / sentences
               + CAST(11.8 AS DOUBLE) * syllables / words
               - CAST(15.59 AS DOUBLE), 6) AS fk_grade
      FROM g ORDER BY source""")) { (s, dir) =>
      val d = Tables.dfSpread(s, dir, "documents")
        .select(col("source"),
          regexp_count(lower(col("text")), lit(Kit.WordRe)).as("w"),
          greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).as("sen"),
          regexp_count(lower(col("text")), lit("[aeiouy]+")).as("syl"))
      val g = d.groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("w")).cast("bigint").as("words"),
          sum(col("sen")).cast("bigint").as("sentences"),
          sum(col("syl")).cast("bigint").as("syllables"))
      g.select(col("source"), col("n_docs"), col("words").as("n_words"),
          col("sentences").as("n_sentences"), col("syllables").as("n_syllables"),
          round(lit(206.835) - lit(1.015) * col("words") / col("sentences")
            - lit(84.6) * col("syllables") / col("words"), 6).as("flesch_ease"),
          round(lit(0.39) * col("words") / col("sentences")
            + lit(11.8) * col("syllables") / col("words") - lit(15.59), 6)
            .as("fk_grade"))
        .orderBy(col("source"))
    },

    // --------------------- Nelson-Aalen cumulative hazard (p286)
    QueryDef("p286_nelson_aalen", Some("""
      WITH u AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup' THEN ts END) AS signup,
               max(ts) AS last_seen
        FROM events GROUP BY user_id),
      pu AS (
        SELECT e.user_id, min(e.ts) AS purchase
        FROM events e JOIN u ON u.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= u.signup
        GROUP BY e.user_id),
      s AS (
        SELECT u.user_id,
               CASE WHEN purchase IS NOT NULL THEN 1 ELSE 0 END AS event,
               CASE WHEN purchase IS NOT NULL
                    THEN date_diff('day', CAST(signup AS DATE), CAST(purchase AS DATE))
                    ELSE date_diff('day', CAST(signup AS DATE), CAST(last_seen AS DATE))
               END AS t_day
        FROM u LEFT JOIN pu ON pu.user_id = u.user_id
        WHERE signup IS NOT NULL),
      risk AS (
        SELECT t_day, CAST(sum(event) AS BIGINT) AS d,
               CAST(sum(count(*)) OVER (ORDER BY t_day DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS n_r
        FROM s GROUP BY t_day),
      na AS (
        SELECT t_day, d, n_r,
               CAST(sum(CAST(round(CAST(d AS DOUBLE) / n_r, 9)
                 AS DECIMAL(38,9))) OVER (ORDER BY t_day
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS h,
               CAST(sum(CAST(round(CAST(d AS DOUBLE)
                 / (CAST(n_r AS DOUBLE) * n_r), 9)
                 AS DECIMAL(38,9))) OVER (ORDER BY t_day
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS v
        FROM risk)
      SELECT t_day, n_r AS n_at_risk, d AS d_events,
             round(h, 6) AS na_cumhaz, round(v, 6) AS na_var
      FROM na WHERE d > 0 ORDER BY t_day""")) { (s, dir) =>
      val subj = Kit.survivalSubjects(Tables.df(s, dir, "events"))
      val byT = subj.groupBy(col("t_day"))
        .agg(sum(col("event")).cast("bigint").as("d"),
          count(lit(1)).as("cnt"))
      val wDesc = Window.orderBy(col("t_day").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = byT.select(col("t_day"), col("d"),
        sum(col("cnt")).over(wDesc).cast("bigint").as("n_r"))
      val wAsc = Window.orderBy(col("t_day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val na = risk.select(col("t_day"), col("d"), col("n_r"),
        sum(Kit.rdec(col("d").cast("double") / col("n_r"), 9)).over(wAsc).cast("double").as("h"),
        sum(Kit.rdec(col("d").cast("double")
          / (col("n_r").cast("double") * col("n_r")), 9)).over(wAsc).cast("double").as("v"))
      na.filter(col("d") > 0)
        .select(col("t_day"), col("n_r").as("n_at_risk"), col("d").as("d_events"),
          round(col("h"), 6).as("na_cumhaz"), round(col("v"), 6).as("na_var"))
        .orderBy(col("t_day"))
    },

    // --------------------- Lepage joint location-scale test (p287)
    QueryDef("p287_lepage", Some("""
      WITH g AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp, n_chars AS v
        FROM documents),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(grp) AS BIGINT) AS n1 FROM g),
      vc AS (
        SELECT v, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(grp) AS BIGINT) AS c1
        FROM g GROUP BY v),
      w AS (
        SELECT v, c, c1,
               CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS f
        FROM vc),
      -- Wilcoxon: 2*midrank = 2f - c + 1 (exact BIGINT)
      wil AS (
        SELECT CAST(sum(c1 * (2 * f - c + 1)) AS BIGINT) AS w2,
               CAST(sum(CAST(c * c * c - c AS DECIMAL(38,0))) AS DOUBLE) AS tsum
        FROM w),
      zw AS (
        SELECT (CAST(w2 AS DOUBLE) / 2 - CAST(nn.n1 AS DOUBLE) * (nn.n + 1) / 2)
               / sqrt(CAST(nn.n1 AS DOUBLE) * (nn.n - nn.n1) / 12
                 * ((nn.n + 1) - wil.tsum
                   / (CAST(nn.n AS DOUBLE) * (nn.n - 1)))) AS zw
        FROM wil, nn),
      -- Ansari-Bradley: the p278 closed-form block scores
      sc AS (
        SELECT w.v, w.c, w.c1, w.f, w.f - w.c AS f0, nn.n, nn.n1,
               (nn.n + 1) // 2 AS h
        FROM w, nn),
      sc2 AS (
        SELECT v, c, c1, n, n1,
               (CASE WHEN f <= h THEN f * (f + 1)
                     ELSE h * (h + 1)
                       + (f - h) * (2 * (n + 1) - (f + h + 1)) END)
               - (CASE WHEN f0 <= h THEN f0 * (f0 + 1)
                       ELSE h * (h + 1)
                         + (f0 - h) * (2 * (n + 1) - (f0 + h + 1)) END)
                 AS two_block
        FROM sc),
      ab AS (
        SELECT n, n1,
               CAST(sum(CAST(c1 AS DOUBLE) * two_block / (2 * c)) AS DOUBLE)
                 AS w_ab,
               CAST(sum(CAST(two_block AS DOUBLE) / 2) AS DOUBLE) AS ssum,
               CAST(sum(CAST(round((CAST(two_block AS DOUBLE) / (2 * c))
                 * (CAST(two_block AS DOUBLE) / (2 * c)) * c, 9)
                 AS DECIMAL(38,9))) AS DOUBLE) AS ssq
        FROM sc2 GROUP BY n, n1),
      zab AS (
        SELECT (w_ab - CAST(n1 AS DOUBLE) * ssum / n)
               / sqrt(CAST(n1 AS DOUBLE) * (n - n1)
                 / (CAST(n AS DOUBLE) * (n - 1))
                 * (n * ssq - ssum * ssum) / n) AS zab
        FROM ab)
      SELECT nn.n1 AS n_en, nn.n - nn.n1 AS n_other,
             round(zw.zw, 6) AS z_wilcoxon, round(zab.zab, 6) AS z_ansari,
             round(zw.zw * zw.zw + zab.zab * zab.zab, 6) AS lepage_l
      FROM zw, zab, nn""")) { (s, dir) =>
      val (nn, w) = Kit.twoGroupFrame(Tables.dfSpread(s, dir, "documents")
        .select((col("lang") === "en").cast("int").as("grp"),
          col("n_chars").as("v")))
      val wil = w.agg(
        sum(col("c1") * (lit(2) * col("f") - col("c") + 1))
          .cast("bigint").as("w2"),
        Kit.dsum(col("c") * col("c") * col("c") - col("c"), 0).as("tsum"))
      val zw = wil.crossJoin(broadcast(nn))
        .select(((col("w2").cast("double") / 2
          - col("n1").cast("double") * (col("n") + 1) / 2)
          / sqrt(col("n1").cast("double") * (col("n") - col("n1")) / 12
            * ((col("n") + 1) - col("tsum")
              / (col("n").cast("double") * (col("n") - 1))))).as("zw"))
      val zab = Kit.ansariBradley(nn, w).select(col("z_ab").as("zab"))
      zw.crossJoin(zab).crossJoin(broadcast(nn))
        .select(col("n1").as("n_en"), (col("n") - col("n1")).as("n_other"),
          round(col("zw"), 6).as("z_wilcoxon"),
          round(col("zab"), 6).as("z_ansari"),
          round(col("zw") * col("zw") + col("zab") * col("zab"), 6)
            .as("lepage_l"))
    },

    // --------------------- Page trend over DOW blocks x weeks (p288)
    QueryDef("p288_page_trend", Some("""
      WITH dc AS (SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
                  FROM events GROUP BY 1),
      base AS (SELECT min(d) AS d0 FROM dc),
      cell AS (
        SELECT date_diff('day', base.d0, dc.d) % 7 AS blk,
               date_diff('day', base.d0, dc.d) // 7 + 1 AS wk, dc.c
        FROM dc, base
        WHERE date_diff('day', base.d0, dc.d) < 28),
      -- within-block midranks of the 4 weekly values: 2*midrank =
      -- 2*(#smaller) + (#equal incl. self) + 1, from the 4x4 cell self-join
      rk AS (
        SELECT a.blk, a.wk,
               CAST(2 * sum(CASE WHEN b.c < a.c THEN 1 ELSE 0 END)
                 + sum(CASE WHEN b.c = a.c THEN 1 ELSE 0 END) + 1 AS BIGINT)
                 AS r2
        FROM cell a JOIN cell b ON a.blk = b.blk
        GROUP BY a.blk, a.wk),
      l AS (
        SELECT CAST(sum(wk * r2) AS BIGINT) AS l2,
               CAST(count(DISTINCT blk) AS BIGINT) AS b,
               CAST(max(wk) AS BIGINT) AS k
        FROM rk)
      SELECT l.b AS n_blocks, l.k AS k_weeks,
             round(CAST(l.l2 AS DOUBLE) / 2, 6) AS page_l,
             round((CAST(l.l2 AS DOUBLE) / 2
               - CAST(l.b AS DOUBLE) * l.k * (l.k + 1) * (l.k + 1) / 4)
               / sqrt(CAST(l.b AS DOUBLE) * l.k * l.k * (l.k + 1)
                 * (l.k * l.k - 1) / 144), 6) AS z_stat
      FROM l""")) { (s, dir) =>
      val dc = Kit.dayCounts(Tables.df(s, dir, "events"))
      val base = dc.agg(min(col("d")).as("d0"))
      val cell = dc.crossJoin(broadcast(base))
        .filter(datediff(col("d"), col("d0")) < 28)
        .select((datediff(col("d"), col("d0")) % 7).as("blk"),
          (floor(datediff(col("d"), col("d0")) / 7) + 1).as("wk"), col("c"))
      val b2 = cell.select(col("blk").as("bblk"), col("c").as("bc"))
      val rk = cell.join(b2, col("bblk") === col("blk"))
        .groupBy(col("blk"), col("wk"))
        .agg((lit(2) * sum(when(col("bc") < col("c"), 1).otherwise(0))
          + sum(when(col("bc") === col("c"), 1).otherwise(0)) + 1)
          .cast("bigint").as("r2"))
      val l = rk.agg(sum(col("wk") * col("r2")).cast("bigint").as("l2"),
        countDistinct(col("blk")).cast("bigint").as("b"),
        max(col("wk")).cast("bigint").as("k"))
      l.select(col("b").as("n_blocks"), col("k").as("k_weeks"),
        round(col("l2").cast("double") / 2, 6).as("page_l"),
        round((col("l2").cast("double") / 2
          - col("b").cast("double") * col("k") * (col("k") + 1) * (col("k") + 1) / 4)
          / sqrt(col("b").cast("double") * col("k") * col("k") * (col("k") + 1)
            * (col("k") * col("k") - 1) / 144), 6).as("z_stat"))
    }
  )
}
