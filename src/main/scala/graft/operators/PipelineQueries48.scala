package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 48 — feature hashing, distributional treatment
  * effects, LM backoff, survival analysis, content heuristics, and dedup
  * canonicalization:
  *
  *  - p185 feature-hashing collision audit: the hashing-trick screen —
  *    vocabulary hashed into 4,096 buckets (md5 mod), collision rate and
  *    the share of corpus mass landing in collided buckets. The frame
  *    collapses to bucket cardinality immediately; the audit is what
  *    decides the hash width before training on 100 TB of text.
  *
  *  - p186 quantile treatment effects: per-decile value differences
  *    between the user-parity arms — the distributional complement of
  *    the mean-effect tests (p138 Welch, p155 Mann–Whitney): a treatment
  *    that moves the tails but not the mean shows here. Exact type-7
  *    deciles per arm via ExactPercentile (2dp-bounded domain).
  *
  *  - p187 n-gram backoff hit rates: the fraction of held-out unigrams /
  *    bigrams / trigrams present in the training half — the coverage
  *    table behind backoff-LM order choice, and the generalization of
  *    p168's OOV rate to higher orders. Distinct-set semi-join counts.
  *
  *  - p188 Kaplan–Meier survival: time from each user's first signup to
  *    first purchase, right-censored at the user's last observed event;
  *    the product-limit estimator over the per-day risk table
  *    (S(t) = Π(1 − d/n), computed as exp of 9dp-rounded log terms so
  *    the running product is order-proof). Survival analysis enters the
  *    operator inventory: retention/time-to-event is THE lifecycle
  *    metric. The day frame is date-span-bounded at any corpus size.
  *
  *  - p189 code-content heuristic screen: symbol-density / digit-ratio /
  *    token-shape heuristics classifying documents as code-like, per
  *    source — the curation filter LLM corpora run to route code away
  *    from prose pipelines. Map-only per doc, aggregated per source.
  *
  *  - p190 dedup canonicalization: exact-dup clusters (md5 of lowered
  *    text) each elect ONE canonical doc by quality score (length-ratio
  *    heuristic, doc_id tiebreak via struct-max — the keep-BEST policy,
  *    vs p01's keep-first) — reported as cluster/retention stats.
  *
  * Determinism: md5-derived hashes, integer/DECIMAL sums, 9dp-rounded
  * ln terms, struct-max argmax tiebreaks, exact type-7 quantiles.
  */
object PipelineQueries48 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- feature-hashing collision audit (p185)
    QueryDef("p185_feature_hashing", Some("""
      WITH w AS (
        SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents),
      v AS (SELECT w, count(*) AS c FROM w GROUP BY w),
      b AS (
        SELECT ('0x' || substr(md5(w), 1, 8))::BIGINT % 4096 AS bucket,
               count(*) AS n_terms, sum(c) AS mass
        FROM v GROUP BY 1)
      SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS vocab,
             CAST(count(*) AS BIGINT) AS buckets_used,
             CAST(sum(CASE WHEN n_terms > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS buckets_collided,
             round(CAST(sum(CASE WHEN n_terms > 1 THEN n_terms ELSE 0 END)
               AS DOUBLE) / (SELECT count(*) FROM v), 6) AS term_collision_rate,
             round(CAST(sum(CASE WHEN n_terms > 1 THEN mass ELSE 0 END)
               AS DOUBLE) / sum(mass), 6) AS mass_collision_share
      FROM b""")) { (s, dir) =>
      val v = Tables.dfSpread(s, dir, "documents")
        .select(explode(Kit.words(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val b = v.groupBy((conv(substring(md5(col("w")), 1, 8), 16, 10)
          .cast("long") % 4096).as("bucket"))
        .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("mass"))
      val vocab = v.agg(count(lit(1)).as("vocab"))
      b.agg(
        count(lit(1)).as("buckets_used"),
        sum(when(col("n_terms") > 1, 1L).otherwise(0L)).as("buckets_collided"),
        sum(when(col("n_terms") > 1, col("n_terms")).otherwise(0L)).as("coll_terms"),
        sum(when(col("n_terms") > 1, col("mass")).otherwise(0L)).as("coll_mass"),
        sum(col("mass")).as("total_mass"))
        .crossJoin(broadcast(vocab))
        .select(col("vocab"), col("buckets_used"), col("buckets_collided"),
          round(col("coll_terms").cast("double") / col("vocab"), 6)
            .as("term_collision_rate"),
          round(col("coll_mass").cast("double") / col("total_mass"), 6)
            .as("mass_collision_share"))
    },

    // --------------------- quantile treatment effects (p186)
    QueryDef("p186_quantile_treatment_effect", Some("""
      WITH a AS (
        SELECT user_id % 2 AS arm, value FROM events),
      q AS (
        SELECT arm,
               unnest(list_transform(range(1, 10), i -> i / 10.0)) AS q,
               unnest(quantile_cont(value,
                 list_transform(range(1, 10), i -> i / 10.0))) AS v
        FROM a GROUP BY arm)
      SELECT t.q AS q, round(c.v, 4) AS control, round(t.v, 4) AS treatment,
             round(t.v - c.v, 4) AS qte
      FROM q t JOIN q c ON t.q = c.q AND t.arm = 1 AND c.arm = 0
      ORDER BY q""")) { (s, dir) =>
      val a = Tables.df(s, dir, "events")
        .select((col("user_id") % 2).as("arm"), col("value"))
      val qs = (1 to 9).map(i => i / 10.0)
      val q = ExactPercentile.percentiles(a, "arm", col("value"),
        qs.map(f => f -> s"p${(f * 10).toInt}"))
      // r18 OPTIMIZATION (guide §2.4): the old 9-way UNION of projections
      // referenced the whole ExactPercentile lineage once per branch; one
      // explode unpivots the 2-row wide frame in a single consumer —
      // identical (arm, q, v) rows, one execution of the quantile pipeline.
      // Results re-verified vs DuckDB at sf0.001/sf0.01.
      val long = q.select(col("arm"), explode(array(qs.map(f =>
          struct(lit(f).as("q"), col(s"p${(f * 10).toInt}").as("v"))): _*)).as("x"))
        .select(col("arm"), col("x.q").as("q"), col("x.v").as("v"))
      val t = long.filter(col("arm") === 1).select(col("q"), col("v").as("tv"))
      val c = long.filter(col("arm") === 0).select(col("q"), col("v").as("cv"))
      t.join(c, "q")
        .select(col("q"), round(col("cv"), 4).as("control"),
          round(col("tv"), 4).as("treatment"),
          round(col("tv") - col("cv"), 4).as("qte"))
        .orderBy(col("q"))
    },

    // --------------------- n-gram backoff hit rates (p187)
    QueryDef("p187_backoff_hitrate", Some("""
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk
        FROM documents),
      g1 AS (
        SELECT doc_id % 2 AS half, 1 AS n, unnest(tk) AS g FROM t),
      g2 AS (
        SELECT doc_id % 2 AS half, 2 AS n,
               array_to_string(tk[pos:pos+1], ' ') AS g
        FROM (SELECT doc_id, tk,
                unnest(list_transform(range(1, CAST(len(tk) - 1 AS BIGINT) + 1),
                  x -> CAST(x AS BIGINT))) AS pos
              FROM t WHERE len(tk) >= 2)),
      g3 AS (
        SELECT doc_id % 2 AS half, 3 AS n,
               array_to_string(tk[pos:pos+2], ' ') AS g
        FROM (SELECT doc_id, tk,
                unnest(list_transform(range(1, CAST(len(tk) - 2 AS BIGINT) + 1),
                  x -> CAST(x AS BIGINT))) AS pos
              FROM t WHERE len(tk) >= 3)),
      grams AS (
        SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3),
      tr AS (SELECT DISTINCT n, g FROM grams WHERE half = 0),
      ho AS (SELECT n, g FROM grams WHERE half = 1),
      hit AS (
        SELECT ho.n,
               count(*) AS n_grams,
               sum(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
        FROM ho LEFT JOIN tr ON tr.n = ho.n AND tr.g = ho.g
        GROUP BY ho.n)
      SELECT n AS order_n, CAST(n_grams AS BIGINT) AS n_grams,
             CAST(n_hit AS BIGINT) AS n_hit,
             round(CAST(n_hit AS DOUBLE) / n_grams, 6) AS hit_rate
      FROM hit ORDER BY order_n""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("tk"))
      def grams(n: Int) = t.filter(size(col("tk")) >= n)
        .select((col("doc_id") % 2).as("half"), lit(n).as("n"),
          explode(expr(
            s"transform(sequence(1, greatest(size(tk) - $n + 1, 1)), " +
              s"i -> array_join(slice(tk, i, $n), ' '))")).as("g"))
      val all = (1 to 3).map(grams).reduce(_.unionAll(_))
      val tr = all.filter(col("half") === 0).select(col("n"), col("g")).distinct()
        .withColumn("hit", lit(1))
      val ho = all.filter(col("half") === 1).select(col("n"), col("g"))
      ho.join(tr, Seq("n", "g"), "left")
        .groupBy(col("n").as("order_n"))
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
        .select(col("order_n"), col("n_grams"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_grams"), 6).as("hit_rate"))
        .orderBy(col("order_n"))
    },

    // --------------------- Kaplan–Meier survival (p188)
    QueryDef("p188_km_survival", Some("""
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
        SELECT t_day, sum(event) AS d,
               sum(count(*)) OVER (ORDER BY t_day DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_at_risk
        FROM s GROUP BY t_day),
      km AS (
        SELECT t_day, d, n_at_risk,
               exp(sum(CASE WHEN d < n_at_risk THEN
                 CAST(round(ln(1 - CAST(d AS DOUBLE) / n_at_risk), 9)
                   AS DECIMAL(38,9)) ELSE CAST(0 AS DECIMAL(38,9)) END)
                 OVER (ORDER BY t_day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS surv,
               max(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END)
                 OVER (ORDER BY t_day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS absorbed
        FROM risk WHERE d > 0)
      SELECT t_day, CAST(d AS BIGINT) AS d, CAST(n_at_risk AS BIGINT) AS n_at_risk,
             CASE WHEN absorbed = 1 THEN 0.0 ELSE round(surv, 6) END AS survival
      FROM km ORDER BY t_day""")) { (s, dir) =>
      val sdf = Kit.survivalSubjects(Tables.df(s, dir, "events"))
        .select(col("event").cast("long").as("event"), col("t_day").cast("long").as("t_day"))
      // at-risk counts: reverse cumulative over the DAY frame (date-span
      // bounded); product-limit via exp of 9dp-rounded log terms
      val byDayDesc = Window.orderBy(col("t_day").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byDayAsc = Window.orderBy(col("t_day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = sdf.groupBy(col("t_day"))
        .agg(sum(col("event")).as("d"), count(lit(1)).as("cnt"))
        .withColumn("n_at_risk", sum(col("cnt")).over(byDayDesc))
      // a day where EVERYONE at risk converts absorbs survival at exactly
      // zero (ln(0) is undefined; both the term and the product are pinned)
      risk.filter(col("d") > 0)
        .withColumn("surv", exp(sum(
          when(col("d") < col("n_at_risk"),
            Kit.rdec(log(lit(1) - col("d").cast("double") / col("n_at_risk")), 9))
            .otherwise(Kit.dec(lit(0), 9))).over(byDayAsc)))
        .withColumn("absorbed", max(when(col("d") === col("n_at_risk"), 1)
          .otherwise(0)).over(byDayAsc))
        .select(col("t_day"), col("d"), col("n_at_risk"),
          when(col("absorbed") === 1, lit(0.0))
            .otherwise(round(col("surv"), 6)).as("survival"))
        .orderBy(col("t_day"))
    },

    // --------------------- code-content heuristic screen (p189)
    QueryDef("p189_code_detection", Some("""
      WITH f AS (
        SELECT source,
               CAST(len(regexp_extract_all(text, '[{}();=<>\[\]]')) AS DOUBLE)
                 / greatest(len(text), 1) AS sym_ratio,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                 / greatest(len(text), 1) AS digit_ratio,
               CAST(len(regexp_extract_all(text, '_')) AS DOUBLE)
                 / greatest(len(string_split_regex(text, '\s+')), 1) AS underscore_per_tok
        FROM documents),
      c AS (
        SELECT source,
               CASE WHEN sym_ratio > 0.02 OR underscore_per_tok > 0.1
                      OR (sym_ratio > 0.01 AND digit_ratio > 0.1)
                    THEN 1 ELSE 0 END AS is_code
        FROM f)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(is_code) AS BIGINT) AS n_code,
             round(CAST(sum(is_code) AS DOUBLE) / count(*), 6) AS code_share
      FROM c GROUP BY source ORDER BY source""")) { (s, dir) =>
      val textLen = greatest(length(col("text")), lit(1))
      val symRatio = size(expr("regexp_extract_all(text, '[{}();=<>\\\\[\\\\]]', 0)"))
        .cast("double") / textLen
      val digitRatio = size(expr("regexp_extract_all(text, '[0-9]', 0)"))
        .cast("double") / textLen
      val underscorePerTok = size(expr("regexp_extract_all(text, '_', 0)"))
        .cast("double") / greatest(size(split(col("text"), "\\s+")), lit(1))
      Tables.dfSpread(s, dir, "documents")
        .select(col("source"),
          when(symRatio > 0.02 || underscorePerTok > 0.1 ||
            (symRatio > 0.01 && digitRatio > 0.1), 1L).otherwise(0L).as("is_code"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("is_code")).as("n_code"),
          round(sum(col("is_code")).cast("double") / count(lit(1)), 6)
            .as("code_share"))
        .orderBy(col("source"))
    },

    // --------------------- dedup canonicalization (p190)
    QueryDef("p190_dup_canonicalization", Some("""
      WITH d AS (
        SELECT doc_id, md5(lower(text)) AS h,
               round(CAST(len(string_split_regex(lower(text), '\s+'))
                 AS DOUBLE) / greatest(n_chars, 1), 6) AS quality
        FROM documents),
      cl AS (
        SELECT h, count(*) AS m,
               max(struct_pack(q := quality, neg_id := -doc_id)) AS best
        FROM d GROUP BY h),
      agg AS (
        SELECT count(*) AS n_clusters,
               sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS n_dup_clusters,
               sum(m) AS n_docs, sum(m - 1) AS n_removed,
               coalesce(sum(CASE WHEN m > 1 THEN -best.neg_id ELSE NULL END), 0)
                 AS canon_id_sum
        FROM cl)
      SELECT CAST(n_clusters AS BIGINT) AS n_clusters,
             CAST(n_dup_clusters AS BIGINT) AS n_dup_clusters,
             CAST(n_docs AS BIGINT) AS n_docs,
             CAST(n_removed AS BIGINT) AS n_removed,
             round(CAST(n_clusters AS DOUBLE) / n_docs, 6) AS retention,
             CAST(canon_id_sum AS BIGINT) AS canon_id_sum
      FROM agg""")) { (s, dir) =>
      val d = Tables.df(s, dir, "documents").select(
        col("doc_id"), md5(lower(col("text"))).as("h"),
        round(size(Kit.words(col("text"))).cast("double") /
          greatest(col("n_chars"), lit(1L)), 6).as("quality"))
      // keep-BEST: struct-max elects the highest quality, smallest doc_id
      // on ties — the canonicalization policy, vs p01's keep-first
      val cl = d.groupBy(col("h"))
        .agg(count(lit(1)).as("m"),
          max(struct(col("quality").as("q"), (-col("doc_id")).as("neg_id"))).as("best"))
      cl.agg(
        count(lit(1)).as("n_clusters"),
        sum(when(col("m") > 1, 1L).otherwise(0L)).as("n_dup_clusters"),
        sum(col("m")).as("n_docs"),
        sum(col("m") - 1).as("n_removed"),
        coalesce(sum(when(col("m") > 1, -col("best.neg_id"))), lit(0L))
          .as("canon_id_sum"))
        .select(col("n_clusters"), col("n_dup_clusters"), col("n_docs"),
          col("n_removed"),
          round(col("n_clusters").cast("double") / col("n_docs"), 6).as("retention"),
          col("canon_id_sum").cast("long").as("canon_id_sum"))
    }
  )
}
