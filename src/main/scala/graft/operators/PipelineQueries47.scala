package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 47 — privacy distances, attribution,
  * association mining, experiment variance reduction, stylometry, and
  * CDC merge semantics:
  *
  *  - p179 t-closeness audit: total-variation distance between each
  *    quasi-identifier group's sensitive-attribute (source) distribution
  *    and the global one — the third leg of the privacy triad after
  *    p89's k-anonymity and p145's l-diversity. Pure count arithmetic on
  *    the (QI-group × source) frame.
  *
  *  - p180 last-touch funnel attribution: every purchase event is
  *    attributed to the user's most recent PRIOR non-purchase touch —
  *    one per-user ordered window (last_value over the preceding frame),
  *    counts per attributed touch type. The attribution join every
  *    growth pipeline runs, expressed without a self-join.
  *
  *  - p181 association-rule lift over per-user event-type baskets:
  *    support / confidence / lift for every directed type pair — the
  *    market-basket screen on a frame bounded by the 5×5 type alphabet.
  *
  *  - p182 CUPED variance reduction: the experimentation covariate
  *    adjustment — per-user pre-period mean value as the covariate,
  *    post-period mean as the metric, theta = cov/var from DECIMAL
  *    sufficient sums, reported as the adjusted-variance reduction.
  *    Arms derive from user_id parity; per-user means are 6dp-rounded
  *    before the moment sums so both engines aggregate identical grids.
  *
  *  - p183 Burrows' Delta stylometry: per-source z-scores of the top-30
  *    corpus words' relative frequencies, then each source's nearest
  *    neighbor by mean |z-difference| — source fingerprinting for
  *    detecting near-identical provenance. Frames are bounded by
  *    (30 words × 20 sources).
  *
  *  - p184 upsert/MERGE semantics audit: latest-per-user snapshots of
  *    the first and second time-halves (keep-last via max(struct(ts,
  *    event_id, …)) — deterministic tiebreak), merged as an upsert;
  *    reports inserts / updates / unchanged / final size — the MERGE
  *    INTO cardinality check a CDC compaction publishes.
  *
  * Determinism: integer counts, DECIMAL sufficient sums, 6dp-rounded
  * per-user means before second-level aggregation, 9dp-rounded
  * frequency grids, struct-max tiebreaks, outputs 4–6dp.
  */
object PipelineQueries47 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- t-closeness audit (p179)
    QueryDef("p179_t_closeness", Some("""
      WITH d AS (
        SELECT lang, CAST(floor(n_chars / 256.0) AS BIGINT) AS lb, source
        FROM documents),
      g AS (SELECT lang, lb, source, count(*) AS c FROM d GROUP BY lang, lb, source),
      gt AS (SELECT lang, lb, sum(c) AS t FROM g GROUP BY lang, lb),
      gl AS (SELECT source, count(*) AS cg FROM d GROUP BY source),
      tot AS (SELECT sum(cg) AS n FROM gl),
      tvd AS (
        SELECT gt.lang, gt.lb,
               round(0.5 * CAST(sum(CAST(round(abs(
                 coalesce(CAST(g.c AS DOUBLE) / gt.t, 0)
                   - CAST(gl.cg AS DOUBLE) / tot.n), 9) AS DECIMAL(38,9)))
                 AS DOUBLE), 6) AS tvd
        FROM gt
        CROSS JOIN gl CROSS JOIN tot
        LEFT JOIN g ON g.lang = gt.lang AND g.lb = gt.lb AND g.source = gl.source
        GROUP BY gt.lang, gt.lb)
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
             round(max(tvd), 6) AS max_tvd,
             CAST(sum(CASE WHEN tvd > 0.3 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_over_t,
             round(CAST(sum(CAST(tvd AS DECIMAL(38,6))) AS DOUBLE)
               / count(*), 6) AS avg_tvd
      FROM tvd""")) { (s, dir) =>
      val d = Tables.df(s, dir, "documents").select(
        col("lang"), floor(col("n_chars") / 256.0).cast("long").as("lb"),
        col("source"))
      val g = d.groupBy(col("lang"), col("lb"), col("source"))
        .agg(count(lit(1)).as("c"))
      val gt = g.groupBy(col("lang"), col("lb")).agg(sum(col("c")).as("t"))
      val gl = d.groupBy(col("source")).agg(count(lit(1)).as("cg"))
      val tot = gl.agg(sum(col("cg")).as("n"))
      val tvd = gt
        .crossJoin(broadcast(gl)).crossJoin(broadcast(tot))
        .join(g, Seq("lang", "lb", "source"), "left")
        .groupBy(col("lang"), col("lb"))
        .agg(round(lit(0.5) * Kit.rsum(abs(
          coalesce(col("c").cast("double") / col("t"), lit(0.0)) -
            col("cg").cast("double") / col("n")), 9), 6).as("tvd"))
      tvd.agg(
        count(lit(1)).as("n_groups"),
        round(max(col("tvd")), 6).as("max_tvd"),
        sum(when(col("tvd") > 0.3, 1L).otherwise(0L)).as("groups_over_t"),
        round(Kit.dsum(col("tvd"), 6) /
          count(lit(1)), 6).as("avg_tvd"))
    },

    // --------------------- last-touch attribution (p180)
    QueryDef("p180_funnel_attribution", Some("""
      WITH o AS (
        SELECT user_id, event_id, ts, event_type,
               last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                 IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        FROM events)
      SELECT coalesce(touch, 'none') AS touch,
             CAST(count(*) AS BIGINT) AS n_purchases,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM o WHERE event_type = 'purchase'
      GROUP BY touch ORDER BY touch""")) { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.df(s, dir, "events")
        .withColumn("touch", last(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(byUser))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("none")).as("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("touch"))
    },

    // --------------------- association-rule lift (p181)
    QueryDef.sql("p181_association_lift", """
      WITH b AS (
        SELECT DISTINCT user_id, event_type FROM events),
      n AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
      ante AS (SELECT event_type, count(*) AS ca FROM b GROUP BY event_type),
      pair AS (
        SELECT a.event_type AS lhs, c.event_type AS rhs, count(*) AS cab
        FROM b a JOIN b c
          ON a.user_id = c.user_id AND a.event_type <> c.event_type
        GROUP BY a.event_type, c.event_type)
      SELECT lhs, rhs,
             round(CAST(cab AS DOUBLE) / n.n_users, 6) AS support,
             round(CAST(cab AS DOUBLE) / la.ca, 6) AS confidence,
             round((CAST(cab AS DOUBLE) / la.ca)
               / (CAST(lb.ca AS DOUBLE) / n.n_users), 6) AS lift
      FROM pair
      JOIN ante la ON la.event_type = lhs
      JOIN ante lb ON lb.event_type = rhs
      CROSS JOIN n
      ORDER BY lhs, rhs"""),

    // --------------------- CUPED variance reduction (p182)
    QueryDef("p182_cuped_adjustment", Some("""
      WITH u AS (
        SELECT user_id,
               round(CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                 THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE)
                 / count(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                   THEN 1 END), 6) AS x,
               round(CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                 THEN CAST(value AS DECIMAL(38,6)) END) AS DOUBLE)
                 / count(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                   THEN 1 END), 6) AS y
        FROM events GROUP BY user_id
        HAVING count(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 1 END) > 0
           AND count(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16' THEN 1 END) > 0),
      m AS (
        SELECT count(*) AS n,
               CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(round(y * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS syy
        FROM u),
      st AS (
        SELECT n,
               (sxy / n - (sx / n) * (sy / n)) AS cov_xy,
               (sxx / n - (sx / n) * (sx / n)) AS var_x,
               (syy / n - (sy / n) * (sy / n)) AS var_y
        FROM m)
      SELECT CAST(n AS BIGINT) AS n_users,
             round(cov_xy / var_x, 6) AS theta,
             round(var_y, 6) AS var_y,
             round(var_y - cov_xy * cov_xy / var_x, 6) AS var_adj,
             round(100 * (cov_xy * cov_xy / var_x) / var_y, 4)
               AS var_reduction_pct
      FROM st""")) { (s, dir) =>
      val pre = col("ts").cast("date") < lit("2024-01-16").cast("date")
      val u = Tables.df(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          round(sum(when(pre, col("value").cast("decimal(38,6)"))).cast("double") /
            count(when(pre, lit(1))), 6).as("x"),
          round(sum(when(!pre, col("value").cast("decimal(38,6)"))).cast("double") /
            count(when(!pre, lit(1))), 6).as("y"),
          count(when(pre, lit(1))).as("npre"),
          count(when(!pre, lit(1))).as("npost"))
        .filter(col("npre") > 0 && col("npost") > 0)
      val m = u.agg(
        count(lit(1)).as("n"),
        Kit.dsum(col("x"), 6).as("sx"),
        Kit.dsum(col("y"), 6).as("sy"),
        Kit.rsum(col("x") * col("y"), 9).as("sxy"),
        Kit.rsum(col("x") * col("x"), 9).as("sxx"),
        Kit.rsum(col("y") * col("y"), 9).as("syy"))
      val covXy = col("sxy") / col("n") - (col("sx") / col("n")) * (col("sy") / col("n"))
      val varX = col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n"))
      val varY = col("syy") / col("n") - (col("sy") / col("n")) * (col("sy") / col("n"))
      m.select(
        col("n").cast("long").as("n_users"),
        round(covXy / varX, 6).as("theta"),
        round(varY, 6).as("var_y"),
        round(varY - covXy * covXy / varX, 6).as("var_adj"),
        round(lit(100) * (covXy * covXy / varX) / varY, 4).as("var_reduction_pct"))
    },

    // --------------------- Burrows' Delta stylometry (p183)
    QueryDef("p183_stylometry_delta", Some("""
      WITH w AS (
        SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents),
      topw AS (
        SELECT w FROM (SELECT w, count(*) AS c FROM w GROUP BY w
                       ORDER BY c DESC, w LIMIT 30)),
      st AS (SELECT source, count(*) AS n FROM w GROUP BY source),
      f AS (
        SELECT st.source, topw.w,
               round(CAST(coalesce(c.c, 0) AS DOUBLE) / st.n, 9) AS f
        FROM st CROSS JOIN topw
        LEFT JOIN (SELECT source, w, count(*) AS c FROM w GROUP BY source, w) c
          ON c.source = st.source AND c.w = topw.w),
      mu AS (
        SELECT w,
               CAST(sum(CAST(f AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS mu,
               sqrt(greatest(
                 CAST(sum(CAST(round(f * f, 18) AS DECIMAL(38,18))) AS DOUBLE)
                   / count(*)
                 - (CAST(sum(CAST(f AS DECIMAL(38,9))) AS DOUBLE) / count(*))
                   * (CAST(sum(CAST(f AS DECIMAL(38,9))) AS DOUBLE) / count(*)),
                 0)) AS sd
        FROM f GROUP BY w),
      z AS (
        SELECT f.source, f.w, round((f.f - mu.mu) / mu.sd, 6) AS z
        FROM f JOIN mu ON f.w = mu.w WHERE mu.sd > 0),
      delta AS (
        SELECT a.source AS sa, b.source AS sb,
               round(CAST(sum(CAST(round(abs(a.z - b.z), 9) AS DECIMAL(38,9)))
                 AS DOUBLE) / count(*), 6) AS delta
        FROM z a JOIN z b ON a.w = b.w AND a.source <> b.source
        GROUP BY a.source, b.source),
      nn AS (
        SELECT sa, sb, delta,
               row_number() OVER (PARTITION BY sa ORDER BY delta, sb) AS rk
        FROM delta)
      SELECT sa AS source, sb AS nearest, delta
      FROM nn WHERE rk = 1 ORDER BY source""")) { (s, dir) =>
      val w = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), explode(Kit.words(col("text"))).as("w"))
      val topw = w.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(30).select(col("w"))
      val st = w.groupBy(col("source")).agg(count(lit(1)).as("n"))
      val c = w.groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      val f = st.crossJoin(broadcast(topw))
        .join(c, Seq("source", "w"), "left")
        .select(col("source"), col("w"),
          round(coalesce(col("c"), lit(0L)).cast("double") / col("n"), 9).as("f"))
      val muM = col("sf").cast("double") / col("cnt")
      val mu = f.groupBy(col("w"))
        .agg(sum(col("f").cast("decimal(38,9)")).as("sf"),
          sum(Kit.rdec(col("f") * col("f"), 18)).as("sff"),
          count(lit(1)).as("cnt"))
        .select(col("w"), muM.as("mu"),
          sqrt(greatest(col("sff").cast("double") / col("cnt") - muM * muM,
            lit(0.0))).as("sd"))
      val z = f.join(broadcast(mu), "w").filter(col("sd") > 0)
        .select(col("source"), col("w"),
          round((col("f") - col("mu")) / col("sd"), 6).as("z"))
      val a = z.alias("a")
      val b = z.alias("b")
      val delta = a.join(b, col("a.w") === col("b.w") &&
          col("a.source") =!= col("b.source"))
        .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
        .agg(round(Kit.rsum(abs(col("a.z") - col("b.z")), 9) / count(lit(1)), 6).as("delta"))
      val byA = Window.partitionBy(col("sa")).orderBy(col("delta"), col("sb"))
      delta.withColumn("rk", row_number().over(byA))
        .filter(col("rk") === 1)
        .select(col("sa").as("source"), col("sb").as("nearest"), col("delta"))
        .orderBy(col("source"))
    },

    // --------------------- upsert/MERGE semantics audit (p184)
    QueryDef("p184_upsert_merge_audit", Some("""
      WITH snap AS (
        SELECT user_id, max(struct_pack(ts := ts, event_id := event_id,
          v := value)) AS s
        FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-16'
        GROUP BY user_id),
      inc AS (
        SELECT user_id, max(struct_pack(ts := ts, event_id := event_id,
          v := value)) AS s
        FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
        GROUP BY user_id),
      m AS (
        SELECT coalesce(snap.user_id, inc.user_id) AS user_id,
               snap.s AS olds, inc.s AS news
        FROM snap FULL JOIN inc ON snap.user_id = inc.user_id)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM snap) AS n_snapshot,
             (SELECT CAST(count(*) AS BIGINT) FROM inc) AS n_incoming,
             CAST(sum(CASE WHEN olds IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_inserts,
             CAST(sum(CASE WHEN olds IS NOT NULL AND news IS NOT NULL
               AND olds.v <> news.v THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
             CAST(sum(CASE WHEN news IS NULL OR (olds IS NOT NULL
               AND olds.v = news.v) THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
             CAST(count(*) AS BIGINT) AS final_size
      FROM m""")) { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
      def latest(cond: org.apache.spark.sql.Column) = ev.filter(cond)
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("value").as("v"))).as("s"))
      val cut = col("ts").cast("date") < lit("2024-01-16").cast("date")
      val snap = latest(cut).select(col("user_id"), col("s").as("olds"))
      val inc = latest(!cut).select(col("user_id"), col("s").as("news"))
      val m = snap.join(inc, Seq("user_id"), "full")
      val nSnap = snap.agg(count(lit(1)).as("n_snapshot"))
      val nInc = inc.agg(count(lit(1)).as("n_incoming"))
      m.agg(
        sum(when(col("olds").isNull, 1L).otherwise(0L)).as("n_inserts"),
        sum(when(col("olds").isNotNull && col("news").isNotNull &&
          col("olds.v") =!= col("news.v"), 1L).otherwise(0L)).as("n_updates"),
        sum(when(col("news").isNull ||
          (col("olds").isNotNull && col("olds.v") === col("news.v")), 1L)
          .otherwise(0L)).as("n_unchanged"),
        count(lit(1)).as("final_size"))
        .crossJoin(broadcast(nSnap)).crossJoin(broadcast(nInc))
        .select(col("n_snapshot"), col("n_incoming"), col("n_inserts"),
          col("n_updates"), col("n_unchanged"), col("final_size"))
    }
  )
}
