package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Functions, QueryDef, Tables}

/** Pipeline coverage batch 52 — retrieval quality geometry, confounding
  * detection, hash health, experiment sizing, model-score economics, and
  * neighborhood symmetry:
  *
  *  - p205 retrieval diversity: for a fixed probe set of queries, the
  *    exact top-5 cosine neighbors' intra-list mean pairwise cosine vs
  *    their mean relevance — the redundancy screen run before shipping a
  *    retrieval index (high intra-list cosine = the index returns five
  *    copies of one thing). The probe set is capped (p05's truth-tier
  *    convention), so the pair space is bounded at any corpus size.
  *
  *  - p206 Simpson's-paradox audit: pooled OLS slope of per-user mean
  *    value against per-user activity vs the same slope within each
  *    event type; a sign flip between pooled and within-group slopes is
  *    the classic confounding alarm that invalidates pooled readouts.
  *    All slopes from exact DECIMAL sufficient sums.
  *
  *  - p207 simhash bit-bias audit: per-bit ones-share of the 60-bit
  *    simhash across the corpus. A healthy hash sits near 0.5 per bit;
  *    biased bits shrink effective Hamming space and inflate p169's LSH
  *    bucket collisions. Map-side partial agg to 60 cells.
  *
  *  - p208 A/B power & MDE: per-event-type minimum detectable effect of
  *    the user-parity experiment at α=0.05 two-sided / 80% power, from
  *    pooled-variance DECIMAL sums and literal z constants (1.959963985,
  *    0.841621234) — never runtime inverse-normal. The sizing arithmetic
  *    every experiment readout should carry next to its p-value.
  *
  *  - p209 decile lift/gains table: users scored by activity count,
  *    cut into deciles against ExactPercentile boundaries over the
  *    integer activity domain (value-domain-bounded histogram — the p78
  *    class), conversion = has a purchase; per-decile conversion rate,
  *    lift over base rate, and cumulative converter capture walking down
  *    the ranking (10-row frame). The targeting-economics complement of
  *    p133's ROC AUC.
  *
  *  - p210 kNN reciprocity: within a capped probe tier, the share of
  *    directed top-5 cosine edges whose reverse edge is also top-5 —
  *    asymmetric neighborhoods are where hubness hides; the diagnostic
  *    that decides mutual-kNN pruning before graph-based dedup.
  *
  * Determinism: fixed probe caps, DECIMAL sufficient sums, literal z
  * constants, integer-domain ExactPercentile cuts, (cos, id) total
  * orders on every ranking, 6dp-rounded ratios, ordered outputs.
  */
object PipelineQueries52 {

  val defs: Seq[QueryDef] = Seq(

    // --------------------- retrieval diversity (p205)
    QueryDef("p205_retrieval_diversity", Some("""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
                 WHERE vec_id < 8),
      scored AS (
        SELECT q.q_id, e.vec_id,
               list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
                 CAST(e.embedding AS DOUBLE[])) AS cos,
               e.embedding
        FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
      topk AS (
        SELECT q_id, vec_id, cos, embedding FROM (
          SELECT q_id, vec_id, cos, embedding,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cos DESC, vec_id) AS rn
          FROM scored) t WHERE rn <= 5),
      rel AS (
        SELECT q_id,
               CAST(sum(CAST(round(cos, 9) AS DECIMAL(38,9))) AS DOUBLE) / 5
                 AS mean_rel
        FROM topk GROUP BY q_id),
      intra AS (
        SELECT a.q_id,
               CAST(sum(CAST(round(list_cosine_similarity(
                 CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])),
                 9) AS DECIMAL(38,9))) AS DOUBLE) / 10 AS intra_cos
        FROM topk a JOIN topk b
          ON a.q_id = b.q_id AND a.vec_id < b.vec_id
        GROUP BY a.q_id)
      SELECT rel.q_id, round(rel.mean_rel, 6) AS mean_rel,
             round(intra.intra_cos, 6) AS intra_cos
      FROM rel JOIN intra ON rel.q_id = intra.q_id
      ORDER BY rel.q_id""")) { (s, dir) =>
      val e = Tables.dfSpread(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      val scored = broadcast(q).join(e, col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          Functions.cosineSimilarity(col("qe"), col("embedding")).as("cos"),
          col("embedding"))
      val rn = row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id")))
      val topk = scored.withColumn("rn", rn).filter(col("rn") <= 5)
        .select(col("q_id"), col("vec_id"), col("cos"), col("embedding"))
      val rel = topk.groupBy(col("q_id")).agg(
        (Kit.rsum(col("cos"), 9) / 5)
          .as("mean_rel"))
      // 10 result pairs per query — the pair space is probe-cap bounded
      val intra = topk.alias("a").join(topk.alias("b"),
          col("a.q_id") === col("b.q_id") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.q_id").as("q_id"),
          Functions.cosineSimilarity(col("a.embedding"), col("b.embedding"))
            .as("pc"))
        .groupBy(col("q_id"))
        .agg((Kit.rsum(col("pc"), 9) / 10)
          .as("intra_cos"))
      rel.join(intra, "q_id")
        .select(col("q_id"), round(col("mean_rel"), 6).as("mean_rel"),
          round(col("intra_cos"), 6).as("intra_cos"))
        .orderBy(col("q_id"))
    },

    // --------------------- Simpson's-paradox audit (p206)
    QueryDef.sql("p206_simpsons_audit", """
      WITH u AS (
        SELECT event_type, user_id,
               CAST(count(*) AS BIGINT) AS x,
               CAST(sum(CAST(round(value, 2) AS DECIMAL(38,2))) AS DOUBLE)
                 / count(*) AS y
        FROM events GROUP BY event_type, user_id),
      cells AS (
        SELECT event_type, x, CAST(round(y, 6) AS DECIMAL(38,6)) AS y
        FROM u),
      pooled AS (
        SELECT count(*) AS n, sum(x) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               sum(x * x) AS sxx,
               CAST(sum(x * y) AS DOUBLE) AS sxy
        FROM cells),
      ps AS (
        SELECT (sxy - CAST(sx AS DOUBLE) * sy / n)
          / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS pooled_slope
        FROM pooled),
      grp AS (
        SELECT event_type, count(*) AS n, sum(x) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               sum(x * x) AS sxx,
               CAST(sum(x * y) AS DOUBLE) AS sxy
        FROM cells GROUP BY event_type)
      SELECT g.event_type, CAST(g.n AS BIGINT) AS n_users,
             round((g.sxy - CAST(g.sx AS DOUBLE) * g.sy / g.n)
               / (CAST(g.sxx AS DOUBLE) - CAST(g.sx AS DOUBLE) * g.sx / g.n), 6)
               AS slope_within,
             round(ps.pooled_slope, 6) AS slope_pooled,
             CASE WHEN ((g.sxy - CAST(g.sx AS DOUBLE) * g.sy / g.n)
               / (CAST(g.sxx AS DOUBLE) - CAST(g.sx AS DOUBLE) * g.sx / g.n))
               * ps.pooled_slope < 0 THEN 1 ELSE 0 END AS sign_flip
      FROM grp g, ps ORDER BY g.event_type"""),

    // --------------------- simhash bit-bias audit (p207)
    QueryDef("p207_simhash_bit_bias", Some("""
      WITH th AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM documents) t),
      bits AS (
        SELECT doc_id, b.bit,
               sum(CASE WHEN ((h >> b.bit) & 1) = 1 THEN 1 ELSE -1 END) AS vote
        FROM th, range(0, 60) b(bit)
        GROUP BY doc_id, b.bit),
      per_bit AS (
        SELECT bit, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN vote > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ones
        FROM bits GROUP BY bit)
      SELECT CAST(bit AS BIGINT) AS bit, ones,
             round(CAST(ones AS DOUBLE) / n_docs, 6) AS ones_share,
             round(abs(CAST(ones AS DOUBLE) / n_docs - 0.5), 6) AS deviation
      FROM per_bit ORDER BY bit""")) { (s, dir) =>
      val docs = Tables.dfSpread(s, dir, "documents")
      val sh = docs.select(col("doc_id"),
        Functions.simhash60(Kit.words(col("text"))).as("simhash"))
      val bits = sh.select(col("doc_id"),
          explode(sequence(lit(0), lit(59))).as("bit"),
          col("simhash"))
        .select(col("bit"),
          expr("shiftright(simhash, bit)").bitwiseAND(1).as("isone"))
      bits.groupBy(col("bit"))
        .agg(count(lit(1)).as("n_docs"), sum(col("isone")).as("ones"))
        .select(col("bit").cast("bigint").as("bit"), col("ones"),
          round(col("ones").cast("double") / col("n_docs"), 6).as("ones_share"),
          round(abs(col("ones").cast("double") / col("n_docs") - 0.5), 6)
            .as("deviation"))
        .orderBy(col("bit"))
    },

    // --------------------- A/B power & MDE (p208)
    QueryDef("p208_ab_power_mde", Some("""
      WITH arms AS (
        SELECT event_type, user_id % 2 AS arm, value FROM events),
      g AS (
        SELECT event_type, arm,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value, 2) AS DECIMAL(38,2))) AS DOUBLE) AS sx,
               CAST(sum(CAST(round(value * value, 4) AS DECIMAL(38,4)))
                 AS DOUBLE) AS sxx
        FROM arms GROUP BY event_type, arm),
      w AS (
        SELECT event_type,
               min(CASE WHEN arm = 0 THEN n END) AS n0,
               min(CASE WHEN arm = 1 THEN n END) AS n1,
               sum(sx) AS sx, sum(sxx) AS sxx, sum(n) AS n
        FROM g GROUP BY event_type),
      sd AS (
        SELECT event_type, n0, n1,
               CAST(sx AS DOUBLE) / n AS mean_all,
               sqrt((sxx - sx * sx / n) / (n - 1)) AS s
        FROM w)
      SELECT event_type, n0, n1, round(s, 6) AS pooled_sd,
             round((1.959963985 + 0.841621234) * s
               * sqrt(1.0 / n0 + 1.0 / n1), 6) AS mde_abs,
             round((1.959963985 + 0.841621234) * s
               * sqrt(1.0 / n0 + 1.0 / n1) / mean_all, 6) AS mde_rel
      FROM sd ORDER BY event_type""")) { (s, dir) =>
      val arms = Tables.df(s, dir, "events")
        .select(col("event_type"), (col("user_id") % 2).as("arm"), col("value"))
      val g = arms.groupBy(col("event_type"), col("arm")).agg(
        count(lit(1)).as("n"),
        Kit.rsum(col("value"), 2).as("sx"),
        Kit.rsum(col("value") * col("value"), 4).as("sxx"))
      val w = g.groupBy(col("event_type")).agg(
        min(when(col("arm") === 0, col("n"))).as("n0"),
        min(when(col("arm") === 1, col("n"))).as("n1"),
        sum(col("sx")).as("sx"), sum(col("sxx")).as("sxx"), sum(col("n")).as("n"))
      val sd = sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
        (col("n") - 1))
      val meanAll = col("sx") / col("n")
      // z_{0.025} + z_{0.2} as literals — never runtime inverse-normal
      val mde = lit(1.959963985 + 0.841621234) * sd *
        sqrt(lit(1.0) / col("n0") + lit(1.0) / col("n1"))
      w.select(col("event_type"), col("n0"), col("n1"),
          round(sd, 6).as("pooled_sd"),
          round(mde, 6).as("mde_abs"),
          round(mde / meanAll, 6).as("mde_rel"))
        .orderBy(col("event_type"))
    },

    // --------------------- decile lift/gains table (p209)
    QueryDef("p209_decile_lift_table", Some("""
      WITH u AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS activity,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id),
      b AS (
        SELECT quantile_cont(CAST(activity AS DOUBLE),
          [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        FROM u),
      dec AS (
        SELECT u.user_id, u.conv,
               1 + len(list_filter(b.qs, q -> q <= CAST(u.activity AS DOUBLE)))
                 AS decile
        FROM u, b),
      agg AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(conv) AS BIGINT) AS n_conv
        FROM dec GROUP BY decile),
      tot AS (SELECT sum(n_users) AS nu, sum(n_conv) AS nc FROM agg)
      SELECT agg.decile, agg.n_users, agg.n_conv,
             round(CAST(agg.n_conv AS DOUBLE) / agg.n_users, 6) AS conv_rate,
             round((CAST(agg.n_conv AS DOUBLE) / agg.n_users)
               / (CAST(tot.nc AS DOUBLE) / tot.nu), 6) AS lift,
             round(CAST(sum(agg.n_conv) OVER (ORDER BY agg.decile DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / tot.nc, 6) AS cum_capture
      FROM agg, tot ORDER BY agg.decile""")) { (s, dir) =>
      val u = Tables.df(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("activity"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      // decile cuts from the integer activity domain (value-domain-bounded
      // histogram — ExactPercentile's one-level tier, the p78 class)
      val keyed = u.select(lit(0L).as("k"), col("activity").cast("double").as("a"),
        col("conv"))
      val qs = (1 to 9).map(_ / 10.0)
      val bounds = ExactPercentile.percentiles(
        keyed.select(col("k"), col("a")), "k", col("a"),
        qs.zipWithIndex.map { case (q, i) => q -> s"q$i" })
      val qCols = (0 until 9).map(i => col(s"q$i"))
      val decile = lit(1) + qCols.map(q => when(q <= col("a"), 1).otherwise(0))
        .reduce(_ + _)
      val dec = keyed.crossJoin(broadcast(bounds))
        .select(col("conv"), decile.as("decile"))
      val agg = dec.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
      val tot = agg.agg(sum(col("n_users")).as("nu"), sum(col("n_conv")).as("nc"))
      // the gains walk runs over the 10-row decile frame
      val wDesc = Window.orderBy(col("decile").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      agg.crossJoin(broadcast(tot))
        .select(col("decile"), col("n_users"), col("n_conv"),
          round(col("n_conv").cast("double") / col("n_users"), 6).as("conv_rate"),
          round((col("n_conv").cast("double") / col("n_users")) /
            (col("nc").cast("double") / col("nu")), 6).as("lift"),
          round(sum(col("n_conv")).over(wDesc).cast("double") / col("nc"), 6)
            .as("cum_capture"))
        .orderBy(col("decile"))
    },

    // --------------------- kNN reciprocity (p210)
    QueryDef("p210_knn_reciprocity", Some("""
      WITH tier AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 64),
      scored AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                 CAST(b.embedding AS DOUBLE[])) AS cos
        FROM tier a JOIN tier b ON a.vec_id <> b.vec_id),
      knn AS (
        SELECT src, dst, cos FROM (
          SELECT src, dst, cos,
                 row_number() OVER (PARTITION BY src
                   ORDER BY cos DESC, dst) AS rn
          FROM scored) t WHERE rn <= 5),
      mutual AS (
        SELECT a.src, a.dst, a.cos
        FROM knn a JOIN knn b ON a.src = b.dst AND a.dst = b.src)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM tier) AS n_nodes,
             (SELECT CAST(count(*) AS BIGINT) FROM knn) AS n_edges,
             CAST(count(*) AS BIGINT) AS n_mutual,
             round(CAST(count(*) AS DOUBLE)
               / (SELECT count(*) FROM knn), 6) AS reciprocal_share,
             round(CAST(sum(CAST(round(cos, 9) AS DECIMAL(38,9))) AS DOUBLE)
               / count(*), 6) AS mean_mutual_cos
      FROM mutual""")) { (s, dir) =>
      val tier = Tables.dfSpread(s, dir, "embeddings")
        .filter(col("vec_id") < 64)
        .select(col("vec_id"), col("embedding"))
      val scored = tier.alias("a").join(broadcast(tier.alias("b")),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
          Functions.cosineSimilarity(col("a.embedding"), col("b.embedding"))
            .as("cos"))
      val rn = row_number().over(
        Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst")))
      val knn = scored.withColumn("rn", rn).filter(col("rn") <= 5)
        .select(col("src"), col("dst"), col("cos"))
      val mutual = knn.alias("a").join(knn.alias("b"),
          col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("a.dst").as("dst"),
          col("a.cos").as("cos"))
      val nNodes = tier.agg(count(lit(1)).as("n_nodes"))
      val nEdges = knn.agg(count(lit(1)).as("n_edges"))
      mutual.agg(count(lit(1)).as("n_mutual"),
          Kit.rsum(col("cos"), 9)
            .as("sum_cos"))
        .crossJoin(broadcast(nNodes))
        .crossJoin(broadcast(nEdges))
        .select(col("n_nodes"), col("n_edges"), col("n_mutual"),
          round(col("n_mutual").cast("double") / col("n_edges"), 6)
            .as("reciprocal_share"),
          round(col("sum_cos") / col("n_mutual"), 6).as("mean_mutual_cos"))
    })
}
