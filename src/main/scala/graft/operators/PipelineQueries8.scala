package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 8 — corpus mining and vector-infrastructure
  * stages of a training-data pipeline:
  *
  *  - p46 PMI collocation mining (Church & Hanks 1990; the phrase-detection
  *    statistic of Mikolov et al. 2013 §4): adjacent-pair pointwise mutual
  *    information over the corpus — the "new york → new_york" phrase-merge
  *    candidate list a tokenizer pipeline ranks before merging.
  *  - p47 spherical k-means over embeddings (Dhillon & Modha 2001): two
  *    Lloyd rounds with cosine assignment and gridded centroid updates —
  *    the clustering step behind topic balancing and semantic sharding.
  *  - p48 weighted priority sampling (Efraimidis & Spirakis 2006): a
  *    deterministic hash-keyed weighted sample per source — reproducible
  *    across runs and cluster sizes with no stored sample table or RNG
  *    state exchange.
  *  - p49 boilerplate-segment detection (the paragraph-dedup step of C4 /
  *    CCNet): fixed-width token segments whose document frequency inside a
  *    source exceeds a threshold are template debris; report the removal
  *    accounting per source.
  *  - p50 cross-source shingle overlap: the pairwise Jaccard matrix over
  *    per-source distinct 3-gram sets — the corpus-mixing diagnostic that
  *    catches two "independent" sources republishing the same content.
  *  - p51 int8 scalar quantization of embeddings + reconstruction error:
  *    the compression step every billion-vector ANN index applies, with the
  *    per-label error audit that decides whether int8 is safe.
  *
  * Float determinism convention (as batches 6/7): per-row floating values
  * are exact by construction (integer-ratio division, identical IEEE ops on
  * identical operands in both engines, the shared fused cosine kernel) or
  * pushed through the 1e-9 decimal grid before summation or ranking.
  */
object PipelineQueries8 {

  /** p46: minimum pair count and report size. */
  private val PmiMinCount = 5
  private val PmiTop = 20

  /** p47: cluster count and Lloyd rounds (unrolled). */
  private val KClusters = 4

  /** p48: sample size per source. */
  private val SampleK = 5

  /** p49: a segment is boilerplate when seen in ≥ this many docs of one
    * source; segments are 3 tokens wide. */
  private val BoilerDf = 2
  private val SegW = 3

  /** p50: report the top pairs only. */
  private val OverlapTop = 20

  val defs: Seq[QueryDef] = Seq(

    // --------------------------------------- PMI collocation mining (p46)

    // pmi(a,b) = ln( p(ab) / (p(a) p(b)) ) over adjacent in-document token
    // pairs, reported for pairs seen ≥ PmiMinCount times. Every ratio is an
    // integer-ratio division (exact, identical in both engines); the single
    // ln() output is gridded before ranking so a last-ulp libm divergence
    // cannot reorder the report.
    //
    // Scale shape: the corpus collapses to its unigram and bigram count
    // tables in two partial-agg shuffles, both bounded by the token domain
    // (|V| and ≤|V|²), not the corpus; unigram counts and the two scalar
    // totals are BROADCAST onto the bigram table; the final top-N window
    // sorts the thresholded pair table (vocabulary-sized, nothing
    // corpus-sized ever reaches a sort).
    QueryDef("p46_pmi_collocations", Some(s"""
      WITH t AS (
        SELECT string_split_regex(lower(text), '\\s+') AS tk FROM documents),
      uni AS (
        SELECT w, count(*) AS c
        FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
      tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM uni),
      bi AS (
        SELECT tk[i] AS a, tk[i+1] AS b, count(*) AS cab
        FROM (SELECT tk,
                     unnest(list_transform(range(1, CAST(len(tk) - 1 AS BIGINT) + 1),
                       x -> CAST(x AS BIGINT))) AS i
              FROM t WHERE len(tk) >= 2)
        GROUP BY a, b),
      pt AS (SELECT CAST(sum(cab) AS DOUBLE) AS pt FROM bi),
      scored AS (
        SELECT a, b, cab,
               round(ln((cab / pt) / ((ua.c / t) * (ub.c / t))), 9) AS pmi
        FROM bi
        JOIN uni ua ON bi.a = ua.w
        JOIN uni ub ON bi.b = ub.w
        CROSS JOIN tot CROSS JOIN pt
        WHERE cab >= $PmiMinCount),
      r AS (
        SELECT a, b, cab, pmi,
               row_number() OVER (ORDER BY pmi DESC, a, b) AS rank
        FROM scored)
      SELECT CAST(rank AS BIGINT) AS rank, a, b,
             CAST(cab AS BIGINT) AS cab, round(pmi, 6) AS pmi
      FROM r WHERE rank <= $PmiTop ORDER BY rank""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents").select(Kit.words(col("text")).as("tk"))
      val uni = t.select(explode(col("tk")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = uni.agg(sum(col("c")).cast("double").as("t"))
      val bi = t.filter(size(col("tk")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("tk")) - 1),
          i => struct(element_at(col("tk"), i).as("a"),
            element_at(col("tk"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("cab"))
      val pt = bi.agg(sum(col("cab")).cast("double").as("pt"))
      val ua = uni.select(col("w").as("a"), col("c").as("ca"))
      val ub = uni.select(col("w").as("b"), col("c").as("cb"))
      val scored = bi.filter(col("cab") >= PmiMinCount)
        .join(broadcast(ua), Seq("a"))
        .join(broadcast(ub), Seq("b"))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(pt))
        .select(col("a"), col("b"), col("cab"),
          round(log((col("cab") / col("pt")) /
            ((col("ca") / col("t")) * (col("cb") / col("t")))), 9).as("pmi"))
      // Global top-N over the thresholded pair table — vocabulary-bounded,
      // a few dozen rows reach the single-partition window.
      val rank = Window.orderBy(col("pmi").desc, col("a"), col("b"))
      scored.withColumn("rank", row_number().over(rank))
        .filter(col("rank") <= PmiTop)
        .select(col("rank").cast("long").as("rank"), col("a"), col("b"),
          col("cab").cast("long").as("cab"), round(col("pmi"), 6).as("pmi"))
        .orderBy(col("rank"))
    },

    // ------------------------------------- spherical k-means (p47)

    // Two unrolled Lloyd rounds of cosine k-means over the embedding table:
    // deterministic seeding (the K lowest vec_ids), assignment by the SAME
    // fused cosine kernel the dedup tiers use (index-order accumulation —
    // matches DuckDB's list_cosine_similarity bit-for-bit, the p43
    // precedent), centroid update as decimal-grid per-dimension means.
    // Cosines are gridded before the argmax so assignment ties break
    // deterministically toward the lower cluster id in both engines.
    //
    // Scale shape: ASSIGNMENT IS MAP-ONLY — the K centroids ride along as a
    // broadcast single-row array and each vector picks its cluster inside
    // one row-local array_max, so the corpus is never shuffled to be
    // assigned. Each update is one (cid, dim)-keyed partial-agg shuffle
    // with output bounded by K × dims regardless of corpus size. Per Lloyd
    // round a 1000-executor cluster pays one scan plus one tiny shuffle —
    // the canonical distributed k-means shape.
    QueryDef("p47_kmeans_embeddings", Some(s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      init AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cid, v AS cv
        FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $KClusters)),
      c1 AS (
        SELECT e.vec_id, e.v, init.cid,
               round(list_cosine_similarity(e.v, init.cv), 9) AS cos
        FROM e CROSS JOIN init),
      a1 AS (
        SELECT vec_id, v, cid FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM c1) WHERE rn = 1),
      m1 AS (
        SELECT cid, dim,
               CAST(sum(CAST(round(v[dim], 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS m
        FROM (SELECT cid, v,
                     unnest(list_transform(range(1, CAST(len(v) AS BIGINT) + 1),
                       x -> CAST(x AS BIGINT))) AS dim
              FROM a1)
        GROUP BY cid, dim),
      u1 AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY cid),
      c2 AS (
        SELECT e.vec_id, u1.cid,
               round(list_cosine_similarity(e.v, u1.cv), 9) AS cos
        FROM e CROSS JOIN u1),
      a2 AS (
        SELECT vec_id, cid, cos FROM (
          SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
          FROM c2) WHERE rn = 1)
      SELECT cid AS cluster,
             count(*) AS n_vecs,
             round(CAST(sum(CAST(cos AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6) AS avg_cos,
             round(min(cos), 6) AS min_cos
      FROM a2 GROUP BY cid ORDER BY cluster""")) { (s, dir) =>
      val e = Tables.dfSpread(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val init = e.orderBy(col("vec_id")).limit(KClusters)
        .select((row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("int").as("cid"),
          col("v").as("cv"))
      val a2 = Kit.sphericalKMeans(e, init, Nil, "v")
      a2.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vecs"),
          round(Kit.dsum(col("cos"), 9) /
            count(lit(1)), 6).as("avg_cos"),
          round(min(col("cos")), 6).as("min_cos"))
        .select(col("cid").as("cluster"), col("n_vecs"), col("avg_cos"), col("min_cos"))
        .orderBy(col("cluster"))
    },

    // --------------------------- weighted priority sampling (p48)

    // Efraimidis–Spirakis weighted sampling without an RNG: each document's
    // priority is u^(1/w) with u the md5 hex-fraction of its id and w its
    // token count — equivalently rank by ln(u)/w descending, which is how
    // both engines spell it here (one gridded ln, then an exact division by
    // the integer weight). The top SampleK per source IS a weighted random
    // sample, reproducible across engines, runs, retries, and cluster
    // sizes — the property that lets a 1000-executor job resume sampling
    // mid-corpus with no coordination.
    //
    // Scale shape: priorities are row-local expressions; the per-source
    // top-k is the only shuffle. In production the rank window is
    // prefiltered by a conservative priority threshold (as p38's sketch)
    // so only O(k) candidates per source reach the sort.
    QueryDef("p48_weighted_sample", Some(s"""
      WITH t AS (
        SELECT source, doc_id,
               CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tok,
               ${Kit.hexFracSql("md5(CAST(doc_id AS VARCHAR))")} AS u
        FROM documents),
      k AS (
        SELECT source, doc_id, n_tok,
               round(round(ln(u), 9) / n_tok, 9) AS pri
        FROM t),
      r AS (
        SELECT source, doc_id, n_tok, pri,
               row_number() OVER (PARTITION BY source ORDER BY pri DESC, doc_id) AS rank
        FROM k)
      SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_tok,
             round(pri, 6) AS pri
      FROM r WHERE rank <= $SampleK ORDER BY source, rank""")) { (s, dir) =>
      val t = Tables.df(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          size(Kit.words(col("text"))).cast("long").as("n_tok"),
          Kit.hexFrac(md5(col("doc_id").cast("string"))).as("u"))
      val k = t.select(col("source"), col("doc_id"), col("n_tok"),
        round(round(log(col("u")), 9) / col("n_tok"), 9).as("pri"))
      val w = Window.partitionBy(col("source")).orderBy(col("pri").desc, col("doc_id"))
      k.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= SampleK)
        .select(col("source"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("n_tok"), round(col("pri"), 6).as("pri"))
        .orderBy(col("source"), col("rank"))
    },

    // --------------------------- boilerplate-segment detection (p49)

    // Paragraph-style dedup inside each source (C4 §2.2 / CCNet): split
    // every document into fixed-width SegW-token segments, count each
    // segment's document frequency within its source, and flag segments
    // seen in ≥ BoilerDf documents as template debris. Reports the removal
    // accounting a curation dashboard tracks (how much of a source is
    // boilerplate).
    //
    // Scale shape: segmentation is a row-local explode; the (source,
    // segment)-keyed partial-agg groupBy is the single corpus-sized
    // shuffle (segments hash-condense map-side exactly like p01's exact
    // dedup); the per-source rollup is |sources|-bounded.
    QueryDef("p49_boilerplate_segments", Some(s"""
      WITH t AS (
        SELECT source, doc_id, string_split_regex(lower(text), '\\s+') AS tk
        FROM documents),
      seg AS (
        SELECT source, doc_id,
               array_to_string(tk[($SegW*i-${SegW - 1}):($SegW*i)], ' ') AS seg
        FROM (SELECT source, doc_id, tk,
                     unnest(list_transform(range(1, CAST(len(tk)//$SegW AS BIGINT) + 1),
                       x -> CAST(x AS BIGINT))) AS i
              FROM t)),
      df AS (
        SELECT source, seg,
               count(DISTINCT doc_id) AS df, count(*) AS inst
        FROM seg GROUP BY source, seg)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(sum(inst) AS BIGINT) AS n_inst,
             CAST(sum(CASE WHEN df >= $BoilerDf THEN 1 ELSE 0 END) AS BIGINT) AS boiler_distinct,
             CAST(sum(CASE WHEN df >= $BoilerDf THEN inst ELSE 0 END) AS BIGINT) AS boiler_inst,
             round(CAST(sum(CASE WHEN df >= $BoilerDf THEN inst ELSE 0 END) AS DOUBLE)
                   / sum(inst), 6) AS boiler_frac
      FROM df GROUP BY source ORDER BY source""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), col("doc_id"), Kit.words(col("text")).as("tk"))
      val seg = t.select(col("source"), col("doc_id"),
        explode(transform(sequence(lit(1L), floor(size(col("tk")) / SegW).cast("long")),
          i => array_join(slice(col("tk"), (i * SegW - (SegW - 1)).cast("int"), lit(SegW)), " ")))
          .as("seg"))
      val df = seg.groupBy(col("source"), col("seg"))
        .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("inst"))
      val boiler = col("df") >= BoilerDf
      df.groupBy(col("source"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("inst")).as("n_inst"),
          sum(when(boiler, 1L).otherwise(0L)).as("boiler_distinct"),
          sum(when(boiler, col("inst")).otherwise(0L)).as("boiler_inst"),
          round(sum(when(boiler, col("inst")).otherwise(0L)).cast("double") /
            sum(col("inst")), 6).as("boiler_frac"))
        .orderBy(col("source"))
    },

    // --------------------------- cross-source shingle overlap (p50)

    // Pairwise Jaccard over per-source distinct 3-gram sets — the
    // corpus-composition diagnostic that surfaces two sources republishing
    // the same content (a high-overlap pair means the mixing weights
    // double-count that material). Jaccard values are exact integer ratios;
    // ranking uses the 1e-9 grid so the report order is engine-stable.
    //
    // Scale shape: one gram-keyed shuffle builds the distinct (source,
    // gram) set (hash-condensed map-side); the pair join emits at most
    // |sources|² rows PER GRAM with the pair domain bounded by |sources|²
    // overall, so the intersection table never scales with the corpus; the
    // per-source distinct counts are broadcast back onto the pair table.
    QueryDef("p50_source_overlap", Some(s"""
      WITH t AS (
        SELECT source, string_split_regex(lower(text), '\\s+') AS tk
        FROM documents),
      g AS (
        SELECT DISTINCT source, md5(array_to_string(tk[x:x+2], ' ')) AS g
        FROM (SELECT source, tk,
                     unnest(list_transform(range(1, CAST(len(tk) - 2 AS BIGINT) + 1),
                       y -> CAST(y AS BIGINT))) AS x
              FROM t WHERE len(tk) >= 3)),
      d AS (SELECT source, count(*) AS c FROM g GROUP BY source),
      pr AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        GROUP BY src_a, src_b),
      j AS (
        SELECT src_a, src_b, inter,
               da.c + db.c - inter AS uni,
               CAST(inter AS DOUBLE) / (da.c + db.c - inter) AS jac
        FROM pr
        JOIN d da ON pr.src_a = da.source
        JOIN d db ON pr.src_b = db.source),
      r AS (
        SELECT src_a, src_b, inter, uni, jac,
               row_number() OVER (ORDER BY round(jac, 9) DESC, src_a, src_b) AS rank
        FROM j)
      SELECT CAST(rank AS BIGINT) AS rank, src_a, src_b,
             CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni,
             round(jac, 6) AS jac
      FROM r WHERE rank <= $OverlapTop ORDER BY rank""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), Kit.words(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
      val g = t.select(col("source"),
        explode(transform(sequence(lit(1L), (size(col("tk")) - 2).cast("long")),
          i => md5(concat_ws(" ", slice(col("tk"), i.cast("int"), lit(3)))))).as("g"))
        .distinct()
      val d = g.groupBy(col("source")).agg(count(lit(1)).as("c"))
      val ga = g.select(col("source").as("src_a"), col("g"))
      val gb = g.select(col("source").as("src_b"), col("g"))
      val pr = ga.join(gb, ga("g") === gb("g") && col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("inter"))
      val da = d.select(col("source").as("src_a"), col("c").as("ca"))
      val db = d.select(col("source").as("src_b"), col("c").as("cb"))
      val j = pr.join(broadcast(da), Seq("src_a"))
        .join(broadcast(db), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("inter"),
          (col("ca") + col("cb") - col("inter")).as("uni"),
          Kit.jaccard(col("inter"), col("ca"), col("cb")).as("jac"))
      // Pair domain is |sources|² — a few hundred rows at most reach the
      // single-partition ranking window.
      val rank = Window.orderBy(round(col("jac"), 9).desc, col("src_a"), col("src_b"))
      j.withColumn("rank", row_number().over(rank))
        .filter(col("rank") <= OverlapTop)
        .select(col("rank").cast("long").as("rank"), col("src_a"), col("src_b"),
          col("inter").cast("long").as("inter"), col("uni").cast("long").as("uni"),
          round(col("jac"), 6).as("jac"))
        .orderBy(col("rank"))
    },

    // --------------------- int8 embedding quantization audit (p51)

    // Scalar (per-dimension affine) int8 quantization — the compression
    // every billion-vector ANN index applies before sharding — with the
    // reconstruction-error audit that decides whether int8 is safe for a
    // given label. Quantization rounds via floor(x + 0.5) (identical in
    // both engines — no banker's-rounding divergence); dequantization and
    // the error are identical-operand IEEE arithmetic; squared errors ride
    // the 1e-9 grid into decimal sums.
    //
    // Scale shape: the per-dimension min/max stats are one posexplode +
    // (dim)-keyed partial agg whose OUTPUT is dims rows (map-side combine
    // collapses each task to dims rows before the shuffle); the stats are
    // BROADCAST back so quantize/dequantize/error is map-only; the final
    // per-label agg is the only other shuffle.
    QueryDef("p51_embed_quantize", Some("""
      WITH u AS (
        SELECT label, vec_id,
               unnest(list_transform(range(1, CAST(len(embedding) AS BIGINT) + 1),
                 x -> CAST(x AS BIGINT))) AS dim,
               embedding
        FROM embeddings),
      uv AS (SELECT label, vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS val FROM u),
      st AS (
        SELECT dim, min(val) AS mn, max(val) - min(val) AS d
        FROM uv GROUP BY dim),
      q AS (
        SELECT label, vec_id, val,
               CASE WHEN d = 0 THEN mn
                    ELSE mn + (floor(((val - mn) / d) * 255.0 + 0.5) * d) / 255.0
               END AS recon
        FROM uv JOIN st ON uv.dim = st.dim),
      e AS (SELECT label, vec_id, val - recon AS err FROM q)
      SELECT label,
             count(DISTINCT vec_id) AS n_vecs,
             CAST(count(*) AS BIGINT) AS n_vals,
             round(CAST(sum(CAST(round(err * err, 9) AS DECIMAL(38,9))) AS DOUBLE)
                   / count(*), 9) AS mse,
             round(max(abs(err)), 6) AS max_abs_err
      FROM e GROUP BY label ORDER BY label""")) { (s, dir) =>
      val uv = Tables.df(s, dir, "embeddings")
        .select(col("label"), col("vec_id"), posexplode(col("embedding")))
        .select(col("label"), col("vec_id"), (col("pos") + 1).as("dim"),
          col("col").cast("double").as("val"))
      val st = uv.groupBy(col("dim"))
        .agg(min(col("val")).as("mn"), (max(col("val")) - min(col("val"))).as("d"))
      val recon = when(col("d") === 0, col("mn"))
        .otherwise(col("mn") +
          (floor(((col("val") - col("mn")) / col("d")) * 255.0 + 0.5) * col("d")) / 255.0)
      val err = col("val") - col("recon")
      uv.join(broadcast(st), Seq("dim"))
        .withColumn("recon", recon)
        .select(col("label"), col("vec_id"), err.as("err"))
        .groupBy(col("label"))
        .agg(countDistinct(col("vec_id")).as("n_vecs"),
          count(lit(1)).as("n_vals"),
          round(Kit.rsum(col("err") * col("err"), 9) /
            count(lit(1)), 9).as("mse"),
          round(max(abs(col("err"))), 6).as("max_abs_err"))
        .orderBy(col("label"))
    }
  )
}
