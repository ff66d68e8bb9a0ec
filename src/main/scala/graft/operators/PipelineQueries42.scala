package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 42 — sketch algebra, graph structure, and
  * distribution drift: three audits whose corpus-sized work is one pass,
  * finishing the mergeable-sketch and drift stories.
  *
  *  - p152 KMV sketch INTERSECTION (inclusion–exclusion): the even/odd
  *    source halves each carry a K=64 minimum-hash sketch of their word
  *    3-gram sets (p103's machinery); merging two complete K-min sets gives
  *    the union sketch, and |A∩B| ≈ est(A) + est(B) − est(A∪B). Reported
  *    against the exact intersection — the audit a pipeline runs before
  *    trusting sketch algebra for overlap decisions at 100 TB (where the
  *    exact join is the thing being avoided).
  *
  *  - p153 degree assortativity of the near-dup graph: Pearson correlation
  *    of endpoint degrees over the (doubled) p02 LSH edge list — positive
  *    values mean big dup-clusters link to big ones (chain risk for
  *    connected-components), negative means hub-and-spoke. Integer-degree
  *    DECIMAL sufficient sums; the edge list is the LSH candidate set,
  *    already bounded by banding.
  *
  *  - p154 PSI (population stability index) between the first and second
  *    time-halves of the event stream, per fixed value bin with add-half
  *    smoothing — THE model-monitoring drift number, reported as the
  *    per-bin table (bin, counts, shares, PSI term). One counting pass;
  *    the bin frame is constant-size.
  *
  * Determinism: integer counts, the p103 52-bit exact hex fractions,
  * DECIMAL sufficient sums, 9dp-rounded ln terms, 4–6dp-rounded outputs.
  */
object PipelineQueries42 {

  private val K = 64

  val defs: Seq[QueryDef] = Seq(

    // ------------------ KMV intersection via inclusion-exclusion (p152)
    QueryDef("p152_kmv_intersection", Some(s"""
      WITH t AS (
        SELECT CAST(substr(source, 4) AS INTEGER) % 2 AS grp,
               string_split_regex(lower(text), '\\s+') AS tk
        FROM documents),
      p AS (
        SELECT grp, tk,
               unnest(list_transform(range(1, CAST(len(tk) - 2 AS BIGINT) + 1),
                 x -> CAST(x AS BIGINT))) AS pos
        FROM t WHERE len(tk) >= 3),
      g AS (
        SELECT DISTINCT grp, md5(array_to_string(tk[pos:pos+2], ' ')) AS g
        FROM p),
      d AS (SELECT grp, CAST(count(*) AS BIGINT) AS d_exact FROM g GROUP BY grp),
      di AS (
        SELECT CAST(count(*) AS BIGINT) AS d_int FROM (
          SELECT g FROM g GROUP BY g HAVING count(DISTINCT grp) = 2) x),
      r AS (
        SELECT grp, g, row_number() OVER (PARTITION BY grp ORDER BY g) AS rnk
        FROM g),
      k AS (
        SELECT grp, max(${Kit.hexFracSql("g")}) AS kth
        FROM r WHERE rnk <= $K GROUP BY grp),
      ru AS (
        SELECT g, row_number() OVER (ORDER BY g) AS rnk
        FROM (SELECT DISTINCT g FROM g) x),
      ku AS (SELECT max(${Kit.hexFracSql("g")}) AS kthu
             FROM ru WHERE rnk <= $K),
      est AS (
        SELECT round(${K - 1}.0 / a.kth, 4) AS est_a,
               round(${K - 1}.0 / b.kth, 4) AS est_b,
               round(${K - 1}.0 / ku.kthu, 4) AS est_union
        FROM k a JOIN k b ON a.grp = 0 AND b.grp = 1 CROSS JOIN ku)
      SELECT da.d_exact AS d_a, db.d_exact AS d_b, di.d_int,
             est.est_a, est.est_b, est.est_union,
             round(est.est_a + est.est_b - est.est_union, 4) AS est_int,
             round(abs(est.est_a + est.est_b - est.est_union - di.d_int)
                   / di.d_int, 4) AS rel_err
      FROM d da JOIN d db ON da.grp = 0 AND db.grp = 1
      CROSS JOIN di CROSS JOIN est""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select((substring(col("source"), 4, 10).cast("int") % 2).as("grp"),
          Kit.words(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
      val g = t.select(col("grp"),
        explode(transform(sequence(lit(1L), (size(col("tk")) - 2).cast("long")),
          i => md5(concat_ws(" ", slice(col("tk"), i.cast("int"), lit(3))))))
          .as("g"))
        .distinct()
      val d = g.groupBy(col("grp")).agg(count(lit(1)).cast("bigint").as("d_exact"))
      val di = g.groupBy(col("g")).agg(countDistinct(col("grp")).as("ng"))
        .filter(col("ng") === 2).agg(count(lit(1)).cast("bigint").as("d_int"))
      val sk = g.groupBy(col("grp"))
        .agg(graft.Functions.kmvSketch(col("g")).as("sketch"))
      def estOf(arr: Column): Column =
        round(lit(K - 1).cast("double") / Kit.hexFrac(element_at(arr, K)), 4)
      // each input is its group's complete K-min set, so the K smallest of
      // the merged set IS the union sketch
      val merged = sk.agg(
        slice(array_sort(array_distinct(flatten(collect_list(col("sketch"))))),
          1, K).as("msk"))
      val est = sk.filter(col("grp") === 0).select(estOf(col("sketch")).as("est_a"))
        .crossJoin(sk.filter(col("grp") === 1).select(estOf(col("sketch")).as("est_b")))
        .crossJoin(merged.select(estOf(col("msk")).as("est_union")))
      d.filter(col("grp") === 0).select(col("d_exact").as("d_a"))
        .crossJoin(d.filter(col("grp") === 1).select(col("d_exact").as("d_b")))
        .crossJoin(broadcast(di))
        .crossJoin(broadcast(est))
        .select(col("d_a"), col("d_b"), col("d_int"),
          col("est_a"), col("est_b"), col("est_union"),
          round(col("est_a") + col("est_b") - col("est_union"), 4).as("est_int"),
          round(abs(col("est_a") + col("est_b") - col("est_union")
            - col("d_int")) / col("d_int"), 4).as("rel_err"))
    },

    // --------------- near-dup graph degree assortativity (p153)
    QueryDef("p153_degree_assortativity", Some(s"""
      WITH ${PipelineQueries3.pairsCte},
      dd AS (
        SELECT doc, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT doc_a AS doc FROM pairs
          UNION ALL SELECT doc_b AS doc FROM pairs) x GROUP BY doc),
      de AS (
        SELECT da.deg AS j, db.deg AS k FROM pairs
        JOIN dd da ON da.doc = pairs.doc_a
        JOIN dd db ON db.doc = pairs.doc_b
        UNION ALL
        SELECT db.deg AS j, da.deg AS k FROM pairs
        JOIN dd da ON da.doc = pairs.doc_a
        JOIN dd db ON db.doc = pairs.doc_b),
      a AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(CAST(j AS DECIMAL(19,0))) AS DOUBLE) AS sj,
               CAST(sum(CAST(k AS DECIMAL(19,0))) AS DOUBLE) AS sk,
               CAST(sum(CAST(j AS DECIMAL(19,0)) * CAST(k AS DECIMAL(19,0)))
                    AS DOUBLE) AS sjk,
               CAST(sum(CAST(j AS DECIMAL(19,0)) * CAST(j AS DECIMAL(19,0)))
                    AS DOUBLE) AS sjj,
               CAST(sum(CAST(k AS DECIMAL(19,0)) * CAST(k AS DECIMAL(19,0)))
                    AS DOUBLE) AS skk
        FROM de),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM dd),
      ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs)
      SELECT nn.n_nodes, ne.n_edges,
             round(CASE WHEN (m * sjj - sj * sj) * (m * skk - sk * sk) > 0
               THEN (m * sjk - sj * sk)
                    / sqrt((m * sjj - sj * sj) * (m * skk - sk * sk)) END, 6)
               AS assortativity
      FROM a CROSS JOIN nn CROSS JOIN ne""")) { (s, dir) =>
      val pairs = Kit.minhashPairs(s, dir)
      val dd = pairs.select(col("doc_a").as("doc"))
        .unionAll(pairs.select(col("doc_b").as("doc")))
        .groupBy(col("doc")).agg(count(lit(1)).cast("bigint").as("deg"))
      val e1 = pairs
        .join(dd.withColumnRenamed("doc", "xa").withColumnRenamed("deg", "ja"),
          col("xa") === col("doc_a"))
        .join(dd.withColumnRenamed("doc", "xb").withColumnRenamed("deg", "kb"),
          col("xb") === col("doc_b"))
        .select(col("ja").as("j"), col("kb").as("k"))
      val de = e1.unionAll(e1.select(col("k").as("j"), col("j").as("k")))
      val dj = col("j").cast("decimal(19,0)")
      val dk = col("k").cast("decimal(19,0)")
      val a = de.agg(count(lit(1)).cast("bigint").as("m"),
        sum(dj).cast("double").as("sj"), sum(dk).cast("double").as("sk"),
        sum(dj * dk).cast("double").as("sjk"),
        sum(dj * dj).cast("double").as("sjj"),
        sum(dk * dk).cast("double").as("skk"))
      val nn = dd.agg(count(lit(1)).cast("bigint").as("n_nodes"))
      val ne = pairs.agg(count(lit(1)).cast("bigint").as("n_edges"))
      val varJ = col("m") * col("sjj") - col("sj") * col("sj")
      val varK = col("m") * col("skk") - col("sk") * col("sk")
      a.crossJoin(broadcast(nn)).crossJoin(broadcast(ne))
        .select(col("n_nodes"), col("n_edges"),
          round(when(varJ * varK > 0,
            (col("m") * col("sjk") - col("sj") * col("sk"))
              / sqrt(varJ * varK)), 6).as("assortativity"))
    },

    // ---------------- PSI drift between time halves (p154)
    QueryDef("p154_psi_drift", Some("""
      WITH b AS (
        SELECT CAST(floor((CAST(epoch_us(min(ts)) AS BIGINT)
                 + CAST(epoch_us(max(ts)) AS BIGINT)) / 2.0) AS BIGINT) AS mid
        FROM events),
      sc AS (
        SELECT CASE WHEN CAST(epoch_us(ts) AS BIGINT) < b.mid THEN 0 ELSE 1 END
                 AS half,
               CAST(least(greatest(floor(abs(value) / 10), 0), 9) AS INTEGER)
                 AS bin
        FROM events CROSS JOIN b),
      c AS (
        SELECT bin,
               CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM sc GROUP BY bin),
      tt AS (SELECT CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2
             FROM c)
      SELECT c.bin, c.n1, c.n2,
             round((c.n1 + 0.5) / (tt.t1 + 5.0), 6) AS p1,
             round((c.n2 + 0.5) / (tt.t2 + 5.0), 6) AS p2,
             round(((c.n1 + 0.5) / (tt.t1 + 5.0) - (c.n2 + 0.5) / (tt.t2 + 5.0))
                   * ln(((c.n1 + 0.5) / (tt.t1 + 5.0))
                        / ((c.n2 + 0.5) / (tt.t2 + 5.0))), 9) AS psi_term
      FROM c CROSS JOIN tt ORDER BY c.bin""")) { (s, dir) =>
      val ev = Tables.df(s, dir, "events")
        .select(unix_micros(col("ts").cast("timestamp")).as("tus"), col("value"))
      val b = ev.agg(floor((min(col("tus")) + max(col("tus"))) / 2.0)
        .cast("bigint").as("mid"))
      val sc = ev.crossJoin(broadcast(b))
        .select(when(col("tus") < col("mid"), 0).otherwise(1).as("half"),
          least(greatest(floor(abs(col("value")) / 10), lit(0)), lit(9))
            .cast("int").as("bin"))
      val c = sc.groupBy(col("bin"))
        .agg(sum(when(col("half") === 0, 1).otherwise(0)).cast("bigint").as("n1"),
          sum(when(col("half") === 1, 1).otherwise(0)).cast("bigint").as("n2"))
      val tt = c.agg(sum(col("n1")).cast("bigint").as("t1"),
        sum(col("n2")).cast("bigint").as("t2"))
      val p1 = (col("n1") + 0.5) / (col("t1") + 5.0)
      val p2 = (col("n2") + 0.5) / (col("t2") + 5.0)
      c.crossJoin(broadcast(tt))
        .select(col("bin"), col("n1"), col("n2"),
          round(p1, 6).as("p1"), round(p2, 6).as("p2"),
          round((p1 - p2) * log(p1 / p2), 9).as("psi_term"))
        .orderBy(col("bin"))
    })
}
