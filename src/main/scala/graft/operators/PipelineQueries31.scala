package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 31 — corpus-statistics instrumentation: Bloom
  * filter sizing, marginal-novelty profiling, and Heaps-law fitting.
  *
  *  - p119 Bloom false-positive calibration: build the k=3, m=4096-bit
  *    membership filter the incremental-dedup tier (p26) would ship,
  *    probe it with true non-members, and report empirical vs theoretical
  *    FPR per source — the sizing audit you run BEFORE trusting a Bloom
  *    screen at 100 TB. Bit positions are 3-hex-digit md5 prefixes
  *    (16³ = m exactly), so both engines build bit-identical filters.
  *
  *  - p120 n-gram novelty profile: per document, the fraction of its
  *    distinct 5-grams that first appear in IT (by doc_id order) — the
  *    marginal-novelty curve that tells a curation pipeline when a source
  *    stops contributing new content (the dedup value curve of Lee et
  *    al.'s deduplication work).
  *
  *  - p121 Heaps-law fit: closed-form log-log OLS of cumulative vocabulary
  *    against cumulative tokens over document deciles — V(n) ≈ K·n^b —
  *    the standard vocabulary-growth model (Heaps 1978) whose exponent
  *    feeds tokenizer and budget planning. The regression runs over a
  *    10-row frame; all corpus-sized work is two partial-agg shuffles.
  */
object PipelineQueries31 {

  /** p119: Bloom geometry — k hashes into m = 16³ bits. */
  private val BloomK = 3

  /** p120: shingle width. */
  private val NovelN = 5

  val defs: Seq[QueryDef] = Seq(

    // ---------------- Bloom false-positive calibration (p119)

    // Scale shape: the filter is ≤ k×m (12,288) distinct (hash, bit) rows
    // no matter the corpus — one distinct-agg over the member source,
    // broadcast to probe map-side. Probes are the distinct non-member
    // digests (anti join on the exact digest). The only doubles are one
    // exact ratio and the closed-form FPR, both rounded.
    QueryDef("p119_bloom_fp_calibration", Some("""
      WITH d AS (
        SELECT source, md5(text) AS digest FROM documents),
      members AS (
        SELECT DISTINCT digest FROM d WHERE source = 'src0'),
      n AS (SELECT count(*) AS n_members FROM members),
      ks AS (SELECT unnest([0, 1, 2]) AS j),
      bits AS (
        SELECT DISTINCT ks.j,
               substr(md5(CAST(ks.j AS VARCHAR) || ':' || m.digest), 1, 3) AS bit
        FROM members m CROSS JOIN ks),
      probes AS (
        SELECT DISTINCT d.source, d.digest FROM d
        WHERE d.source <> 'src0'
          AND NOT EXISTS (SELECT 1 FROM members m WHERE m.digest = d.digest)),
      hits AS (
        SELECT p.source, p.digest, count(bits.bit) AS n_hit
        FROM probes p CROSS JOIN ks
        LEFT JOIN bits ON bits.j = ks.j
          AND bits.bit = substr(md5(CAST(ks.j AS VARCHAR) || ':' || p.digest), 1, 3)
        GROUP BY p.source, p.digest)
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_probes,
             CAST(count(*) FILTER (WHERE n_hit = 3) AS BIGINT) AS n_fp,
             round(CAST(count(*) FILTER (WHERE n_hit = 3) AS DOUBLE) / count(*), 6)
               AS fpr_empirical,
             round(pow(1 - pow(1 - 1.0 / 4096, 3 * n.n_members), 3), 6)
               AS fpr_theoretical
      FROM hits CROSS JOIN n
      GROUP BY source, n.n_members ORDER BY source""")) { (s, dir) =>
      val d = Tables.dfSpread(s, dir, "documents")
        .select(col("source"), md5(col("text")).as("digest"))
      val members = d.filter(col("source") === "src0").select(col("digest")).distinct()
      val n = members.agg(count(lit(1)).as("n_members"))
      val ks = (0 until BloomK).map(lit(_))
      def bit(j: Column, digest: Column): Column =
        substring(md5(concat(j.cast("string"), lit(":"), digest)), 1, 3)
      val bits = members.select(explode(array(ks: _*)).as("j"), col("digest"))
        .select(col("j"), bit(col("j"), col("digest")).as("bit")).distinct()
      val probes = d.filter(col("source") =!= "src0").distinct()
        .join(members, Seq("digest"), "left_anti")
      val hits = probes.select(col("source"), col("digest"),
          explode(array(ks: _*)).as("j"))
        .withColumn("bit", bit(col("j"), col("digest")))
        .join(broadcast(bits), Seq("j", "bit"), "left_semi")
        .groupBy(col("source"), col("digest")).agg(count(lit(1)).as("n_hit"))
        // a probe missing from the semi join entirely has 0 hits; re-anchor
        // on the probe set so zero-hit probes still count
        .join(probes, Seq("source", "digest"), "right")
        .na.fill(0, Seq("n_hit"))
      val fp = count(when(col("n_hit") === BloomK, 1))
      hits.crossJoin(broadcast(n))
        .groupBy(col("source"), col("n_members"))
        .agg(count(lit(1)).as("n_probes"), fp.as("n_fp"),
          round(fp.cast("double") / count(lit(1)), 6).as("fpr_empirical"))
        .withColumn("fpr_theoretical",
          round(pow(lit(1) - pow(lit(1) - lit(1.0) / 4096,
            col("n_members") * BloomK), BloomK), 6))
        .select(col("source"), col("n_probes"), col("n_fp"),
          col("fpr_empirical"), col("fpr_theoretical"))
        .orderBy(col("source"))
    },

    // -------------------- n-gram novelty profile (p120)

    // Scale shape: one (gram → min doc_id) partial-agg shuffle, one
    // join-back on the gram key, one per-doc rollup — the p17/p25 shape;
    // no pair joins anywhere.
    QueryDef("p120_ngram_novelty", Some("""
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(g)) AS gram FROM (
          SELECT doc_id, list_transform(
                   range(1, greatest(len(t) - 4, 0) + 1),
                   i -> array_to_string(t[i:i+4], ' ')) AS g
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                FROM documents) x) y),
      fo AS (SELECT gram, min(doc_id) AS first_doc FROM sh GROUP BY gram)
      SELECT sh.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(count(*) FILTER (WHERE fo.first_doc = sh.doc_id) AS BIGINT)
               AS n_novel,
             round(CAST(count(*) FILTER (WHERE fo.first_doc = sh.doc_id)
                   AS DOUBLE) / count(*), 6) AS novelty
      FROM sh JOIN fo ON sh.gram = fo.gram
      GROUP BY sh.doc_id ORDER BY sh.doc_id""")) { (s, dir) =>
      val sh = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"),
          explode(Kit.shingleSet(Kit.words(col("text")), NovelN))
            .as("gram"))
      val first = sh.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
      val novel = count(when(col("first_doc") === col("doc_id"), 1))
      sh.join(first, Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"), novel.as("n_novel"),
          round(novel.cast("double") / count(lit(1)), 6).as("novelty"))
        .orderBy(col("doc_id"))
    },

    // ------------------------- Heaps-law fit (p121)

    // Scale shape: deciles come from a map-side doc_id split against a
    // 1-row max broadcast (no global row numbering); cumulative sums run
    // over the 10-row decile frame (BoundedWindowSpec-whitelisted like
    // p83); the OLS is closed-form arithmetic over those 10 points.
    QueryDef("p121_heaps_fit", Some("""
      WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
      dt AS (
        SELECT CAST(floor(CAST(doc_id AS DOUBLE) * 10 / (mx.mx + 1)) AS INT) AS dec,
               doc_id, string_split_regex(lower(text), '\s+') AS t
        FROM documents CROSS JOIN mx),
      tok AS (SELECT dec, sum(len(t)) AS toks FROM dt GROUP BY dec),
      tu AS (
        SELECT tok AS w, min(dec) AS first_dec FROM (
          SELECT dec, unnest(t) AS tok FROM dt) x GROUP BY tok),
      vnew AS (SELECT first_dec AS dec, count(*) AS nv FROM tu GROUP BY first_dec),
      curve AS (
        SELECT tok.dec,
               sum(tok.toks) OVER (ORDER BY tok.dec) AS cum_toks,
               sum(coalesce(vnew.nv, 0)) OVER (ORDER BY tok.dec) AS cum_vocab
        FROM tok LEFT JOIN vnew ON tok.dec = vnew.dec),
      pts AS (
        SELECT round(ln(CAST(cum_toks AS DOUBLE)), 9) AS x,
               round(ln(CAST(cum_vocab AS DOUBLE)), 9) AS y
        FROM curve),
      fit AS (
        SELECT count(*) AS n,
               CAST(sum(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,9))) AS DOUBLE) AS sy,
               CAST(sum(CAST(round(x * y, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
               CAST(sum(CAST(round(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        FROM pts)
      SELECT CAST(n AS BIGINT) AS n_points,
             round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS heaps_b,
             round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               + 0.0 AS heaps_lnk
      FROM fit""")) { (s, dir) =>
      val docs = Tables.dfSpread(s, dir, "documents")
      val mx = docs.agg(max(col("doc_id")).as("mx"))
      val dt = docs.crossJoin(broadcast(mx))
        .select(floor(col("doc_id").cast("double") * 10 / (col("mx") + 1))
          .cast("int").as("dec"),
          col("doc_id"), Kit.words(col("text")).as("t"))
      val tok = dt.groupBy(col("dec")).agg(sum(size(col("t"))).as("toks"))
      val tu = dt.select(col("dec"), explode(col("t")).as("tok"))
        .groupBy(col("tok")).agg(min(col("dec")).as("first_dec"))
      val vnew = tu.groupBy(col("first_dec").as("dec")).agg(count(lit(1)).as("nv"))
      val w = Window.orderBy(col("dec"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val curve = tok.join(vnew, Seq("dec"), "left")
        .na.fill(0, Seq("nv"))
        .select(col("dec"), sum(col("toks")).over(w).as("cum_toks"),
          sum(col("nv")).over(w).as("cum_vocab"))
      // 9dp-rounded points + DECIMAL sums: the raw-double OLS sums flapped
      // the 6dp output 1-in-10 under DuckDB's parallel reduction order
      val pts = curve.select(round(log(col("cum_toks").cast("double")), 9).as("x"),
        round(log(col("cum_vocab").cast("double")), 9).as("y"))
      val fit = pts.agg(count(lit(1)).as("n"),
        Kit.dsum(col("x"), 9).as("sx"),
        Kit.dsum(col("y"), 9).as("sy"),
        Kit.rsum(col("x") * col("y"), 12).as("sxy"),
        Kit.rsum(col("x") * col("x"), 12).as("sxx"))
      val b = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      // `+ 0.0` normalizes IEEE -0.0 (a saturated-vocab corpus fits slope
      // exactly 0; the engines disagree on the zero's sign otherwise)
      fit.select(col("n").as("n_points"),
        (round(b, 6) + 0.0).as("heaps_b"),
        (round((col("sy") - b * col("sx")) / col("n"), 6) + 0.0).as("heaps_lnk"))
    }
  )
}
