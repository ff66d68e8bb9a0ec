package graft.operators

import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 49 — prefix-filtered set-similarity joins: the
  * 100 TB-scale candidate-generation path for the exact and IDF-weighted
  * Jaccard dedup classes (p17 / p160).
  *
  * Those two ops block on EVERY df-capped shingle, so candidate-pair volume
  * is bounded only by the relative df-cap (2% of corpus) — and the cap's
  * absolute width grows with the corpus, which is the one measured
  * super-linear pair-growth phenomenon in the repo (10× pair density 24.4×
  * on p17). The fix here is classical prefix filtering (AllPairs, Bayardo
  * et al., WWW 2007; PPJoin, Xiao et al., WWW 2008 — public literature,
  * also the family behind the reference's bloom-gated join probes,
  * `opteryx/operators/inner_join_node.py:84-137`): order each document's
  * shingles by a GLOBAL rarity order (ascending document frequency, shingle
  * text as tiebreak) and block only on each document's PREFIX — the
  * shortest head of that order whose removal would leave less than
  * threshold-fraction of the document behind. The prefix theorem makes this
  * candidate set EXACT, not approximate:
  *
  *   Let x be the last prefix element of A and y the last of B under the
  *   global order, wlog x ≤ y. Any shared shingle s ≤ x lies in both
  *   prefixes (a member of a sorted set no later than the prefix's last
  *   element is inside the prefix). So if the prefixes are disjoint, every
  *   shared shingle lies after x in A, i.e. in A's suffix — and the prefix
  *   was chosen so the suffix carries < t·|A| shingles (resp. < t·w(A)
  *   idf mass), while J ≥ t would require the intersection to carry
  *   ≥ t·|A∪B| ≥ t·|A|. Contradiction; qualifying pairs always collide on
  *   a prefix shingle.
  *
  * Unlike a MinHash/LSH prefilter, recall is exactly 1 by construction —
  * the twins below return byte-identical results to p17/p160 (equality
  * pinned in `PrefixFilterTwinSpec`, and both sides pass the same DuckDB
  * oracle shape) — while the blocking key set shrinks from "every rare
  * shingle occurrence" to "each document's rarest half (p191) / rarest
  * 60% of idf mass (p192)". The scale win is structural: a shingle near
  * the df-cap participates in blocking only from documents where it ranks
  * among the rarest, so hot-shingle bucket sizes no longer track the
  * absolute cap width as the corpus grows.
  *
  *  - p191 prefix-filtered exact Jaccard (twin of p17, threshold 0.5):
  *    prefix length |d| − ⌈0.5·|d|⌉ + 1; candidates from prefix⋈prefix;
  *    exact intersection recount restricted to candidates.
  *
  *  - p192 prefix-filtered IDF-weighted Jaccard (twin of p160, threshold
  *    0.4): weighted prefix = shingles while the cumulative idf mass
  *    BEFORE them is ≤ (1−t)·w(doc). The boundary test runs in exact
  *    integer nano-idf units (the DECIMAL(38,9) idf is k/1e9 exactly;
  *    5·cum ≤ 3·total in int64 mirrors cum ≤ 0.6·w with no floating
  *    comparison at the boundary).
  *
  * Determinism: the global order (n_docs, shingle) is total; idf is
  * 9dp-rounded DECIMAL on both engines; intersection/weight sums are
  * counts or DECIMAL(38,9); final ratios rounded to 6dp.
  */
object PipelineQueries49 {

  /** Shared oracle CTE prologue: distinct 3-shingles per doc, document
    * frequency, and the df-capped `rare` set — textually identical to the
    * p17/p160 spelling so the twins share semantics by construction. */
  private val rareCtes = """
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(sh)) AS shingle FROM (
          SELECT doc_id, list_transform(
                   range(1, greatest(len(t) - 2, 0) + 1),
                   i -> array_to_string(t[i:i+2], ' ')) AS sh
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
                FROM documents) x) y),
      df AS (SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle),
      tot AS (SELECT count(*) AS corpus_n FROM documents),
      rare AS (
        SELECT sh.doc_id, sh.shingle, df.n_docs
        FROM sh JOIN df ON sh.shingle = df.shingle, tot
        WHERE df.n_docs <= greatest(2,
          CAST(floor(corpus_n * 0.02) AS BIGINT)))"""

  /** Spark side of the same prologue (doc_id, shingle, n_docs, corpus_n). */
  private def rareDf(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables.dfSpread(s, dir, "documents")
    Kit.rareShingles(Kit.shingleRows(docs), docs)
  }

  val defs: Seq[QueryDef] = Seq(

    // --------------------- prefix-filtered exact Jaccard (p191, twin of p17)
    QueryDef("p191_jaccard_prefix_filter", Some(rareCtes + """,
      sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
      ranked AS (
        SELECT r.doc_id, r.shingle,
               row_number() OVER (PARTITION BY r.doc_id
                 ORDER BY r.n_docs, r.shingle) AS rk,
               s.n
        FROM rare r JOIN sizes s ON s.doc_id = r.doc_id),
      pref AS (
        SELECT doc_id, shingle FROM ranked
        WHERE rk <= n - CAST(floor((n + 1) / 2) AS BIGINT) + 1),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN pref b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS i
        FROM cand c
        JOIN rare a ON a.doc_id = c.doc_a
        JOIN rare b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY c.doc_a, c.doc_b)
      SELECT doc_a, doc_b,
             round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
      ORDER BY doc_a, doc_b""")) { (s, dir) =>
      // One shuffle to per-doc state: each document's rare shingles sorted
      // in the global rarity order, as ONE array row — the prefix is a
      // slice, candidate verification is a merge scan on the pair, and
      // nothing ever re-explodes to per-shingle rows after this point.
      //
      // r18 OPTIMIZATION (guide §1.1/§4, measured stage decomposition in
      // BENCH_NOTES): alongside the rarity-ordered `set` (prefix slicing),
      // carry `sset` — the same shingles sorted lexicographically — so the
      // per-candidate intersection count is a zero-allocation merge scan
      // (NativeExpressions.sortedIntersectCount, codegen) instead of
      // array_intersect's per-pair hash-set build. Identical count on
      // distinct inputs.
      val docsets = rareDf(s, dir).groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("n_docs"), col("shingle"))))
          .as("ranked"))
        .select(col("doc_id"),
          transform(col("ranked"), r => r.getField("shingle")).as("set"),
          size(col("ranked")).as("n"))
        .withColumn("sset", sort_array(col("set")))
      // prefix length n − ⌈t·n⌉ + 1 at t = 0.5 ⇒ ⌊n/2⌋ + 1: the rarest half
      val pref = docsets.select(col("doc_id"), col("n"),
        explode(slice(col("set"), lit(1), (col("n") / 2).cast("int") + 1))
          .as("shingle"))
      // candidate join carries the PPJoin length filter: J ≤ min(n)/max(n),
      // so 2·min(na,nb) < max(na,nb) can never reach t = 0.5 — provably
      // lossless, and it prunes before the distinct/verify shuffles.
      // r18 OPTIMIZATION (guide §2.5, measured: the distinct's AQE-
      // coalesced output is 2 partitions at sf0.1 — byte-sized targets
      // cannot see that each slim pair row fans out into two ~50-element
      // arrays downstream — so the whole verify stage ran on 2 of 32
      // cores, 2.5 s -> 0.6 s when spread). Round-robin repartition of
      // the SLIM pair frame (16 bytes/row) to the session parallelism;
      // at cluster scale this is one cheap exchange of keys ahead of the
      // dominant verify stage.
      val cand = Kit.prefixCandidates(pref,
        col("pa.n") * 2 >= col("pb.n") && col("pb.n") * 2 >= col("pa.n"))
      val verified = cand
        .join(docsets.select(col("doc_id").as("doc_a"), col("sset").as("sa"),
          col("n").as("na")), "doc_a")
        .join(docsets.select(col("doc_id").as("doc_b"), col("sset").as("sb"),
          col("n").as("nb")), "doc_b")
        .withColumn("i",
          graft.functions.NativeExpressions.sortedIntersectCount(col("sa"), col("sb")))
      val jac = Kit.jaccard(col("i"), col("na"), col("nb"))
      verified
        .filter(jac >= 0.5)
        .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // --------------- prefix-filtered weighted Jaccard (p192, twin of p160)
    QueryDef("p192_wjaccard_prefix_filter", Some(rareCtes + """,
      rn AS (
        SELECT doc_id, shingle, n_docs,
               CAST(round(ln(CAST(corpus_n AS DOUBLE) / n_docs), 9)
                 AS DECIMAL(38,9)) AS idf,
               CAST(round(CAST(CAST(round(ln(CAST(corpus_n AS DOUBLE) / n_docs), 9)
                 AS DECIMAL(38,9)) AS DOUBLE) * 1000000000, 0) AS BIGINT) AS idf_n
        FROM rare, tot),
      wts AS (
        SELECT doc_id, CAST(sum(idf) AS DECIMAL(38,9)) AS w,
               sum(idf_n) AS wn
        FROM rn GROUP BY doc_id),
      cum AS (
        SELECT doc_id, shingle, idf,
               coalesce(sum(idf_n) OVER (PARTITION BY doc_id
                 ORDER BY n_docs, shingle
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
        FROM rn),
      pref AS (
        SELECT c.doc_id, c.shingle
        FROM cum c JOIN wts ON wts.doc_id = c.doc_id
        WHERE c.cum_prev * 5 <= wts.wn * 3),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN pref b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
      inter AS (
        SELECT c.doc_a, c.doc_b, CAST(sum(a.idf) AS DECIMAL(38,9)) AS shared
        FROM cand c
        JOIN rn a ON a.doc_id = c.doc_a
        JOIN rn b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY c.doc_a, c.doc_b)
      SELECT doc_a, doc_b,
             round(CAST(shared AS DOUBLE)
               / (CAST(wa.w AS DOUBLE) + CAST(wb.w AS DOUBLE)
                  - CAST(shared AS DOUBLE)), 6) AS wjac
      FROM inter
      JOIN wts wa ON wa.doc_id = doc_a
      JOIN wts wb ON wb.doc_id = doc_b
      WHERE CAST(shared AS DOUBLE)
              / (CAST(wa.w AS DOUBLE) + CAST(wb.w AS DOUBLE)
                 - CAST(shared AS DOUBLE)) >= 0.4
      ORDER BY doc_a, doc_b""")) { (s, dir) =>
      // idf exactly as p160 spells it, carried in integer nano-units: the
      // DECIMAL(38,9) idf is k/1e9 exactly, so long sums here and decimal
      // sums there round-trip to the SAME nearest-double at the end — the
      // twin-equality spec pins it
      val rn = rareDf(s, dir).select(col("doc_id"), col("shingle"), col("n_docs"),
        round(Kit.rareIdf.cast("double") * 1e9, 0).cast("long").as("idf_n"))
      // same one-shuffle per-doc-array shape as p191.
      // r18 OPTIMIZATION (guide §4, the p191 merge-scan change): `wp` is
      // the (shingle, idf_n) pairs re-sorted lexicographically by shingle
      // (unique per doc), so the verify stage's shared-mass sum is a
      // zero-allocation merge scan (sortedIntersectWSum, codegen) instead
      // of building a per-pair hash MAP + interpreted aggregate fold.
      // Long sums of the same matched idf_n values — identical result.
      val docsets = rn.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("n_docs"), col("shingle"),
          col("idf_n")))).as("ranked"))
        .select(col("doc_id"),
          transform(col("ranked"), r => r.getField("shingle")).as("set"),
          transform(col("ranked"), r => r.getField("idf_n")).as("idfs"))
        .withColumn("wp", sort_array(arrays_zip(col("set"), col("idfs"))))
        .withColumn("sset", col("wp.set"))
        .withColumn("svals", col("wp.idfs"))
        .withColumn("wn", aggregate(col("idfs"), lit(0L), (a, x) => a + x))
        // weighted prefix: keep positions while the idf mass BEFORE them
        // satisfies 5·cum ≤ 3·total (the exact-integer spelling of
        // cum ≤ 0.6·w at t = 0.4); mass is nonneg so the kept set is a prefix
        .withColumn("plen", aggregate(col("idfs"),
          struct(lit(0L).as("cum"), lit(0).as("keep")),
          (acc, x) => struct(
            (acc.getField("cum") + x).as("cum"),
            (acc.getField("keep") +
              when(acc.getField("cum") * 5 <= col("wn") * 3, 1).otherwise(0))
              .as("keep")),
          acc => acc.getField("keep")))
      val pref = docsets.select(col("doc_id"), col("wn"),
        explode(slice(col("set"), lit(1), col("plen"))).as("shingle"))
      // weighted length filter: J_w ≤ min(w)/max(w), so 5·min < 2·max can
      // never reach t = 0.4 — lossless pruning before distinct/verify;
      // the candidates are spread as in p191
      val cand = Kit.prefixCandidates(pref,
        col("pa.wn") * 5 >= col("pb.wn") * 2 && col("pb.wn") * 5 >= col("pa.wn") * 2)
      val sideA = docsets.select(col("doc_id").as("doc_a"), col("sset").as("sa"),
        col("svals").as("va"), col("wn").as("wa_n"))
      val sideB = docsets.select(col("doc_id").as("doc_b"), col("sset").as("sb"),
        col("wn").as("wb_n"))
      val verified = cand.join(sideA, "doc_a").join(sideB, "doc_b")
        .withColumn("shared_n", graft.functions.NativeExpressions
          .sortedIntersectWSum(col("sa"), col("va"), col("sb")))
      val wjac = Kit.jaccard(col("shared_n").cast("double") / 1e9,
        col("wa_n").cast("double") / 1e9, col("wb_n").cast("double") / 1e9)
      verified
        .filter(wjac >= 0.4)
        .select(col("doc_a"), col("doc_b"), round(wjac, 6).as("wjac"))
        .orderBy(col("doc_a"), col("doc_b"))
    })
}
