package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Pipeline coverage batch 6 — retrieval and language-model scoring stages of
  * a training-data pipeline: BM25 lexical retrieval (the dataset-search /
  * decontamination-lookup primitive), content-defined chunking (the
  * insertion-stable chunking dedup systems key on, unlike p30's fixed
  * stride), and interpolated bigram LM scoring (the quality-filter upgrade
  * over p25's unigram model).
  *
  * Float determinism convention for this batch: every per-term floating
  * contribution is rounded to a 1e-9 grid and summed as DECIMAL(38,9) —
  * decimal addition is exact and commutative, so aggregate results are
  * independent of Spark's shuffle/row order AND bit-identical to the
  * DuckDB oracle's sum; only then is the total cast back to double and
  * rounded for display. Ranks are computed on the exact decimal, never on
  * a float.
  */
object PipelineQueries6 {

  /** Content-defined chunking core, shared by p36 and PipelineBatch6Spec.
    *
    * Input: (doc_id, tk: array<string>); output one row per chunk with
    * (doc_id, chunk_idx, start_tok, n_tok, chunk_md5). A boundary falls
    * after position i when the 4-token gram ending at i md5-hashes into the
    * '0' hex-prefix class (expected chunk length 16 tokens) — boundaries
    * depend only on a 4-token window of content, which is what makes chunk
    * hashes stable under upstream insertions.
    */
  def cdcChunks(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pos = docs.select(col("doc_id"),
      explode(transform(sequence(lit(1L), size(col("tk")).cast("long")),
        i => struct(i.as("pos"),
          when(i >= 4 &&
            substring(md5(concat_ws(" ",
              slice(col("tk"), (i - 3).cast("int"), lit(4)))), 1, 1) === "0",
            1L).otherwise(0L).as("flag")))).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.flag").as("flag"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val chunks = pos
      .withColumn("chunk_idx", sum(col("flag")).over(byPos) - col("flag"))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(min(col("pos")).as("start_tok"), count(lit(1)).as("n_tok"))
    chunks.join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"), col("n_tok"),
        md5(concat_ws(" ",
          slice(col("tk"), col("start_tok").cast("int"), col("n_tok").cast("int"))))
          .as("chunk_md5"))
  }

  /** BM25 parameters (Robertson/Sparck Jones defaults). */
  private val K1 = 1.2
  private val B = 0.75
  private val TopK = 5

  /** The fixed retrieval query set, shared verbatim with the oracle. */
  private val BmQueries: Seq[(Int, String)] = Seq(
    1 -> "hash join",
    2 -> "window agg stream",
    3 -> "vector scan filter",
    4 -> "customer query slow")

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------ BM25 retrieval (p35)

    // BM25 top-k lexical retrieval: a fixed query set scored against the
    // whole corpus with the standard Okapi formula
    //   idf(t)  = ln((N - df + 0.5)/(df + 0.5) + 1)
    //   s(t, d) = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    // reporting the TopK docs per query with their (rounded) scores.
    //
    // Scale shape: one corpus scan → row-local tokenize/explode → the term
    // filter keeps ONLY query terms before any shuffle (at 100 TB that
    // filter is the difference between indexing the corpus and scoring a
    // lookup) → one (doc,term)-keyed partial-agg groupBy; df and the
    // (N, avgdl) stats collapse to |terms| and 1 rows and ride along as
    // broadcasts; the final top-k is a per-query window over ≤N rows,
    // bounded by the matched-doc set, not the corpus. No all-pairs stage,
    // no driver collect.
    QueryDef("p35_bm25_topk", Some(s"""
      WITH q(query_id, term) AS (VALUES
        (1, 'hash'), (1, 'join'),
        (2, 'window'), (2, 'agg'), (2, 'stream'),
        (3, 'vector'), (3, 'scan'), (3, 'filter'),
        (4, 'customer'), (4, 'query'), (4, 'slow')),
      t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents),
      dl AS (SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl FROM t),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      tfc AS (
        SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, unnest(tk) AS term FROM t)
        WHERE term IN (SELECT term FROM q)
        GROUP BY doc_id, term),
      df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfc GROUP BY term),
      contrib AS (
        SELECT q.query_id, tfc.doc_id,
               CAST(round(
                 ln((n - df + 0.5) / (df + 0.5) + 1.0) *
                 tf * ${K1 + 1.0} / (tf + $K1 * ((1.0 - $B) + $B * dl / avgdl)),
                 9) AS DECIMAL(38,9)) AS c
        FROM q
        JOIN tfc ON tfc.term = q.term
        JOIN df ON df.term = q.term
        JOIN dl ON dl.doc_id = tfc.doc_id
        CROSS JOIN stats),
      scored AS (
        SELECT query_id, doc_id, sum(c) AS s
        FROM contrib GROUP BY query_id, doc_id),
      ranked AS (
        SELECT query_id, doc_id, s,
               row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rnk
        FROM scored)
      SELECT CAST(query_id AS BIGINT) AS query_id,
             CAST(rnk AS BIGINT) AS rank,
             doc_id,
             round(CAST(s AS DOUBLE), 4) AS score
      FROM ranked WHERE rnk <= $TopK ORDER BY query_id, rank""")) { (s, dir) =>
      import s.implicits._
      val qdf = BmQueries
        .flatMap { case (id, text) => text.split(" ").map(id -> _) }
        .toDF("query_id", "term")
      val qTerms = BmQueries.flatMap(_._2.split(" ")).distinct
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("tk"))
      val dl = t.select(col("doc_id"), size(col("tk")).cast("double").as("dl"))
      val stats = dl.agg(count(lit(1)).cast("double").as("n"),
        (sum(col("dl")) / count(lit(1))).as("avgdl"))
      // Term filter BEFORE the groupBy: only query terms ever reach a
      // shuffle, so corpus size bounds the scan, not the aggregation.
      val tfc = t
        .select(col("doc_id"), explode(col("tk")).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val df = tfc.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
      val contrib = tfc
        .join(broadcast(qdf), Seq("term"))
        .join(broadcast(df), Seq("term"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .select(col("query_id"), col("doc_id"),
          Kit.rdec(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
              col("tf") * (K1 + 1.0) /
              (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl"))),
            9).as("c"))
      val scored = contrib.groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("c")).as("s"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("s").desc, col("doc_id"))
      scored
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= TopK)
        .select(col("query_id").cast("long").as("query_id"),
          col("rnk").cast("long").as("rank"),
          col("doc_id"),
          round(col("s").cast("double"), 4).as("score"))
        .orderBy(col("query_id"), col("rank"))
    },

    // --------------------------------- content-defined chunking (p36)

    // Content-defined chunking: a chunk boundary falls AFTER token position
    // i whenever the rolling 4-token gram ending at i hashes into the
    // boundary class (md5 hex prefix '0' — expected chunk length 16
    // tokens). Unlike p30's fixed stride, boundaries depend only on local
    // content, so an insertion near a document's head reshuffles at most
    // one chunk and every later chunk hash is UNCHANGED — the property
    // that makes chunk-level dedup stable across document revisions
    // (pinned by PipelineBatch6Spec). Each chunk reports its offset,
    // length, content hash, and how many distinct docs share that hash —
    // the cross-document chunk-dedup signal.
    //
    // Scale shape: the gram flag is computed inside a row-local explode
    // (tokens never fan out carrying the full array); chunk ids are a
    // per-doc running sum (window bounded by doc length); chunk stats are
    // one (doc,chunk)-keyed groupBy; the share count is one hash-keyed
    // groupBy joined back. Map-local work + two keyed shuffles — the same
    // shape at any corpus size.
    QueryDef("p36_cdc_chunking", Some("""
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk FROM documents),
      p AS (
        SELECT doc_id,
               unnest(list_transform(range(1, CAST(len(tk) AS BIGINT) + 1),
                 x -> CAST(x AS BIGINT))) AS pos,
               tk
        FROM t),
      f AS (
        SELECT doc_id, pos,
               CASE WHEN pos >= 4
                     AND substr(md5(array_to_string(tk[pos-3:pos], ' ')), 1, 1) = '0'
                    THEN 1 ELSE 0 END AS flag
        FROM p),
      c AS (
        SELECT doc_id, pos,
               sum(flag) OVER (PARTITION BY doc_id ORDER BY pos) - flag AS chunk_idx
        FROM f),
      ch AS (
        SELECT doc_id, chunk_idx, min(pos) AS start_tok, count(*) AS n_tok
        FROM c GROUP BY doc_id, chunk_idx),
      h AS (
        SELECT ch.doc_id, chunk_idx, start_tok, n_tok,
               md5(array_to_string(t.tk[start_tok : start_tok + n_tok - 1], ' ')) AS chunk_md5
        FROM ch JOIN t ON ch.doc_id = t.doc_id),
      share AS (
        SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs_sharing
        FROM h GROUP BY chunk_md5)
      SELECT h.doc_id,
             CAST(chunk_idx AS BIGINT) AS chunk_idx,
             CAST(start_tok AS BIGINT) AS start_tok,
             CAST(n_tok AS BIGINT) AS n_tok,
             chunk_md5,
             CAST(n_docs_sharing AS BIGINT) AS n_docs_sharing
      FROM h JOIN share USING (chunk_md5)
      ORDER BY doc_id, chunk_idx""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("tk"))
      // Boundary flag computed inside the explode (see cdcChunks): rows are
      // (doc, pos, flag) triples, never position-rows carrying the array.
      val hashed = cdcChunks(t)
      val share = hashed.groupBy(col("chunk_md5"))
        .agg(count_distinct(col("doc_id")).as("n_docs_sharing"))
      hashed.join(share, Seq("chunk_md5"))
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"), col("n_tok"),
          col("chunk_md5"), col("n_docs_sharing"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // ------------------------------------ bigram LM scoring (p37)

    // Interpolated bigram language-model scoring: train bigram/unigram
    // counts over the corpus itself, then score every document by its
    // average token log-probability
    //   p(w2 | w1) = 0.75 * c(w1 w2)/c(w1 ·) + 0.25 * c(w2)/T
    // — the repetition/fluency signal quality filters threshold on (p25's
    // unigram model cannot see word ORDER; this one penalizes improbable
    // transitions). Per-addend decimal rounding makes the per-doc sum
    // order-independent (see object scaladoc).
    //
    // Scale shape: bigrams are a row-local explode; the three count tables
    // are partial-agg groupBys keyed on (w1,w2), w1, and w2 (vocab-sized,
    // broadcast when small; keyed shuffle joins when not); the final agg
    // is (doc)-keyed. Nothing holds unbounded state and no stage is
    // corpus-quadratic.
    QueryDef("p37_bigram_lm", Some("""
      WITH t AS (
        SELECT doc_id, string_split_regex(lower(text), '\s+') AS tk FROM documents),
      bg AS (
        SELECT doc_id, tk[pos] AS w1, tk[pos + 1] AS w2
        FROM (SELECT doc_id, tk,
                unnest(list_transform(range(1, CAST(len(tk) AS BIGINT)),
                  x -> CAST(x AS BIGINT))) AS pos
              FROM t WHERE len(tk) >= 2)),
      c2 AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2 FROM bg GROUP BY w1, w2),
      c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM bg GROUP BY w1),
      uni AS (SELECT w, CAST(count(*) AS DOUBLE) AS cu
              FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w),
      tot AS (SELECT CAST(sum(len(tk)) AS DOUBLE) AS tt FROM t),
      sc AS (
        SELECT bg.doc_id,
               CAST(round(ln(0.75 * c2 / c1 + 0.25 * cu / tt), 9)
                 AS DECIMAL(38,9)) AS lp
        FROM bg
        JOIN c2 USING (w1, w2)
        JOIN c1 USING (w1)
        JOIN uni ON uni.w = bg.w2
        CROSS JOIN tot),
      per AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(CAST(sum(lp) AS DOUBLE) / count(*), 4) AS avg_logprob
        FROM sc GROUP BY doc_id)
      SELECT t.doc_id,
             coalesce(n_bigrams, 0) AS n_bigrams,
             avg_logprob
      FROM t LEFT JOIN per USING (doc_id) ORDER BY t.doc_id""")) { (s, dir) =>
      val t = Tables.dfSpread(s, dir, "documents")
        .select(col("doc_id"), Kit.words(col("text")).as("tk"))
      val bg = t.filter(size(col("tk")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1L), size(col("tk")).cast("long") - 1L),
            i => struct(element_at(col("tk"), i.cast("int")).as("w1"),
              element_at(col("tk"), i.cast("int") + 1).as("w2")))).as("e"))
        .select(col("doc_id"), col("e.w1").as("w1"), col("e.w2").as("w2"))
      val c2 = bg.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).cast("double").as("c2"))
      val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).cast("double").as("c1"))
      val uni = t.select(explode(col("tk")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).cast("double").as("cu"))
      val tot = t.agg(sum(size(col("tk"))).cast("double").as("tt"))
      val sc = bg
        .join(c2, Seq("w1", "w2"))
        .join(c1, Seq("w1"))
        .join(uni, bg("w2") === uni("w"))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"),
          Kit.rdec(log(lit(0.75) * col("c2") / col("c1") + lit(0.25) * col("cu") / col("tt")),
            9).as("lp"))
      val per = sc.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("lp")).cast("double") / count(lit(1)), 4).as("avg_logprob"))
      t.select(col("doc_id")).join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          col("avg_logprob"))
        .orderBy(col("doc_id"))
    }
  )
}
