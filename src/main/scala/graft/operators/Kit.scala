package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Functions, Tables}

/** The shared operator kit: one home for each building block the query
  * batches combine, so a decision that must match the oracle is made once.
  *
  *  - text: the tokenizer, the distinct shingle set, the MinHash signature
  *    and its LSH bands, the df-capped rare-shingle frame of the near-dup
  *    family, the English stop-word ratio and the md5 hex fraction;
  *  - pairs: the set-similarity family — set sizes, the shared-shingle
  *    counts and the Jaccard pair frame with its ratio column (p04, p17,
  *    p80, p105; the ratio also in p50, p55, p74, p77, p84, p157, p191 and,
  *    weighted, p160/p192), the candidate join-back overlap (p74, p84), the
  *    rare-shingle idf shared by the p160/p192 twins, the prefix-filter
  *    candidate frame (p191, p192), the row-local pair emission of a
  *    bucket or cell (p02 family, p77, p23) and the exchange width of the
  *    pair stages: the hash pin (p55, p77, p80, p160) and the round-robin
  *    spread (p23, p191, p192);
  *  - exact sums: the DECIMAL(38,s) and fixed-point BIGINT folds every
  *    batch sums its double aggregates with, one helper per oracle spelling;
  *  - series: the per-day event count frame of the `events` time-series
  *    batches, its dense day × event-type grid, the day index, the
  *    least-squares trend and the lag-pair autocovariance frame, each
  *    mirroring one CTE of their oracle SQL;
  *  - vectors: the per-key centroid mean of the embedding batches and the
  *    two-round spherical k-means built on it;
  *  - stats: the rank and moment statistics — midranks over the
  *    distinct-value frame and the per-group rank sums with their tie term
  *    (p141, p223, p284), the two-group cumulative frame and the
  *    Ansari–Bradley sums and z (p278, p287), the exact DECIMAL(38,0) power
  *    sums (p239, p241, p260, p283) and central moments (p239, p260), the
  *    source-pair mean differences (p283, p284), the survival subjects (p188,
  *    p277, p286), the click/view value frame (p155, p162), the annotator
  *    screens (p124, p247, p252, p274) and the BM25 probe terms (p216,
  *    p250), each quoting the oracle CTE it mirrors.
  */
object Kit {

  // ------------------------------------------------------------------ text

  /** Tokens of `lower(text)` split on whitespace runs — the oracle's
    * `string_split_regex(lower(text), '\s+')`. Keeps the empty tokens a
    * leading/trailing space or an empty text yields, exactly as the oracle
    * does (unlike [[Functions.tokenize]], which drops them). */
  def words(text: Column): Column = split(lower(text), "\\s+")

  /** Distinct word `n`-gram shingles of a token array; docs shorter than `n`
    * tokens get an empty set ([[Functions.wordShingles]]' contract — the
    * oracle's `list_distinct` over `range(1, greatest(len - (n-1), 0) + 1)`). */
  def shingleSet(tokens: Column, n: Int): Column =
    array_distinct(Functions.wordShingles(tokens, n))

  /** (doc_id, text) → (doc_id, shingle): one row per distinct 3-shingle —
    * the oracle's `unnest(list_distinct(sh))`, so a doc shorter than three
    * tokens has no rows. */
  def shingleRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(shingleSet(words(col("text")), 3)).as("shingle"))

  /** Adds `sig`: the 8-hash MinHash signature over the doc's distinct
    * 3-shingles, h-th entry min over shingles of md5(h || ':' || shingle)
    * (native kernel — one digest instance, k×|shingles| loop). Map-only. */
  def signatures(docs: DataFrame): DataFrame =
    docs.withColumn("sig", graft.functions.NativeExpressions.minhashSignature(
      shingleSet(words(col("text")), 3), 8))

  /** (doc_id, sig) → (doc_id, band, bucket): `nb` bands of `r` signature
    * rows, bucket = md5 of the band's minhashes joined by '|'. A doc with an
    * empty shingle set has an all-null signature and yields no band rows —
    * the oracle's `unnest` of an empty list — instead of sharing the
    * md5('') bucket with every other short doc. The guard reads the `sig`
    * attribute, so the signature kernel still runs once per row. */
  def bands(sig: DataFrame, nb: Int, r: Int): DataFrame =
    sig.select(col("doc_id"),
      explode(when(col("sig").getItem(0).isNotNull,
        transform(sequence(lit(0), lit(nb - 1)), b => struct(
          b.as("band"),
          md5(concat_ws("|", slice(col("sig"), b * r + 1, lit(r)))).as("bucket")))))
        .as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  /** The p02 LSH candidate pairs (3-shingles → 8 minhashes → 4 bands of 2):
    * its result, and the edge source of the component/audit queries. */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    bucketPairs(bands(signatures(Tables.dfSpread(s, dir, "documents")), 4, 2))

  /** (doc_id, shingle) rows → (doc_id, shingle, n_docs, corpus_n) for the
    * shingles whose document frequency n_docs ≤ max(2, floor(0.02·N)), N
    * the corpus size: shingles in more than 2% of the corpus never block
    * (stop-phrase blowup is what makes shingle joins quadratic at 100 TB).
    * Document frequency via groupBy + join-back, NOT a window over the
    * shingle key: partial aggregation collapses a hot shingle's occurrences
    * before the shuffle, where count(*) OVER (PARTITION BY shingle) would
    * route every occurrence of a stop-phrase to one task; the join back is
    * AQE-skew-splittable. N arrives as a broadcast 1-row aggregate, and the
    * cap filters the df table before the join back (filtering after it
    * measured slower on p17, p105 and p192 at sf0.1). */
  def rareShingles(sh: DataFrame, docs: DataFrame): DataFrame = {
    val corpus = docs.agg(count(lit(1)).as("corpus_n"))
    val rare = sh.groupBy(col("shingle")).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(corpus))
      .where(col("n_docs") <= greatest(lit(2L),
        floor(col("corpus_n") * 0.02).cast("bigint")))
    sh.join(rare, "shingle")
      .select(col("doc_id"), col("shingle"), col("n_docs"), col("corpus_n"))
  }

  /** The fixed English stop-word probe of the p132-p142 statistics. */
  private val EnStops = Seq("the", "of", "and", "to", "a", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by")
  private val EnStopsSql = EnStops.map(w => s"'$w'").mkString(", ")

  /** Share of the token array `ws` that is an English stop word, rounded
    * to `places` — the oracle's [[enRatioSql]]. */
  def enRatio(ws: Column, places: Int): Column =
    round(size(filter(ws, x => x.isin(EnStops.map(lit(_)): _*)))
      .cast("double") / size(ws), places)

  /** [[enRatio]] over the token list `ws`, as oracle SQL text. */
  def enRatioSql(places: Int): String =
    s"round(CAST(len(list_filter(ws, x -> x IN ($EnStopsSql))) AS DOUBLE)" +
      s" / len(ws), $places)"

  /** An md5 hex string's fractional position in [0,1): its first 13 hex
    * digits (52 bits, exact in a double) over 16^13. */
  def hexFrac(hex: Column): Column =
    conv(substring(hex, 1, 13), 16, 10).cast("double") / lit(math.pow(16.0, 13.0))

  /** [[hexFrac]] as SQL text valid verbatim in both Spark SQL and DuckDB:
    * Horner over the same 13 hex digits. Every step adds 4 mantissa bits
    * and divides by a power of two, so all 13 steps are exact in an IEEE
    * double and both engines (and both forms) give bit-identical
    * fractions — what lets the sketch estimates hash-match the oracle. */
  def hexFracSql(col: String): String =
    (1 to 13).foldRight("0.0") { (i, acc) =>
      s"((CAST(instr('0123456789abcdef', substr($col, $i, 1)) AS DOUBLE) - 1.0 + $acc) / 16.0)"
    }

  // ----------------------------------------------------------------- pairs
  //
  // The set-similarity family: exact, weighted and estimated Jaccard over
  // doc pairs, each frame mirroring one CTE of their oracle SQL. Pairs are
  // emitted once (doc_a < doc_b) and carry only ids and counts until the
  // verify step.

  /** (doc_id, shingle) rows → (doc_id, n): `sizes AS (SELECT doc_id,
    * count(*) AS n FROM sh GROUP BY doc_id)`. */
  def setSizes(rows: DataFrame): DataFrame =
    rows.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

  /** (doc_id, shingle) rows → (doc_a, doc_b, i): shingles shared by each
    * doc pair (doc_a < doc_b) that shares at least one — `inter AS (SELECT
    * a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i FROM sh a JOIN sh b
    * ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)`. */
  def sharedCounts(rows: DataFrame): DataFrame =
    rows.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(rows.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))

  /** (doc_a, doc_b, …) pairs + [[setSizes]] → the pairs with both set
    * sizes na, nb — `JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON
    * sb.doc_id = doc_b`. */
  def sizeJoin(pairs: DataFrame, sizes: DataFrame): DataFrame =
    pairs.join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")

  /** (doc_id, shingle) rows → (doc_b, doc_a, i, na, nb): [[sharedCounts]]
    * with both set sizes — the oracle's `sizes` and `inter` CTEs and their
    * two size joins. */
  def jaccardPairs(rows: DataFrame): DataFrame =
    sizeJoin(sharedCounts(rows), setSizes(rows))

  /** `CAST(i AS DOUBLE) / (na + nb - i)`. The weighted spelling passes the
    * shared and per-doc masses already cast to DOUBLE. */
  def jaccard(i: Column, na: Column, nb: Column): Column =
    i.cast("double") / (na + nb - i)

  /** (doc_a, doc_b) candidate pairs + (doc_id, shingle) rows → (doc_a,
    * doc_b, i): the shingles each candidate pair shares, counted on the
    * candidates only — `SELECT p.doc_a, p.doc_b, count(*) AS i FROM pairs p
    * JOIN sh a ON a.doc_id = p.doc_a JOIN sh b ON b.doc_id = p.doc_b AND
    * b.shingle = a.shingle GROUP BY p.doc_a, p.doc_b`. A pair sharing no
    * shingle has no row. */
  def pairOverlap(pairs: DataFrame, rows: DataFrame): DataFrame =
    pairs
      .join(rows.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(rows.select(col("doc_id").as("doc_b"), col("shingle")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))

  /** The idf of a [[rareShingles]] row — `CAST(round(ln(CAST(corpus_n AS
    * DOUBLE) / n_docs), 9) AS DECIMAL(38,9))`; p160 and its twin p192 both
    * read it, so their byte-identical results share one spelling. */
  val rareIdf: Column = rdec(log(col("corpus_n").cast("double") / col("n_docs")), 9)

  /** (doc_id, shingle, length…) prefix rows → distinct (doc_a, doc_b)
    * candidates, spread — `cand AS (SELECT DISTINCT a.doc_id AS doc_a,
    * b.doc_id AS doc_b FROM pref a JOIN pref b ON a.shingle = b.shingle AND
    * a.doc_id < b.doc_id)` plus the caller's PPJoin length filter
    * `lengthOk`, written over the aliases `pa` and `pb`. */
  def prefixCandidates(pref: DataFrame, lengthOk: Column): DataFrame =
    spread(pref.alias("pa").join(pref.alias("pb"),
        col("pa.shingle") === col("pb.shingle")
          && col("pa.doc_id") < col("pb.doc_id") && lengthOk)
      .select(col("pa.doc_id").as("doc_a"), col("pb.doc_id").as("doc_b"))
      .distinct())

  /** rows → distinct id pairs (a < b) of the rows sharing the `keys` cell
    * (by default the LSH (band, bucket) → (doc_a, doc_b)). Pair emission
    * without a self-join: a cell self-join recomputes the lineage once per
    * side (at 100 TB that doubles the dominant map stage). Grouping on the
    * cell shuffles once and emits i<j pairs row-locally; per-cell lists are
    * bounded by near-dup cluster size, and a hot cell costs |cell|^2 either
    * way. */
  def bucketPairs(rows: DataFrame, keys: Seq[String] = Seq("band", "bucket"),
      id: String = "doc_id", a: String = "doc_a", b: String = "doc_b"): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col(id))).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode(col("ids")).as(a), col("ids"))
      .select(col(a), explode(filter(col("ids"), x => x > col(a))).as(b))
      .distinct()

  // The exchange width of the pair stages. Both read the session's
  // parallelism at plan time, not a literal.

  /** Hash-repartitions `df` on `keys` to the session parallelism: a
    * byte-tiny key exchange under a pair fan-out is otherwise coalesced by
    * AQE onto 1-2 cores. The pin also turns off AQE skew-splitting there,
    * so it sits only on a guarded truth tier (`BoundedWindowSpec`). */
  def pin(df: DataFrame, keys: String*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys.map(col): _*)

  /** Round-robin spreads a slim pair frame over the session parallelism
    * before a verify stage that fans each pair out into two wide rows. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  // ------------------------------------------------------------ exact sums
  //
  // Spark's double `sum` depends on the shuffle order; the oracle's kernels
  // do not, and the gate hashes results. So every double aggregate is summed
  // exactly, with the helper that mirrors its oracle's spelling:
  //  - `CAST(x AS DECIMAL(38,s))`               → `dec`, `dsum`;
  //  - `CAST(round(x, s) AS DECIMAL(38,s))`     → `rdec`, `rsum`;
  //  - `floor(x * 10^s + 0.5)` summed as BIGINT → `fsum`.
  // The sums come out as DOUBLE, not DECIMAL: the gate hashes results
  // dtype-sensitively and a DECIMAL output renders "3.140000" where the
  // oracle has "3.14"; the oracle carries the same outer CAST(... AS DOUBLE).

  def dec(c: Column, s: Int): Column = c.cast(s"decimal(38,$s)")

  def dsum(c: Column, s: Int): Column = sum(dec(c, s)).cast("double")

  def rdec(c: Column, s: Int): Column = dec(round(c, s), s)

  def rsum(c: Column, s: Int): Column = sum(rdec(c, s)).cast("double")

  /** Exact order-independent sum of a KNOWN-fixed-scale numeric column via
    * fixed-point longs — the representation columnar engines (DuckDB
    * included) use for decimal arithmetic. The stored doubles carry exact
    * k/10^s rationals; `floor(x*10^s + 0.5)` recovers k exactly for either
    * sign (the scaled value sits within ~1e-7 of k, far from the .5
    * boundary), and the long sum is associative — shuffle-order-proof like
    * [[dsum]] but pure codegen primitive ops (measured 4x faster at sf0.1:
    * the decimal path boxes java.math.BigDecimal per row). The oracle SQL
    * mirrors the same floor/scale arithmetic.
    *
    * Headroom: |sum of scaled values| must stay below 2^63 ≈ 9.2e18 — at
    * money magnitudes (≤1e5) and scale 4 that is ~10^10 rows per group-by
    * output cell's input; beyond that (full 100-TB single-cell sums) use
    * [[dsum]], whose decimal(38) buffer never overflows. */
  def fsum(c: Column, scale: Int): Column = {
    val f = math.pow(10, scale)
    val scaledLong = floor((if (scale == 0) c else c * f) + lit(0.5))
    // Overflow guard: try_sum follows ANSI semantics even off ANSI mode and
    // yields NULL on a 2^63 wrap; a NULL sum over a non-empty group is then
    // escalated to a loud error instead of a silently wrong number. (A NULL
    // sum with zero non-null inputs is the ordinary empty-sum NULL and
    // passes through.) Past the documented headroom, use [[dsum]].
    val summed = try_sum(scaledLong)
    val guarded = when(summed.isNull && count(scaledLong) > 0,
      raise_error(lit("graft.fsum: fixed-point sum overflowed 2^63 — use dsum for this column"))
        .cast("long"))
      .otherwise(summed)
    if (scale == 0) guarded.cast("double") else guarded / f
  }

  def ts(s: String): Column = lit(s).cast("timestamp_ntz")

  // ---------------------------------------------------------------- series
  //
  // The `events` time-series batches build their statistics over the
  // per-day count frame; each helper mirrors one CTE of their oracle SQL.
  // The frames are keyed by the observed day (or day × event type), so the
  // windows and pair joins over them are bounded by the date span at any
  // corpus size.

  /** events → (d DATE, c BIGINT): `SELECT CAST(ts AS DATE) AS d,
    * CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1`. Takes the
    * events frame so a caller can filter it first. */
  def dayCounts(events: DataFrame): DataFrame =
    events.groupBy(col("ts").cast("date").as("d")).agg(count(lit(1)).cast("bigint").as("c"))

  /** events → (d): `SELECT DISTINCT CAST(ts AS DATE) AS d FROM events`. */
  def days(events: DataFrame): DataFrame =
    events.select(col("ts").cast("date").as("d")).distinct()

  /** events → (et): `SELECT DISTINCT event_type AS et FROM events`. */
  def eventTypes(events: DataFrame): DataFrame =
    events.select(col("event_type").as("et")).distinct()

  /** events → (d, et, c): the dense day × event-type count grid, 0 in the
    * empty cells — `days CROSS JOIN types LEFT JOIN counts ON counts.d = d
    * AND counts.et = et`, `COALESCE(c, 0)`. */
  def dayTypeGrid(events: DataFrame): DataFrame = {
    val raw = events.groupBy(col("ts").cast("date").as("rd"),
        col("event_type").as("ret"))
      .agg(count(lit(1)).cast("bigint").as("rc"))
    days(events).crossJoin(broadcast(eventTypes(events)))
      .join(raw, col("rd") === col("d") && col("ret") === col("et"), "left")
      .select(col("d"), col("et"), coalesce(col("rc"), lit(0L)).as("c"))
  }

  /** (d, c) → (d, c, x): x the day's offset from the first day —
    * `date_diff('day', base.d0, d)` with `base AS (SELECT min(d) AS d0)`. */
  def dayIndex(dc: DataFrame): DataFrame =
    dc.crossJoin(broadcast(dc.agg(min(col("d")).as("d0"))))
      .select(col("d"), col("c"), datediff(col("d"), col("d0")).cast("bigint").as("x"))

  /** (x, y) BIGINT rows → one row (n, b, a): the least-squares line
    * y = a + b·x from exact BIGINT sums — the oracle's `s`, `fit` and `ab`
    * CTEs; only the closing divisions round. */
  def trend(xy: DataFrame): DataFrame =
    xy.agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("x")).cast("bigint").as("sx"),
        sum(col("y")).cast("bigint").as("sy"),
        sum(col("x") * col("y")).cast("bigint").as("sxy"),
        sum(col("x") * col("x")).cast("bigint").as("sxx"))
      .select(col("n"), col("sx"), col("sy"),
        ((col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy"))
          / (col("n").cast("double") * col("sxx")
            - col("sx").cast("double") * col("sx"))).as("b"))
      .select(col("n"), col("b"),
        ((col("sy").cast("double") - col("b") * col("sx")) / col("n")).as("a"))

  /** (d, c) → (lag, n_pairs, num, ss) for lag 1..k: over the days `lag`
    * ranks apart, n_pairs pairs and num = Σ (c − μ)(c_prev − μ); ss =
    * Σ (c − μ)² over all days, μ the mean count — the oracle's `m`, `rn`,
    * `pairs`, `acf` and `den` CTEs. A lag counts observed days: pairs
    * come from a join on the day rank, not on the date. */
  def lagPairs(daily: DataFrame, k: Int): DataFrame = {
    val m = daily.agg((sum(col("c")).cast("double") / count(lit(1))).as("mu"))
    val rn = daily.select(col("c"),
      row_number().over(Window.orderBy(col("d"))).as("r"))
    val lags = daily.sparkSession.range(1, k + 1).select(col("id").cast("bigint").as("lag"))
    val pairs = rn.alias("a").crossJoin(broadcast(lags))
      .join(rn.alias("b"), col("a.r") === col("b.r") + col("lag"))
      .select(col("lag"), col("a.c").as("c"), col("b.c").as("cp"))
    val acf = pairs.crossJoin(broadcast(m))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        rsum((col("c") - col("mu")) * (col("cp") - col("mu")), 9).as("num"))
    val den = daily.crossJoin(broadcast(m))
      .agg(rsum((col("c") - col("mu")) * (col("c") - col("mu")), 9).as("ss"))
    acf.crossJoin(broadcast(den))
  }

  // --------------------------------------------------------------- vectors

  /** (keys…, vec) rows → (keys…, cv): the element-wise mean vector per key,
    * each component (as DOUBLE, the oracle's `CAST(v[dim] AS DOUBLE)`) the
    * 9dp-gridded exact sum over the count —
    * `CAST(sum(CAST(round(val, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*)`
    * grouped by (keys…, dim), re-packed by `list(m ORDER BY dim)`. The
    * (keys, dim) partial aggregate is the only corpus-sized shuffle. */
  def centroids(rows: DataFrame, keys: Seq[String], vec: Column): DataFrame = {
    val k = keys.map(col)
    rows.select(k :+ posexplode(vec): _*)
      .select(k ++ Seq((col("pos") + 1).as("dim"), col("col").cast("double").as("val")): _*)
      .groupBy(k :+ col("dim"): _*)
      .agg((rsum(col("val"), 9) / count(lit(1))).as("m"))
      .groupBy(k: _*)
      .agg(transform(
        array_sort(collect_list(struct(col("dim").as("d"), col("m").as("m")))),
        x => x.getField("m")).as("cv"))
  }

  /** Two Lloyd rounds of spherical k-means within each `keys` group:
    * vectors (vec_id, keys…, vec) and seeds (keys…, cid, cv) → (vec_id,
    * keys…, vec, cid, cos) after the second assignment. A group's centroids
    * are packed into ONE broadcast array row, so assignment is map-only:
    * `array_max` over struct(9dp cosine, −cid) takes the highest cosine and
    * gives a tie to the LOWER cluster id — the oracle's `row_number() OVER
    * (PARTITION BY vec_id ORDER BY cos DESC, cid) = 1`. The update step is
    * [[centroids]]. */
  def sphericalKMeans(vecs: DataFrame, seeds: DataFrame, keys: Seq[String],
      vec: String): DataFrame = {
    val k = keys.map(col)
    def pack(u: DataFrame) =
      u.groupBy(k: _*).agg(array_sort(collect_list(struct(col("cid"), col("cv")))).as("cents"))
    def assign(cents: DataFrame) = {
      val scoredArr = transform(col("cents"), c => struct(
        round(Functions.cosineSimilarity(col(vec), c.getField("cv")), 9).as("cos"),
        (-c.getField("cid")).as("ncid")))
      val best = array_max(scoredArr)
      val withCents =
        if (keys.isEmpty) vecs.crossJoin(broadcast(cents)) else vecs.join(broadcast(cents), keys)
      withCents.select((col("vec_id") +: k) ++ Seq(col(vec),
        (-best.getField("ncid")).as("cid"), best.getField("cos").as("cos")): _*)
    }
    def update(a: DataFrame) = centroids(a, keys :+ "cid", col(vec))
    assign(pack(update(assign(pack(seeds)))))
  }

  // ----------------------------------------------------------------- stats
  //
  // The rank and moment statistics reduce the corpus to a frame keyed by
  // the distinct values (or by the survival day) before any window runs,
  // so every window below is bounded by the value domain, never by rows.
  // Each helper mirrors one CTE of their oracle SQL.

  /** (v, c) value-count frame → (v, out): the midrank of each distinct
    * value — `coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
    * PRECEDING AND 1 PRECEDING), 0) + (c + 1) / 2.0`. */
  private def midrankFrame(vc: DataFrame, v: String, out: String): DataFrame =
    vc.select(col(v),
      (coalesce(sum(col("c")).over(Window.orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
        + (col("c") + 1) / 2.0).as(out))

  private def valueCounts(rows: DataFrame, v: Column): DataFrame =
    rows.groupBy(v).agg(count(lit(1)).cast("bigint").as("c"))

  /** rows → (v, out): midranks of column `v` over its distinct-value
    * frame — `vc AS (SELECT v, CAST(count(*) AS BIGINT) AS c … GROUP BY v)`
    * and the midrank CTE over it. */
  def midranks(rows: DataFrame, v: String, out: String): DataFrame =
    midrankFrame(valueCounts(rows, col(v)), v, out)

  /** rows → ((g, n_s, rsum), (tsum)): over the value v = `x`, the per-group
    * size and exact rank sum — `gs AS (SELECT sc.g, CAST(sum(sc.c_s) AS BIGINT) AS n_s,
    * CAST(sum(sc.c_s * CAST(r.rv AS DECIMAL(19,1))) AS DECIMAL(38,1)) AS
    * rsum FROM sc JOIN r ON sc.v = r.v GROUP BY sc.g)` — and the one-row
    * tie term `tie AS (SELECT coalesce(CAST(sum(CAST(c * c * c - c AS
    * DECIMAL(38,0))) AS DOUBLE), 0) AS tsum FROM vc WHERE c > 1)`. */
  def rankSums(rows: DataFrame, g: String, x: Column): (DataFrame, DataFrame) = {
    val vc = valueCounts(rows, x.as("v"))
    val sc = rows.groupBy(col(g), x.as("v")).agg(count(lit(1)).cast("bigint").as("c_s"))
    val gs = sc.join(broadcast(midrankFrame(vc, "v", "rv")), "v").groupBy(col(g)).agg(
      sum(col("c_s")).cast("bigint").as("n_s"),
      sum(col("c_s") * col("rv").cast("decimal(19,1)")).cast("decimal(38,1)").as("rsum"))
    val tie = vc.filter(col("c") > 1).agg(
      coalesce(dsum(col("c") * col("c") * col("c") - col("c"), 0), lit(0.0)).as("tsum"))
    (gs, tie)
  }

  /** (grp 0/1, v) rows → ((n, n1), (v, c, c1, f)): the two-group totals
    * `nn` and the cumulative value frame `w AS (SELECT v, c, c1,
    * CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS f
    * FROM vc)`, c1 the group-1 count at v. */
  def twoGroupFrame(g: DataFrame): (DataFrame, DataFrame) = {
    val nn = g.agg(count(lit(1)).cast("bigint").as("n"),
      sum(col("grp")).cast("bigint").as("n1"))
    val vc = g.groupBy(col("v"))
      .agg(count(lit(1)).cast("bigint").as("c"),
        sum(col("grp")).cast("bigint").as("c1"))
    val w = vc.select(col("v"), col("c"), col("c1"),
      sum(col("c")).over(Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("bigint").as("f"))
    (nn, w)
  }

  /** [[twoGroupFrame]]'s (nn, w) → one row (n, n1, w_ab, ssum, ssq, z_ab):
    * the Ansari–Bradley sums over the closed-form block scores — the
    * oracle's `sc`, `sc2` and `st` CTEs. twoG(x) = Σ_{i≤x} 2·min(i, N+1−i)
    * folds at h = (N+1) // 2; a tie block (f0, f] takes the mean of its
    * scores. z_ab is the tie-corrected z statistic `(w_ab - CAST(n1 AS
    * DOUBLE) * ssum / n) / sqrt(CAST(n1 AS DOUBLE) * (n - n1) / (CAST(n AS
    * DOUBLE) * (n - 1)) * (n * ssq - ssum * ssum) / n)`. */
  def ansariBradley(nn: DataFrame, w: DataFrame): DataFrame = {
    val sc = w.crossJoin(broadcast(nn))
      .select(col("v"), col("c"), col("c1"), col("f"),
        (col("f") - col("c")).as("f0"), col("n"), col("n1"),
        floor((col("n") + 1) / 2).cast("bigint").as("h"))
    def twoG(x: Column) =
      when(x <= col("h"), x * (x + 1))
        .otherwise(col("h") * (col("h") + 1)
          + (x - col("h")) * (lit(2) * (col("n") + 1) - (x + col("h") + 1)))
    val sc2 = sc.select(col("v"), col("c"), col("c1"), col("n"), col("n1"),
      (twoG(col("f")) - twoG(col("f0"))).as("two_block"))
    val score = col("two_block").cast("double") / (lit(2) * col("c"))
    sc2.groupBy(col("n"), col("n1")).agg(
      sum(col("c1").cast("double") * col("two_block") / (lit(2) * col("c")))
        .cast("double").as("w_ab"),
      sum(col("two_block").cast("double") / 2).cast("double").as("ssum"),
      rsum(score * score * col("c"), 9).as("ssq"))
      .withColumn("z_ab", (col("w_ab") - col("n1").cast("double") * col("ssum") / col("n"))
        / sqrt(col("n1").cast("double") * (col("n") - col("n1"))
          / (col("n").cast("double") * (col("n") - 1))
          * (col("n") * col("ssq") - col("ssum") * col("ssum")) / col("n")))
  }

  /** rows → (keys…, n, s1..sk): exact integer power sums per key —
    * `CAST(sum(x * … * x) AS DECIMAL(38,0)) AS si` over `CAST(x AS
    * DECIMAL(9,0))`. The per-row DECIMAL(9,0) comes before the powers: a
    * BIGINT x⁴ wraps past ~55k under non-ANSI Spark where DuckDB errors,
    * and (9,0)⁴ = DECIMAL(36,0) stays bind-legal in DuckDB and exact in
    * both engines for any x ≤ 1e9. */
  def powerSums(rows: DataFrame, keys: Seq[String], x: Column, k: Int): DataFrame = {
    val d = x.cast("decimal(9,0)")
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).cast("bigint").as("n"),
      (1 to k).map(i => sum(Seq.fill(i)(d).reduce(_ * _)).cast("decimal(38,0)").as(s"s$i")): _*)
  }

  /** [[powerSums]] with k = 4 → (keys…, n, m1, m2, m3, m4): the mean and
    * the central moments from the raw ones r_i = s_i / n — the oracle's
    * `m` and `c` CTEs. */
  def centralMoments(ps: DataFrame): DataFrame = {
    val kn = ps.columns.toSeq.takeWhile(_ != "n").map(col) :+ col("n")
    val m = ps.select(kn ++ Seq((col("s1").cast("double") / col("n")).as("m1"),
      (col("s2").cast("double") / col("n")).as("r2"),
      (col("s3").cast("double") / col("n")).as("r3"),
      (col("s4").cast("double") / col("n")).as("r4")): _*)
    m.select(kn ++ Seq(col("m1"),
      (col("r2") - col("m1") * col("m1")).as("m2"),
      (col("r3") - lit(3.0) * col("m1") * col("r2")
        + lit(2.0) * col("m1") * col("m1") * col("m1")).as("m3"),
      (col("r4") - lit(4.0) * col("m1") * col("r3")
        + lit(6.0) * col("m1") * col("m1") * col("r2")
        - lit(3.0) * col("m1") * col("m1") * col("m1") * col("m1")).as("m4")): _*)
  }

  /** events → (signup, event, t_day): one survival subject per user with a
    * signup — the oracle's `u`, `pu` and `s` CTEs. signup is the user's
    * first `signup` ts; the event is the first purchase at or after it (an
    * earlier purchase is a different lifecycle and must not shadow it);
    * t_day (INT) runs from the signup day to the purchase day, or else to
    * the last day the user was seen; event is an INT 0/1. */
  def survivalSubjects(events: DataFrame): DataFrame = {
    val u = events.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("signup"),
        max(col("ts")).as("last_seen"))
    val pu = events.join(u.select(col("user_id").as("uid"), col("signup")),
        col("user_id") === col("uid"))
      .filter(col("event_type") === "purchase" && col("ts") >= col("signup"))
      .groupBy(col("user_id").as("puid")).agg(min(col("ts")).as("purchase"))
    u.filter(col("signup").isNotNull)
      .join(pu, col("user_id") === col("puid"), "left")
      .select(col("signup"),
        when(col("purchase").isNotNull, 1).otherwise(0).as("event"),
        when(col("purchase").isNotNull,
          datediff(col("purchase").cast("date"), col("signup").cast("date")))
          .otherwise(
            datediff(col("last_seen").cast("date"), col("signup").cast("date")))
          .as("t_day"))
  }

  /** events → (v, cx, cy): per distinct `value`, the click and the view
    * counts — `SELECT value AS v, sum(CASE WHEN event_type = 'click' THEN 1
    * ELSE 0 END) AS cx, … FROM events WHERE event_type IN ('click', 'view')
    * GROUP BY value`. */
  def clickViewCounts(events: DataFrame): DataFrame =
    events.filter(col("event_type").isin("click", "view"))
      .groupBy(col("value").as("v")).agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("cx"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("cy"))

  /** The word pattern — `regexp_extract_all(lower(text), '[a-z0-9]+')` —
    * and the annotator screens' stop-word pattern (the same regex text runs
    * in both engines). */
  val WordRe = "[a-z0-9]+"
  private val StopRe = "\\b(the|and|of|to|in|a|is|for|on|with)\\b"

  /** The two annotator screens over `documents`, as INT 0/1 columns: la
    * (`n_chars >= 400`) and lb (`20 * len(regexp_extract_all(lower(text),
    * StopRe)) >= len(regexp_extract_all(lower(text), WordRe))`). */
  def annotatorLabels: Seq[Column] = Seq(
    when(col("n_chars") >= 400, 1).otherwise(0).as("la"),
    when(lit(20) * regexp_count(lower(col("text")), lit(StopRe))
      >= regexp_count(lower(col("text")), lit(WordRe)), 1)
      .otherwise(0).as("lb"))

  /** (doc_id, tks) → (tok, doc_id, c): the non-empty token counts per doc,
    * one explode feeding one (tok, doc_id) partial-aggregate shuffle. */
  def termCounts(docsTok: DataFrame): DataFrame =
    docsTok.select(col("doc_id"), explode(col("tks")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("c"))

  /** [[termCounts]] → (term): the six most frequent tokens of at least four
    * characters, ties by token — `ORDER BY c DESC, tok LIMIT 6` as a
    * distributed top-k (TakeOrderedAndProject), never a global window. */
  def probeTerms(tc: DataFrame): DataFrame =
    tc.filter(length(col("tok")) >= 4)
      .groupBy(col("tok")).agg(sum(col("c")).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(6)
      .select(col("tok").as("term"))
}
