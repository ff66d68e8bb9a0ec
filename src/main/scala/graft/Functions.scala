package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.Encoders

/** Function-parity layer.
  *
  * The reference ships a static scalar-function registry
  * (reference: opteryx/functions/__init__.py:508-659); almost all of it maps to
  * `org.apache.spark.sql.functions` built-ins (codegen'd — see SURVEY.md §2.3).
  * This object supplies only the genuinely missing pieces, each implemented
  * over built-in/higher-order expressions where possible so they stay inside
  * whole-stage codegen, and registered under the reference's SQL spellings.
  */
object Functions {

  // ---------------------------------------------------------------- vectors

  /** Cosine similarity of two ARRAY<numeric> columns (the reference's
    * COSINE_SIMILARITY, opteryx/functions/__init__.py:611) — a native
    * codegen'd expression: one fused loop, where a dot product and norms
    * composed from higher-order functions evaluate their lambdas
    * interpreted, 50× slower inside an all-pairs join. */
  def cosineSimilarity(a: Column, b: Column): Column =
    graft.functions.NativeExpressions.cosineSimilarity(a, b)

  // ------------------------------------------------------------------ text

  /** Whitespace tokenization (the reference's SPLIT default —
    * opteryx/functions/__init__.py:567). */
  def tokenize(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Sliding word shingles of width n as space-joined strings (building block
    * for MinHash / n-gram Jaccard dedup). Documents shorter than n tokens
    * yield zero shingles (never a partial one) — the same contract as the
    * oracle spelling `range(1, greatest(len - (n-1), 0) + 1)`. */
  def wordShingles(tokens: Column, n: Int): Column =
    when(size(tokens) >= n,
      filter(
        transform(sequence(lit(0), size(tokens) - n),
          i => array_join(slice(tokens, i + 1, lit(n)), " ")),
        s => length(s) > 0))
      .otherwise(array().cast("array<string>"))

  /** 32-bit SimHash over md5-derived token hashes: majority vote per bit.
    * Native kernel (one md5 per token); deterministic and expressible in
    * ANSI SQL — the DuckDB oracle mirrors it exactly. */
  def simhash32(tokens: Column): Column =
    graft.functions.NativeExpressions.simhash32(tokens)

  /** 60-bit variant (p169's Hamming banding needs band keys selective
    * enough to stay near-linear — see PipelineQueries45). */
  def simhash60(tokens: Column): Column =
    graft.functions.NativeExpressions.simhash60(tokens)

  // ----------------------------------------------------------------- misc

  private val base85Alphabet =
    "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz!#$%&()*+-;<=>?@^_`{|}~"

  /** Z85-style base85 (reference: BASE85_ENCODE at opteryx/functions/__init__.py:584). */
  def base85Encode(bytes: Array[Byte]): String = {
    if (bytes == null) return null
    val pad = (4 - bytes.length % 4) % 4
    val padded = bytes ++ Array.fill[Byte](pad)(0)
    val sb = new StringBuilder
    var i = 0
    while (i < padded.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (padded(i + j) & 0xffL); j += 1 }
      val chunk = new Array[Char](5)
      var k = 4
      while (k >= 0) { chunk(k) = base85Alphabet((v % 85).toInt); v /= 85; k -= 1 }
      sb.appendAll(chunk)
      i += 4
    }
    sb.setLength(sb.length - pad)
    sb.toString
  }

  def base85Decode(s: String): Array[Byte] = {
    if (s == null) return null
    val pad = (5 - s.length % 5) % 5
    val padded = s + base85Alphabet(84).toString * pad
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < padded.length) {
      var v = 0L
      var j = 0
      while (j < 5) { v = v * 85 + base85Alphabet.indexOf(padded(i + j)); j += 1 }
      var k = 3
      val chunk = new Array[Byte](4)
      while (k >= 0) { chunk(k) = (v & 0xff).toByte; v >>= 8; k -= 1 }
      out.write(chunk, 0, 4)
      i += 5
    }
    val arr = out.toByteArray
    java.util.Arrays.copyOf(arr, arr.length - pad)
  }

  /** Human-readable large numbers (reference: HUMANIZE at
    * opteryx/functions/__init__.py:608). */
  def humanize(n: Long): String = {
    val abs = math.abs(n)
    val (div, suffix) =
      if (abs >= 1000000000000L) (1000000000000.0, " trillion")
      else if (abs >= 1000000000L) (1000000000.0, " billion")
      else if (abs >= 1000000L) (1000000.0, " million")
      else if (abs >= 1000L) (1000.0, " thousand")
      else (1.0, "")
    if (suffix.isEmpty) n.toString
    else f"${n / div}%.1f$suffix"
  }

  /** PRODUCT aggregate (reference: opteryx/operators/aggregate_node.py:44).
    * Sign-correct (no exp/sum/ln trick) typed Aggregator. */
  val productAgg: Aggregator[java.lang.Double, (Double, Boolean), java.lang.Double] =
    new Aggregator[java.lang.Double, (Double, Boolean), java.lang.Double] {
      def zero = (1.0, false)
      def reduce(b: (Double, Boolean), a: java.lang.Double) =
        if (a == null) b else (b._1 * a, true)
      def merge(x: (Double, Boolean), y: (Double, Boolean)) =
        (x._1 * y._1, x._2 || y._2)
      def finish(r: (Double, Boolean)): java.lang.Double = if (r._2) r._1 else null
      def bufferEncoder = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaBoolean)
      def outputEncoder = Encoders.DOUBLE
    }

  /** KMV (k-minimum-values) distinct-cardinality sketch aggregate
    * (Bar-Yossef et al. 2002): feeds on md5 hex hashes, keeps the k
    * lexicographically-smallest DISTINCT values (hex order IS numeric
    * order for fixed-width lowercase hex), and finishes with the standard
    * (k-1)/h_(k) estimate, or -1 when fewer than k distinct hashes were
    * seen (estimate undefined; callers fall back to the exact count they
    * can afford at that size).
    *
    * This is the aggregation form of the p38 pipeline operator and the
    * streaming `DocumentStreams.kmvSketch` state: O(k) buffer per group on
    * the MAP side too (partial aggregation trims to k before any shuffle),
    * and merge is associative/commutative, so the result is independent of
    * partitioning — the property that lets 1000 executors sketch a corpus
    * cut without re-shuffling it. Only the k-th retained hash's first 13
    * hex digits (52 bits — exact in a double) are ever converted to a
    * number, so estimates are bit-identical across engines, partitionings,
    * and the batch/streaming forms.
    */
  def kmvAgg(k: Int): Aggregator[String, Seq[String], Double] =
    new Aggregator[String, Seq[String], Double] {
      def zero: Seq[String] = Vector.empty
      def reduce(b: Seq[String], a: String): Seq[String] =
        if (a == null) b
        // fast path: buffer full and a cannot enter the k-minimum set
        else if (b.size >= k && b.last <= a) b
        else if (b.contains(a)) b
        else ((b :+ a).sorted: Seq[String]).take(k)
      def merge(x: Seq[String], y: Seq[String]): Seq[String] =
        ((x ++ y).distinct.sorted: Seq[String]).take(k)
      def finish(b: Seq[String]): Double =
        if (b.size < k) -1.0
        else (k - 1).toDouble /
          (java.lang.Long.parseLong(b.last.substring(0, 13), 16).toDouble /
            math.pow(16.0, 13.0))
      def bufferEncoder =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
      def outputEncoder = Encoders.scalaDouble
    }

  /** [[kmvAgg]] with the library-default k=64 as an untyped Column
    * aggregate (usable in DataFrame `agg` and registered in SQL as
    * `kmv_est`). */
  lazy val kmvEst: org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(kmvAgg(64))

  /** The retained k-minimum hash set ITSELF (ascending), instead of the
    * finished estimate — for explicit sketch algebra across corpus cuts
    * (p103): the k smallest of a union of complete k-minimum sets is the
    * k-minimum set of the union, so per-cut sketches merge exactly. Same
    * buffer discipline as [[kmvAgg]]: O(k) map-side state, associative
    * merge. */
  def kmvSketchAgg(k: Int): Aggregator[String, Seq[String], Seq[String]] =
    new Aggregator[String, Seq[String], Seq[String]] {
      private val inner = kmvAgg(k)
      def zero: Seq[String] = inner.zero
      def reduce(b: Seq[String], a: String): Seq[String] = inner.reduce(b, a)
      def merge(x: Seq[String], y: Seq[String]): Seq[String] = inner.merge(x, y)
      def finish(b: Seq[String]): Seq[String] = b
      def bufferEncoder =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
      def outputEncoder =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
    }

  /** [[kmvSketchAgg]] at the library-default k=64. */
  lazy val kmvSketch: org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(kmvSketchAgg(64))

  // ------------------------------------------------------------ registration

  /** Register the reference's non-built-in SQL spellings on a session. */
  def registerAll(spark: SparkSession): Unit = {
    spark.udf.register("product", udaf(productAgg))
    spark.udf.register("kmv_est", kmvEst)
    spark.udf.register("base85_encode", (b: Array[Byte]) => base85Encode(b))
    spark.udf.register("base85_decode", (s: String) => base85Decode(s))
    spark.udf.register("humanize", (n: Long) => humanize(n))
    spark.udf.register("random_string", (n: Int) => {
      val r = new scala.util.Random()
      val chars = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
      (0 until n).map(_ => chars(r.nextInt(chars.length))).mkString
    })
    // MATCH_AGAINST(text, query): tokenize both sides (lowercase, strip
    // punctuation, drop stop words); true iff query tokens ⊆ text tokens
    // (reference: opteryx/functions/string_functions.py:264-289).
    val stops = MatchAgainst.stopWords
    spark.udf.register("match_against", (text: String, query: String) => {
      if (text == null || query == null) null.asInstanceOf[java.lang.Boolean]
      else {
        val q = MatchAgainst.tokens(query, stops)
        if (q.isEmpty) java.lang.Boolean.FALSE
        else java.lang.Boolean.valueOf(q.subsetOf(MatchAgainst.tokens(text, stops)))
      }
    })
    // DATE_BIN(stride, ts, origin) / TIME_BUCKET(stride, ts): bucket a
    // timestamp into fixed-width bins anchored at origin/epoch (reference:
    // opteryx/functions/date_functions.py TIME_BUCKET). Row-local
    // arithmetic — no shuffle. Day-time interval strides only (month
    // strides would need calendar walking).
    val dateBin = (d: java.time.Duration, ts: java.sql.Timestamp, origin: java.sql.Timestamp) =>
      if (d == null || ts == null || origin == null) null.asInstanceOf[java.sql.Timestamp]
      else {
        val step = d.toMillis
        val bins = Math.floorDiv(ts.getTime - origin.getTime, step)
        new java.sql.Timestamp(origin.getTime + bins * step)
      }
    spark.udf.register("date_bin", dateBin)
    // Expression-composed registrations stay codegen-friendly:
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{BitwiseGet, BitwiseXor, Cast, Expression, If, InitCap, IsNotNull, Literal, Randn, XxHash64}
    import org.apache.spark.sql.types.ArrayType
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier("time_bucket")))
      spark.udf.register("time_bucket", (d: java.time.Duration, ts: java.sql.Timestamp) =>
        dateBin(d, ts, new java.sql.Timestamp(0L)))
    // Registry spellings from the reference's function table
    // (opteryx/functions/__init__.py:508-659) that Spark spells differently:
    // PHI (golden-ratio literal, folded at plan time like PI), the
    // *_ENCODE/*_DECODE hash aliases, array containment quantifiers, and
    // GET_STRING (JSON field subscript returning string).
    import org.apache.spark.sql.catalyst.expressions.{ArraysOverlap, Base64, Concat, GetJsonObject, Hex, Size, UnBase64, Unhex}
    reg.createOrReplaceTempFunction("phi",
      (_: Seq[Expression]) => Literal(1.618033988749895), "internal")
    reg.createOrReplaceTempFunction("hex_encode",
      (es: Seq[Expression]) => Hex(es.head), "internal")
    reg.createOrReplaceTempFunction("hex_decode",
      (es: Seq[Expression]) => Unhex(es.head), "internal")
    reg.createOrReplaceTempFunction("base64_encode",
      (es: Seq[Expression]) => Base64(es.head), "internal")
    reg.createOrReplaceTempFunction("base64_decode",
      (es: Seq[Expression]) => new UnBase64(es.head), "internal")
    reg.createOrReplaceTempFunction("array_contains_any",
      (es: Seq[Expression]) => ArraysOverlap(es(0), es(1)), "internal")
    reg.createOrReplaceTempFunction("array_contains_all",
      (es: Seq[Expression]) =>
        graft.functions.DialectExpressions.GraftContainsAll(es(0), es(1)),
      "internal")
    reg.createOrReplaceTempFunction("get_string",
      (es: Seq[Expression]) => GetJsonObject(es(0),
        Concat(Seq(Literal("$."), es(1)))), "internal")
    // Plan-time date spellings (reference folds these as constants,
    // functions/__init__.py:176-228): TODAY()/YESTERDAY() date literals,
    // UTC_TIMESTAMP (the session runs in UTC), COUNT_DISTINCT aggregate.
    import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTimestamp, DateSub}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Count
    reg.createOrReplaceTempFunction("today",
      (_: Seq[Expression]) => CurrentDate(), "internal")
    reg.createOrReplaceTempFunction("yesterday",
      (_: Seq[Expression]) => DateSub(CurrentDate(), Literal(1)), "internal")
    reg.createOrReplaceTempFunction("utc_timestamp",
      (_: Seq[Expression]) => CurrentTimestamp(), "internal")
    reg.createOrReplaceTempFunction("count_distinct",
      (es: Seq[Expression]) => Count(es).toAggregateExpression(isDistinct = true),
      "internal")
    // Date spellings (reference: opteryx/functions/date_functions.py):
    // TIMEDIFF(t1, t2) = whole hours from t1 to t2; UNIXTIME = epoch
    // seconds; SORT = ascending array sort.
    import org.apache.spark.sql.catalyst.expressions.{Divide, SortArray, Subtract, UnixTimestamp}
    import org.apache.spark.sql.types.{DoubleType, LongType}
    reg.createOrReplaceTempFunction("timediff",
      (es: Seq[Expression]) => Cast(Divide(
        Cast(Subtract(new UnixTimestamp(es(1)), new UnixTimestamp(es(0))), DoubleType),
        Literal(3600.0)), LongType), "internal")
    if (!reg.functionExists(FunctionIdentifier("unixtime")))
      reg.createOrReplaceTempFunction("unixtime",
        (es: Seq[Expression]) =>
          new UnixTimestamp(es.headOption.getOrElse(CurrentTimestamp())),
        "internal")
    reg.createOrReplaceTempFunction("sort",
      (es: Seq[Expression]) => SortArray(es.head, Literal(true)), "internal")
    // CONNECTION_ID() — session identity (reference system corpus;
    // opteryx exposes the engine process id). Constant per session.
    val sessionId = java.util.UUID.nameUUIDFromBytes(
      spark.sparkContext.applicationId.getBytes("UTF-8")).getMostSignificantBits.abs
    reg.createOrReplaceTempFunction("connection_id",
      (_: Seq[Expression]) => Literal(sessionId), "internal")
    // BLOB(x) — the dialect's bytes constructor, represented as UTF-8
    // STRING in this engine (functions/DialectExpressions.scala scaladoc);
    // complex inputs serialize to JSON so accessor chains keep working
    reg.createOrReplaceTempFunction("blob",
      (es: Seq[Expression]) =>
        graft.functions.DialectExpressions.GraftBlob(es.head), "internal")
    // Bitwise spellings the reference exposes as functions
    // (reference: opteryx/managers/expression/ops.py bitwise table)
    reg.createOrReplaceTempFunction("xor",
      (es: Seq[Expression]) => BitwiseXor(es(0), es(1)), "internal")
    if (!reg.functionExists(FunctionIdentifier("bit_get")))
      reg.createOrReplaceTempFunction("bit_get",
        (es: Seq[Expression]) => BitwiseGet(es(0), es(1)), "internal")
    reg.createOrReplaceTempFunction("title",
      (es: Seq[Expression]) => InitCap(es.head), "internal")
    reg.createOrReplaceTempFunction("cityhash",
      (es: Seq[Expression]) => new XxHash64(es), "internal")
    reg.createOrReplaceTempFunction("cosine_similarity",
      (es: Seq[Expression]) => graft.functions.NativeExpressions.CosineSimilarityExpr(
        Cast(es(0), ArrayType(DoubleType)), Cast(es(1), ArrayType(DoubleType))),
      "internal")
    // SIMHASH(text | tokens): a STRING is tokenized the way every DataFrame
    // caller tokenizes (Kit.words); the kernel itself reads ARRAY<STRING>
    import org.apache.spark.sql.AnalysisException
    import org.apache.spark.sql.graft.Interop
    import org.apache.spark.sql.types.{StringType => Str}
    reg.createOrReplaceTempFunction("simhash", (es: Seq[Expression]) => {
      val tokens = es.head.dataType match {
        case _: Str => Interop.expression(graft.operators.Kit.words(Interop.column(es.head)))
        case ArrayType(_: Str, _) => es.head
        case t => throw new AnalysisException("DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", Map(
          "sqlExpr" -> s"\"simhash(${es.head.sql})\"", "paramIndex" -> "first",
          "requiredType" -> "(\"STRING\" or \"ARRAY<STRING>\")",
          "inputSql" -> s"\"${es.head.sql}\"", "inputType" -> s"\"${t.sql}\""))
      }
      graft.functions.NativeExpressions.SimHashExpr(tokens, 32)
    }, "internal")
    // PRINTF/FORMAT_STRING: java.util.Formatter formats %f from a
    // java.math.BigDecimal, not from Catalyst's Decimal, so DECIMAL arguments
    // are handed over as BigDecimal (`printf('%05.2f', 3.14159)` = '03.14')
    import org.apache.spark.sql.catalyst.expressions.FormatString
    import org.apache.spark.sql.catalyst.expressions.objects.Invoke
    import org.apache.spark.sql.types.{DecimalType, ObjectType}
    for (name <- Seq("printf", "format_string"))
      reg.createOrReplaceTempFunction(name, (es: Seq[Expression]) =>
        FormatString(es.map(e => e.dataType match {
          case _: DecimalType =>
            Invoke(e, "toJavaBigDecimal", ObjectType(classOf[java.math.BigDecimal]))
          case _ => e
        }): _*), "internal")
    reg.createOrReplaceTempFunction("minhash_signature",
      (es: Seq[Expression]) => graft.functions.NativeExpressions.MinHashSignatureExpr(
        es(0), es(1).eval().asInstanceOf[Int]),
      "internal")
    // STRING_SPLIT(s, sep) — literal-separator split (reference:
    // opteryx/functions/string_functions.py split; DuckDB string_split).
    // A literal separator is regex-quoted so '.'/'|' split literally;
    // STRING_SPLIT_REGEX is the regex form (maps to Spark split directly).
    import org.apache.spark.sql.catalyst.expressions.StringSplit
    import org.apache.spark.sql.types.StringType
    reg.createOrReplaceTempFunction("string_split",
      (es: Seq[Expression]) => {
        val sep = es(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            Literal(java.util.regex.Pattern.quote(s.toString))
          // column-valued separator: regex-quote at runtime with \Q…\E so a
          // '.' or '|' from a column still splits literally (round-4 ADVICE;
          // same caveat as Pattern.quote — a separator containing the two
          // characters \E is not expressible, matching java.util.regex).
          case other => Concat(Seq(Literal("\\Q"), other, Literal("\\E")))
        }
        StringSplit(es(0), sep, Literal(-1))
      }, "internal")
    reg.createOrReplaceTempFunction("string_split_regex",
      (es: Seq[Expression]) => StringSplit(es(0), es(1), Literal(-1)), "internal")
    // IIF(cond, a, b) — ternary spelling (reference: functions/__init__.py:604)
    reg.createOrReplaceTempFunction("iif",
      (es: Seq[Expression]) => If(es(0), es(1), es(2)), "internal")
    // IFNOTNULL(v, r): r when v IS NOT NULL else NULL (reference:
    // other_functions.py:144-156 — NOT ifnull; preserves null-awareness)
    reg.createOrReplaceTempFunction("ifnotnull",
      (es: Seq[Expression]) => If(IsNotNull(es(0)), es(1),
        Cast(Literal(null), es(1).dataType)), "internal")
    // NORMAL() — standard-normal random (reference: functions/__init__.py:582)
    reg.createOrReplaceTempFunction("normal",
      (_: Seq[Expression]) => new Randn(), "internal")
    // Bloom-filter surface: Spark's runtime-filter expressions, exposed as
    // SQL functions so an incremental-dedup query can build the snapshot
    // bloom as a SCALAR SUBQUERY — evaluated lazily at execution, broadcast
    // as a literal, never a driver-side job at plan-construction time
    // (p26; the reference maintains bloom filters inside its join kernels,
    // opteryx/compiled/structures/bloom_filter.pyx).
    // bloom_filter_agg(xxhash64(col)[, est_items[, num_bits]]) → binary
    reg.createOrReplaceTempFunction("bloom_filter_agg",
      (es: Seq[Expression]) => (es.length match {
        case 1 => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(es(0))
        case 2 => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(es(0), es(1))
        case _ => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(es(0), es(1), es(2))
      }).toAggregateExpression(), "internal")
    // might_contain(bloom, xxhash64(col)) — bloom must be foldable or a
    // scalar subquery (Spark's own runtime-filter contract)
    reg.createOrReplaceTempFunction("might_contain",
      (es: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1)),
      "internal")
    // Round-4 parity sweep vs the reference registry
    // (opteryx/functions/__init__.py:508-659) — remaining spellings Spark
    // lacks or spells differently. All are thin Catalyst compositions
    // (codegen-friendly, no UDFs).
    import org.apache.spark.sql.catalyst.expressions.{Abs, ArrayContains, CurrentTimestamp => CurTs, DateFormatClass, EndsWith, JsonObjectKeys, Length, Sha2, StartsWith}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Max, Min}
    import org.apache.spark.sql.types.{LongType, StringType => StrType}
    reg.createOrReplaceTempFunction("absolute",
      (es: Seq[Expression]) => Abs(es.head), "internal")
    // LEN: strings/binary → Length; lists → Size (the reference's LEN
    // accepts arrays too, functions/__init__.py LEN entry). Builders run
    // bottom-up during analysis so the child is resolved here; the guard
    // keeps the string behavior if it ever isn't.
    reg.createOrReplaceTempFunction("len",
      (es: Seq[Expression]) =>
        if (es.head.resolved && es.head.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
          Size(es.head)
        else Length(es.head), "internal")
    reg.createOrReplaceTempFunction("maximum",
      (es: Seq[Expression]) => Max(es.head).toAggregateExpression(), "internal")
    reg.createOrReplaceTempFunction("minimum",
      (es: Seq[Expression]) => Min(es.head).toAggregateExpression(), "internal")
    reg.createOrReplaceTempFunction("average",
      (es: Seq[Expression]) => Average(es.head).toAggregateExpression(), "internal")
    reg.createOrReplaceTempFunction("starts_with",
      (es: Seq[Expression]) => StartsWith(es(0), es(1)), "internal")
    reg.createOrReplaceTempFunction("ends_with",
      (es: Seq[Expression]) => EndsWith(es(0), es(1)), "internal")
    reg.createOrReplaceTempFunction("jsonb_object_keys",
      (es: Seq[Expression]) => JsonObjectKeys(es.head), "internal")
    reg.createOrReplaceTempFunction("list_contains",
      (es: Seq[Expression]) => ArrayContains(es(0), es(1)), "internal")
    reg.createOrReplaceTempFunction("list_contains_any",
      (es: Seq[Expression]) => ArraysOverlap(es(0), es(1)), "internal")
    reg.createOrReplaceTempFunction("list_contains_all",
      (es: Seq[Expression]) =>
        graft.functions.DialectExpressions.GraftContainsAll(es(0), es(1)),
      "internal")
    for (bits <- Seq(224, 256, 384, 512))
      reg.createOrReplaceTempFunction(s"sha$bits",
        (es: Seq[Expression]) => Sha2(es.head, Literal(bits)), "internal")
    // PASSTHRU — identity (reference debugging surface)
    reg.createOrReplaceTempFunction("passthru",
      (es: Seq[Expression]) => es.head, "internal")
    // TRUNCATE — numeric truncation toward zero (cast semantics)
    reg.createOrReplaceTempFunction("truncate",
      (es: Seq[Expression]) => Cast(es.head, LongType), "internal")
    reg.createOrReplaceTempFunction("str",
      (es: Seq[Expression]) => Cast(es.head, StrType), "internal")
    // GET: Spark's builtin (0-based array subscript) stands; the reference's
    // map/JSON GET maps to element_at / [] / get_string, all present.
    // SEARCH(field, term) — case-insensitive containment with the
    // reference's input-type polymorphism (text substring / array member /
    // struct value search), via the RuntimeReplaceable dispatch in
    // functions/DialectExpressions.scala
    reg.createOrReplaceTempFunction("search",
      (es: Seq[Expression]) =>
        graft.functions.DialectExpressions.GraftSearch(es(0), es(1)), "internal")
    // `->` / `->>` / `@?` accessors — type-dispatching (struct field, map
    // key, array subscript, JSON text path); GraftSql rewrites the operator
    // spellings to these
    reg.createOrReplaceTempFunction("graft_extract",
      (es: Seq[Expression]) =>
        graft.functions.DialectExpressions.GraftExtract(es(0), es(1), asText = false),
      "internal")
    reg.createOrReplaceTempFunction("graft_extract_text",
      (es: Seq[Expression]) =>
        graft.functions.DialectExpressions.GraftExtract(es(0), es(1), asText = true),
      "internal")
    reg.createOrReplaceTempFunction("graft_exists",
      (es: Seq[Expression]) =>
        graft.functions.DialectExpressions.GraftExists(es(0), es(1)), "internal")
    // Function-style cast spellings the reference exposes that Spark lacks
    // (int()/string()/double()/... all exist natively)
    reg.createOrReplaceTempFunction("integer",
      (es: Seq[Expression]) => Cast(es.head, org.apache.spark.sql.types.IntegerType),
      "internal")
    reg.createOrReplaceTempFunction("varchar",
      (es: Seq[Expression]) => Cast(es.head, StrType), "internal")
    // DATABASE() — current catalog database (reference system corpus)
    reg.createOrReplaceTempFunction("database",
      (_: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.CurrentDatabase(), "internal")
    // APPROXIMATE_MEDIAN (reference aggregate registry) — t-digest sketch
    // median; the EXACT percentile path stays operators/ExactPercentile
    reg.createOrReplaceTempFunction("approximate_median",
      (es: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile(
          es.head, Literal(0.5)).toAggregateExpression(), "internal")
    // MIN_MAX(x) — one-pass (min, max) struct (reference aggregate registry)
    // IFNULL with dynamic-typed fallback; LEAST/GREATEST single-array form
    // (reference other_functions.py: LEAST(array) = element minimum)
    reg.createOrReplaceTempFunction("ifnull",
      (es: Seq[Expression]) =>
        graft.functions.DialectExpressions.GraftIfNull(es(0), es(1)), "internal")
    reg.createOrReplaceTempFunction("least",
      (es: Seq[Expression]) =>
        graft.functions.DialectExpressions.GraftExtrema(es, greatest = false),
      "internal")
    reg.createOrReplaceTempFunction("greatest",
      (es: Seq[Expression]) =>
        graft.functions.DialectExpressions.GraftExtrema(es, greatest = true),
      "internal")
    // IPv4-in-CIDR containment (reference documentation corpus:
    // `'192.168.0.1' | '192.168.0.0/24'`; GraftSql rewrites the operator).
    // A UDF, not an Expression: never on a hot path (literal probes).
    spark.udf.register("ip_in_subnet", (ip: String, cidr: String) => {
      def addr(s: String): Long =
        s.split('.').foldLeft(0L)((a, p) => (a << 8) | p.toInt)
      val Array(net, bits) = cidr.split('/')
      val b = bits.toInt
      val mask = if (b == 0) 0L else (0xFFFFFFFFL << (32 - b)) & 0xFFFFFFFFL
      (addr(ip) & mask) == (addr(net) & mask)
    })
    reg.createOrReplaceTempFunction("min_max",
      (es: Seq[Expression]) => org.apache.spark.sql.catalyst.expressions.CreateStruct(Seq(
        org.apache.spark.sql.catalyst.expressions.aggregate.Min(es.head)
          .toAggregateExpression(),
        org.apache.spark.sql.catalyst.expressions.aggregate.Max(es.head)
          .toAggregateExpression())), "internal")
    // CURRENT_TIME — time-of-day string (Spark has no TIME type)
    if (!reg.functionExists(FunctionIdentifier("current_time")))
      reg.createOrReplaceTempFunction("current_time",
        (_: Seq[Expression]) => new DateFormatClass(CurTs(), Literal("HH:mm:ss")),
        "internal")
    reg.createOrReplaceTempFunction("quantified_cmp", quantifiedCompare _, "internal")
  }

  /** QUANTIFIED_CMP(lhs, agg, op, quantifier): the ANSI three-valued
    * `lhs op ALL|ANY (subquery)` that GraftSql writes for an order or
    * equality quantifier. `agg` is one scalar subquery over the set,
    * `named_struct('cnt', COUNT(*), 'nulls', <null count>, <witnesses>)`,
    * whose witnesses are `w` (the extremum `op` must beat: MAX for `> ALL`,
    * MIN for `> ANY`, duals for `<`) or `min`, `max` (for `= ALL` and
    * `<> ANY`). The SQL names the subquery once; the CASE built here reads
    * each field from its own copy of it, as if the subquery had been pasted
    * once per field, so lhs stays outside the subquery (an aggregate lhs, a
    * JOIN condition or an outer reference resolves as in any comparison).
    *   cnt = 0        → ALL is TRUE, ANY is FALSE (empty set)
    *   lhs op w       → decides when no NULLs interfere
    *   NULL elements  → UNKNOWN whenever they could flip the result */
  private def quantifiedCompare(
      es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]
  ): org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, EqualTo, Expression,
      GetStructField, GreaterThan, GreaterThanOrEqual, IsNull, LessThan, LessThanOrEqual,
      Literal, NamedExpression, Not, Or, ScalarSubquery}
    import org.apache.spark.sql.types.{BooleanType, StructType}
    def arg(i: Int): String =
      if (es.length == 4 && es(i).foldable) String.valueOf(es(i).eval()) else ""
    val (op, quantifier) = (arg(2), arg(3))
    val fields = es.lift(1).map(_.dataType) match {
      case Some(st: StructType) => st.fieldNames.toSeq
      case _ => Nil
    }
    val order = Set("<", "<=", ">", ">=")(op) && Set("ALL", "ANY")(quantifier) &&
      fields == Seq("cnt", "nulls", "w")
    val equality = (op, quantifier) == ("=", "ALL") || (op, quantifier) == ("<>", "ANY")
    require(order || equality && fields == Seq("cnt", "nulls", "min", "max"),
      "quantified_cmp(lhs, named_struct('cnt', .., 'nulls', .., 'w', ..), op, 'ALL'|'ANY')" +
        " takes a literal order op, or '=' ALL / '<>' ANY over fields cnt, nulls, min, max")
    val Seq(lhs, agg, _, _) = es
    val all = quantifier == "ALL"
    def field(i: Int): Expression = GetStructField(agg.transform {
      case s: ScalarSubquery => s.copy(exprId = NamedExpression.newExprId)
    }, i)
    val (cnt, nulls) = (field(0), field(1))
    val unknown = Literal(null, BooleanType)
    def tf(b: Boolean): Expression = Literal(b)
    val cmp: Option[Expression => Expression] = op match {
      case ">" => Some(GreaterThan(lhs, _))
      case ">=" => Some(GreaterThanOrEqual(lhs, _))
      case "<" => Some(LessThan(lhs, _))
      case "<=" => Some(LessThanOrEqual(lhs, _))
      case _ => None
    }
    cmp match {
      case Some(c) =>
        val (first, second) =
          if (all) (Not(c(field(2))), c(field(2))) else (c(field(2)), Not(c(field(2))))
        CaseWhen(Seq(EqualTo(cnt, Literal(0L)) -> tf(all), first -> tf(!all),
          GreaterThan(nulls, Literal(0L)) -> unknown, second -> tf(all)), unknown)
      // `= ALL` / `<> ANY`: a refuting element exists iff the non-null
      // values aren't all equal to lhs, checkable via MIN and MAX
      case None =>
        CaseWhen(Seq(EqualTo(cnt, Literal(0L)) -> tf(all), IsNull(lhs) -> unknown,
          Or(Not(EqualTo(lhs, field(2))), Not(EqualTo(lhs, field(3)))) -> tf(!all),
          GreaterThan(nulls, Literal(0L)) -> unknown), tf(all))
    }
  }

  /** Tokenization shared by MATCH_AGAINST. */
  private[graft] object MatchAgainst {
    val stopWords: Set[String] = Set("a", "an", "and", "are", "as", "at",
      "be", "but", "by", "for", "if", "in", "into", "is", "it", "no", "not",
      "of", "on", "or", "such", "that", "the", "their", "then", "there",
      "these", "they", "this", "to", "was", "will", "with")
    def tokens(s: String, stops: Set[String]): Set[String] =
      s.toLowerCase.replaceAll("[^a-z0-9\\s]", " ")
        .split("\\s+").filter(t => t.nonEmpty && !stops.contains(t)).toSet
  }
}
