package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Interop
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the pipeline hot paths.
  *
  * Spark's higher-order functions (transform/aggregate/zip_with) evaluate
  * their lambdas interpreted — fine for small arrays, ruinous inside an
  * all-pairs join or a per-token × per-bit loop. These expressions fuse the
  * same arithmetic into a single codegen'd (or tight-JVM-loop) kernel while
  * preserving bit-for-bit the accumulation order the DuckDB oracle uses
  * (index-ascending double sums, md5-derived hashes).
  *
  * (Per the reference's own playbook: Opteryx drops to Cython kernels for
  * exactly these loops — reference: opteryx/compiled/ kernels. The
  * Spark-idiomatic equivalent is a Catalyst Expression with doGenCode.)
  */
object NativeExpressions {

  /** cosine(a, b) over ARRAY<DOUBLE>: one fused loop for dot + both norms.
    * Whole-stage-codegen'd via doGenCode. */
  case class CosineSimilarityExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_similarity_native"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val xi = x.getDouble(i); val yi = y.getDouble(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val i = ctx.freshName("i")
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        s"""
        int $n = Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $na = 0.0, $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $x = $a.getDouble($i);
          double $y = $b.getDouble($i);
          $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  private val HEX = "0123456789abcdef".toCharArray

  private def md5Hex(md: java.security.MessageDigest, bytes: Array[Byte]): String = {
    md.reset()
    val d = md.digest(bytes)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** MinHash signature: for h in [0,k), min over shingles of
    * md5(h || ':' || shingle) as hex — identical to the SQL-expressible
    * definition the oracle uses, one digest instance per row batch.
    * Row-local: signature generation is a map-only stage at any scale.
    * An empty or all-null shingle array has no minimum: every entry is
    * null, so the element type is declared nullable. */
  case class MinHashSignatureExpr(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(StringType, containsNull = true)
    override def prettyName: String = "minhash_signature"

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val md = java.security.MessageDigest.getInstance("MD5")
      val mins = new Array[String](k)
      var h = 0
      while (h < k) {
        val prefix = h.toString + ":"
        var best: String = null
        var i = 0
        while (i < n) {
          val s = arr.getUTF8String(i)
          if (s != null) {
            val hex = md5Hex(md, (prefix + s.toString).getBytes("UTF-8"))
            if (best == null || hex.compareTo(best) < 0) best = hex
          }
          i += 1
        }
        mins(h) = best
        h += 1
      }
      new GenericArrayData(mins.map(m =>
        if (m == null) null else UTF8String.fromString(m)))
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** `bits`-wide SimHash (32 or 60): one md5 per token (not per
    * token×bit), then the majority vote in a register loop. Matches the
    * oracle's ('0x'||substr(md5(tok),1,bits/4))::BIGINT hash exactly.
    * 60 is the widest width whose hex prefix stays inside a signed
    * BIGINT on both engines. */
  case class SimHashExpr(child: Expression, bits: Int)
      extends UnaryExpression with CodegenFallback {
    require(bits > 0 && bits <= 60 && bits % 4 == 0,
      s"simhash bits must be a multiple of 4 in (0, 60], got $bits")
    override def dataType: DataType = LongType
    override def prettyName: String = s"simhash$bits"

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](bits)
      var i = 0
      while (i < n) {
        val s = arr.getUTF8String(i)
        if (s != null) {
          val hex = md5Hex(md, s.getBytes)
          val h = java.lang.Long.parseLong(hex.substring(0, bits / 4), 16)
          var bit = 0
          while (bit < bits) {
            if (((h >> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
            bit += 1
          }
        }
        i += 1
      }
      var out = 0L
      var bit = 0
      while (bit < bits) {
        if (votes(bit) > 0) out |= (1L << bit)
        bit += 1
      }
      out
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** |a ∩ b| for two ASCENDING-SORTED string arrays with distinct, non-null
    * elements — a merge scan (O(n+m) binary UTF8 comparisons, zero
    * allocation) replacing `size(array_intersect(a, b))`, whose per-call
    * hash-set build dominated the prefix-filter verify stage (r18
    * measurement: ~2.5 s over 310k candidate pairs at sf0.1). Equal to the
    * builtin on distinct inputs by definition of set intersection;
    * whole-stage-codegen'd. */
  case class SortedIntersectCountExpr(left: Expression, right: Expression)
      extends BinaryExpression
      with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    override def dataType: DataType = LongType
    override def prettyName: String = "sorted_intersect_count"
    // r19 (ADVICE #1): pin the input contract at analysis time — both sides
    // ArrayType(StringType). Sortedness/distinctness/non-null-element
    // preconditions stay asserted at the call sites (every caller feeds
    // sort_array over array_distinct/collect_list-of-distinct outputs);
    // violating THOSE silently under-counts, violating the types now fails
    // analysis instead of NPE-ing in UTF8String.compareTo at runtime.
    override def inputTypes: Seq[Interop.AbstractType] =
      Seq(ArrayType(StringType), ArrayType(StringType))

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements(); val m = y.numElements()
      var i = 0; var j = 0; var c = 0L
      while (i < n && j < m) {
        val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp == 0) { c += 1L; i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
      c
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val m = ctx.freshName("m")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val c = ctx.freshName("c"); val cmp = ctx.freshName("cmp")
        s"""
        int $n = $a.numElements(); int $m = $b.numElements();
        int $i = 0; int $j = 0; long $c = 0L;
        while ($i < $n && $j < $m) {
          int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
          if ($cmp == 0) { $c++; $i++; $j++; }
          else if ($cmp < 0) $i++; else $j++;
        }
        ${ev.value} = $c;
      """
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Σ aVals[k] over k with aIds[k] ∈ bIds, for ASCENDING-SORTED distinct
    * string id arrays with aVals index-aligned to aIds — the weighted twin
    * of [[SortedIntersectCountExpr]], replacing the per-pair
    * `map_from_arrays` + interpreted `aggregate` fold in p192's verify
    * stage. Long sums are exact, so accumulation order is immaterial. */
  case class SortedIntersectWSumExpr(first: Expression, second: Expression,
      third: Expression)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
      with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
    override def dataType: DataType = LongType
    override def prettyName: String = "sorted_intersect_wsum"
    // r19 (ADVICE #1): ids are sorted-distinct string arrays, weights a
    // LONG array index-aligned to the first — the getLong(i) read below is
    // now type-checked at analysis instead of mis-reading at runtime.
    override def inputTypes: Seq[Interop.AbstractType] =
      Seq(ArrayType(StringType), ArrayType(LongType), ArrayType(StringType))

    override protected def nullSafeEval(a: Any, v: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val w = v.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements(); val m = y.numElements()
      var i = 0; var j = 0; var s = 0L
      while (i < n && j < m) {
        val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
        if (cmp == 0) { s += w.getLong(i); i += 1; j += 1 }
        else if (cmp < 0) i += 1
        else j += 1
      }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, v, b) => {
        val n = ctx.freshName("n"); val m = ctx.freshName("m")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val s = ctx.freshName("s"); val cmp = ctx.freshName("cmp")
        s"""
        int $n = $a.numElements(); int $m = $b.numElements();
        int $i = 0; int $j = 0; long $s = 0L;
        while ($i < $n && $j < $m) {
          int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
          if ($cmp == 0) { $s += $v.getLong($i); $i++; $j++; }
          else if ($cmp < 0) $i++; else $j++;
        }
        ${ev.value} = $s;
      """
      })

    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): Expression =
      copy(first = f, second = s, third = t)
  }

  // Column-API wrappers
  def cosineSimilarity(a: Column, b: Column): Column =
    Interop.column(CosineSimilarityExpr(
      Interop.expression(a.cast("array<double>")),
      Interop.expression(b.cast("array<double>"))))

  def minhashSignature(shingles: Column, k: Int): Column =
    Interop.column(MinHashSignatureExpr(Interop.expression(shingles), k))

  def simhash32(tokens: Column): Column =
    Interop.column(SimHashExpr(Interop.expression(tokens), 32))

  def simhash60(tokens: Column): Column =
    Interop.column(SimHashExpr(Interop.expression(tokens), 60))

  def sortedIntersectCount(a: Column, b: Column): Column =
    Interop.column(SortedIntersectCountExpr(
      Interop.expression(a), Interop.expression(b)))

  def sortedIntersectWSum(aIds: Column, aVals: Column, bIds: Column): Column =
    Interop.column(SortedIntersectWSumExpr(Interop.expression(aIds),
      Interop.expression(aVals), Interop.expression(bIds)))
}
