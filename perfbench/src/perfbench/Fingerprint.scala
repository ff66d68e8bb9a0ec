package perfbench

import java.math.MathContext
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive hash of a collected result, in the spirit of the
  * oracle gate's canonical form: columns sorted by name, every cell
  * stringified, rows sorted. Doubles are rounded to 9 significant digits so
  * that summation order across partitions cannot flip the hash. */
object Fingerprint {
  private val Digits = new MathContext(9)

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(schema.fieldNames(_)).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update('\n'.toByte); md.update(l.getBytes("UTF-8")) }
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  private def cell(v: Any): String = v match {
    case null => "<null>"
    case d: Double => real(d)
    case f: Float => real(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => cell(b.bigDecimal)
    case bytes: Array[Byte] => bytes.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def real(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toPlainString
}
