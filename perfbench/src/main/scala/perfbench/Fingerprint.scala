package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive fingerprint of a query result: row count plus the
  * wrapping sum of a 64-bit hash of each row. Cells are rendered with
  * columns sorted by name and decimals read as doubles, as
  * `tools/oracle_check.py` compares them; doubles are rounded to 12
  * significant digits so that a last-bit difference in summation order
  * does not read as a wrong answer. */
object Fingerprint {

  def of(df: DataFrame): String = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect()
    val sum = rows.iterator.map { r =>
      val s = order.map(i => cell(r.get(i))).mkString("|")
      (MurmurHash3.stringHash(s, 0x2545f491).toLong << 32) ^
        (MurmurHash3.stringHash(s, 0x7f4a7c15).toLong & 0xffffffffL)
    }.sum
    f"${rows.length}%d:$sum%016x"
  }

  private val Digits = new MathContext(12)

  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) d.toString
      else new JBigDecimal(d).round(Digits).stripTrailingZeros.toPlainString
    case f: Float => cell(f.toDouble)
    case b: JBigDecimal => cell(b.doubleValue)
    case b: BigDecimal => cell(b.toDouble)
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }
}
