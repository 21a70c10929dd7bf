package graftbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query's output: the row count plus the
  * wrapping 64-bit sum of per-row hashes. A row's canonical string takes
  * its columns sorted by name, as `scripts/check_oracle.py` compares them,
  * and renders each cell in a form that does not depend on the partition
  * layout: doubles are rounded to 12 significant digits (a sum whose
  * addition order follows the core count may differ in its last bits),
  * decimals drop trailing zeros, maps sort their entries. */
object Digest {
  final case class Value(rows: Long, sum: Long) {
    def hex: String = f"$sum%016x"
  }

  private val mc = new java.math.MathContext(12)

  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => cell(b.bigDecimal)
    case a: Array[Byte] => a.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toPlainString

  /** Canonical string of one row; `order` lists column indexes by name. */
  def rowString(r: Row, order: Array[Int]): String =
    order.map(i => cell(r.get(i))).mkString("\u001f")

  /** First 8 bytes of the MD5 of the UTF-8 string, as a signed long. */
  def rowHash(s: String): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  def nameOrder(columns: Array[String]): Array[Int] =
    columns.zipWithIndex.sortBy(_._1).map(_._2)

  /** Digest of in-memory rows (used by the self-tests and by `of`). */
  def ofRows(rows: Iterator[Row], order: Array[Int]): Value = {
    var n = 0L
    var s = 0L
    rows.foreach { r => n += 1; s += rowHash(rowString(r, order)) }
    Value(n, s)
  }

  def of(df: DataFrame): Value = {
    val order = nameOrder(df.columns)
    df.rdd.mapPartitions(it => Iterator.single(ofRows(it, order)))
      .collect()
      .foldLeft(Value(0L, 0L))((a, b) => Value(a.rows + b.rows, a.sum + b.sum))
  }
}
