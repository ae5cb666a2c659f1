package graft.bench

import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-independent fingerprint of a query result, computed the same
  * way by `oracle.py` for the DuckDB oracle rows. It follows the
  * canonicalization of `tools/check_oracle.py`: columns sorted by name,
  * rows compared as a multiset, values compared exactly (integral numbers
  * equal across integer and floating types, NaN equal to NaN; NULL and
  * NaN are not told apart). */
object Canon {
  private val Epoch = java.time.ZoneOffset.UTC

  def num(d: Double): String =
    if (d.isNaN) "N"
    else if (d.isInfinite) (if (d > 0) "f+inf" else "f-inf")
    else if (d == math.rint(d) && math.abs(d) < 9.0e18) "i" + d.toLong
    else "f" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: java.math.BigInteger => "i" + x
    case x: java.math.BigDecimal => num(x.doubleValue)
    case x: scala.math.BigDecimal => num(x.toDouble)
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case s: String => "s" + s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case i: java.time.Instant => "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case l: java.time.LocalDateTime => cell(l.toInstant(Epoch))
    case d: java.sql.Date => "t" + d.toLocalDate.toEpochDay * 86400000000L
    case d: java.time.LocalDate => "t" + d.toEpochDay * 86400000000L
    case a: Array[Byte] => "x" + a.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "\u0004" + cell(x) }.sorted.mkString("<", "\u0003", ">")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", "\u0003", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", "\u0003", "}")
    case other => "?" + other
  }

  private def hex(md: String, s: String): String =
    MessageDigest.getInstance(md).digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Fingerprint of `rows` under `schema`; `extra` rendered rows are
    * added to the multiset (used only to plant a wrong result). */
  def hash(schema: StructType, rows: Array[Row], extra: Seq[String] = Nil): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy { case (n, i) => (n, i) }
    val digests = rows.map(r => hex("SHA-1", order.map { case (_, i) => cell(r.get(i)) }
      .mkString("\u0001"))) ++ extra.map(hex("SHA-1", _))
    hex("SHA-256", order.map(_._1).mkString("\u0001") + "\u0002" + digests.sorted.mkString("\n"))
  }
}
