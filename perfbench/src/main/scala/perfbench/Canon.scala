package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Canonical text of a collected result, hashed. `checks.py` builds the
  * same text from DuckDB's answer to the oracle SQL, so the two engines
  * agree on a result exactly when the hashes match.
  *
  * The rules follow the repository's oracle compare: columns in
  * name order, rows in produced order, numbers compared by value across
  * integer, decimal and floating types (decimals go through float64, as
  * the compare does), timestamps as naive UTC microseconds, structs and
  * maps as key-sorted dicts. Strings are length-prefixed in UTF-8 bytes
  * so no cell can forge a separator. */
object Canon {
  private val TwoTo63 = java.math.BigDecimal.valueOf(2).pow(63)

  private def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < 9.2e18) "i" + d.toLong
    else "f" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  private def str(s: String): String = "s" + s.getBytes(UTF_8).length + ":" + s

  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: java.math.BigInteger => "i" + x
    case x: Float => num(x.toDouble)
    case x: Double => num(x)
    case x: java.math.BigDecimal =>
      if (x.signum == 0 || (x.stripTrailingZeros.scale <= 0 && x.abs.compareTo(TwoTo63) < 0))
        "i" + x.toBigInteger
      else num(x.doubleValue)
    case x: scala.math.BigDecimal => cell(x.bigDecimal)
    case s: String => str(s)
    case d: java.sql.Date => "d" + d.toLocalDate
    case d: java.time.LocalDate => "d" + d
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      "t" + (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000)
    case b: Array[Byte] => "b" + b.map("%02x".format(_)).mkString
    case r: Row if r.schema != null =>
      dict(r.schema.fieldNames.toSeq.zip(r.toSeq).map { case (k, x) => (str(k), cell(x)) })
    case m: scala.collection.Map[_, _] => dict(m.toSeq.map { case (k, x) => (cell(k), cell(x)) })
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[_] => a.map(cell).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def dict(kv: Seq[(String, String)]): String =
    kv.sortBy(_._1).map { case (k, x) => k + "=" + x }.mkString("{", ",", "}")

  /** (sorted column names, row count, sha256 of the canonical rows). */
  def digest(schema: StructType, rows: Array[Row]): (Seq[String], Long, String) = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      md.update(order.map { case (_, i) => cell(r.get(i)) }.mkString("|").getBytes(UTF_8))
      md.update('\n'.toByte)
    }
    (order.map(_._1).toSeq, rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }
}
