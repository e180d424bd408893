package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-independent digest of a query result, computed the same way by
  * `oracle.py` over the DuckDB result, so a stored oracle digest can be
  * compared with the Spark rows of each run.
  *
  * It follows the parity rules of `tools/parity.py`: columns are taken in
  * name order, rows as a multiset, types must agree (int32 and int64 are
  * different), and values must be exactly equal. Doubles are compared by
  * their bits, with -0.0 folded into 0.0 and every NaN into one NaN.
  *
  * The digest is `<rows>:<types>:<sum of per-row sha256 prefixes mod 2^64>`.
  */
object Digest {
  def typeTag(t: DataType): String = t match {
    case ByteType => "int8"
    case ShortType => "int16"
    case IntegerType => "int32"
    case LongType => "int64"
    case FloatType => "float32"
    case DoubleType => "float64"
    case StringType => "str"
    case BooleanType => "bool"
    case TimestampType | TimestampNTZType => "ts"
    case DateType => "date"
    case _: DecimalType => "decimal"
    case BinaryType => "bin"
    case other => "complex:" + other.typeName
  }

  private def value(v: Any, t: DataType): String =
    if (v == null) "N" else t match {
      case ByteType | ShortType | IntegerType | LongType =>
        v.asInstanceOf[Number].longValue.toString
      case FloatType =>
        val f = v.asInstanceOf[Float]
        val g = if (f == 0.0f) 0.0f else f
        java.lang.Integer.toHexString(java.lang.Float.floatToIntBits(g))
      case DoubleType =>
        val d = v.asInstanceOf[Double]
        val e = if (d == 0.0) 0.0 else d
        java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(e))
      case StringType => v.toString
      case BooleanType => if (v.asInstanceOf[Boolean]) "1" else "0"
      case TimestampType =>
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .fromJavaTimestamp(v.asInstanceOf[java.sql.Timestamp]).toString
      case TimestampNTZType =>
        val l = v.asInstanceOf[java.time.LocalDateTime]
        val i = l.toInstant(java.time.ZoneOffset.UTC)
        (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
      case DateType =>
        v.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toString
      case _: DecimalType => v.asInstanceOf[java.math.BigDecimal].toPlainString
      case _ => v.toString
    }

  def of(schema: StructType, rows: Array[Row]): String = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name)
    val types = cols.map { case (f, _) => f.name + "=" + typeTag(f.dataType) }
      .mkString(",")
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    for (r <- rows) {
      val line = cols.map { case (f, i) => value(r.get(i), f.dataType) }
        .mkString("\u0001")
      val h = md.digest(line.getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    val typeHash = MessageDigest.getInstance("SHA-256")
      .digest(types.getBytes(UTF_8)).take(6).map("%02x".format(_)).mkString
    s"${rows.length}:$typeHash:${java.lang.Long.toUnsignedString(sum)}"
  }
}
