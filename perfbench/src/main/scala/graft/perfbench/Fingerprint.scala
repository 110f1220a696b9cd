package graft.perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Output fingerprint of one operation: the row count plus an
  * order-insensitive hash of the rows.
  *
  * Each row is rendered to a canonical string (non-integral numbers
  * rounded half-even to 6 significant digits of their exact decimal
  * value, so summation order and partitioning cannot move them), hashed
  * with MD5, and the first 8 bytes of every row's digest are summed
  * modulo 2^64. `perfbench/tools/oracle_xcheck.py` renders DuckDB rows by
  * the same rules. */
final case class Fingerprint(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Fingerprint {
  private val Sig = new MathContext(6, RoundingMode.HALF_EVEN)

  /** Runs `df`'s own physical plan (every output column materialized,
    * as a consumer would) and folds its rows into a fingerprint. This is
    * the single timed action of every query operation. */
  def of(df: DataFrame): Fingerprint = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      var n = 0L
      var h = 0L
      it.foreach { row =>
        n += 1
        h += rowHash(md, render(row, schema))
      }
      Iterator.single((n, h))
    }.collect()
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def rowHash(md: MessageDigest, s: String): Long = {
    val d = md.digest(s.getBytes(UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  def render(row: InternalRow, schema: StructType): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append('|')
      value(sb, if (row.isNullAt(i)) null else row.get(i, schema(i).dataType),
        schema(i).dataType)
      i += 1
    }
    sb.toString
  }

  /** Canonical decimal text of a non-integral number. */
  def number(v: JBigDecimal): String =
    if (v.signum == 0) "0"
    else {
      val r = v.round(Sig).stripTrailingZeros
      s"${r.unscaledValue}e${-r.scale}"
    }

  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else number(new JBigDecimal(d))

  private def value(sb: StringBuilder, v: Any, t: DataType): Unit =
    if (v == null) sb.append('N')
    else t match {
      case BooleanType => sb.append(if (v.asInstanceOf[Boolean]) "T" else "F")
      case ByteType | ShortType | IntegerType | LongType => sb.append(v.toString)
      case FloatType => sb.append(double(v.asInstanceOf[Float].toDouble))
      case DoubleType => sb.append(double(v.asInstanceOf[Double]))
      case _: DecimalType =>
        sb.append(number(v.asInstanceOf[Decimal].toJavaBigDecimal))
      case _: StringType =>
        val s = v.toString
        sb.append(s.length).append(':').append(s)
      case BinaryType =>
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"$b%02x"))
      case DateType => sb.append('D').append(v.toString)
      case TimestampType | TimestampNTZType => sb.append('T').append(v.toString)
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          value(sb, if (a.isNullAt(i)) null else a.get(i, et), et)
          i += 1
        }
        sb.append(']')
      case st: StructType =>
        sb.append('{').append(render(v.asInstanceOf[InternalRow], st)).append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val (ks, vs) = (m.keyArray(), m.valueArray())
        val entries = (0 until m.numElements()).map { i =>
          val e = new StringBuilder
          value(e, ks.get(i, kt), kt)
          e.append('=')
          value(e, if (vs.isNullAt(i)) null else vs.get(i, vt), vt)
          e.toString
        }.sorted
        sb.append('<').append(entries.mkString(",")).append('>')
      case other => sb.append(other.typeName).append(':').append(v.toString)
    }
}
