package perfbench

import java.math.{BigDecimal => JBigDecimal, BigInteger, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive digest of a result.
  *
  * Each value is reduced to a canonical token (numbers to 9 significant
  * digits, the precision `scripts/local_verify.py` compares at; timestamps
  * without trailing fraction zeros; booleans lower case; null as `\N`), a
  * row is its tokens joined by U+0001, and the digest is the sum mod 2^64 of
  * the first 8 bytes of each row's MD5. `benchlib/digest.py` computes the
  * same form for the DuckDB-oracle answers.
  */
final case class Answer(rows: Long, digest: Long) {
  def hex: String = f"$digest%016x"
}

object Digest {
  private val IntRe = "[+-]?\\d+".r
  private val FloatRe = "[+-]?(?:\\d+\\.?\\d*|\\.\\d+)(?:[eE][+-]?\\d+)?".r
  private val TsRe =
    "(\\d{4}-\\d{2}-\\d{2})[ T](\\d{2}:\\d{2})(?::(\\d{2})(?:\\.(\\d+))?)?".r
  private val Sig9 = new MathContext(9, RoundingMode.HALF_EVEN)

  def canon(t: String): String =
    if (t == null || t == "\\N") "\\N"
    else t.toLowerCase(java.util.Locale.ROOT) match {
      case l @ ("true" | "false") => l
      case "nan" | "+nan" | "-nan" => "nan"
      case "inf" | "+inf" | "infinity" | "+infinity" => "inf"
      case "-inf" | "-infinity" => "-inf"
      case _ => t match {
        case IntRe() => new BigInteger(t).toString
        case FloatRe() => sig9(t.toDouble)
        case TsRe(d, hm, s, f) =>
          val frac = Option(f).map(_.reverse.dropWhile(_ == '0').reverse).getOrElse("")
          s"$d $hm:${Option(s).getOrElse("00")}" + (if (frac.isEmpty) "" else "." + frac)
        case _ => t
      }
    }

  def sig9(x: Double): String =
    if (x == 0.0) "0"
    else new JBigDecimal(x).round(Sig9).stripTrailingZeros.toPlainString

  def rowHash(row: String): Long = {
    val md = MessageDigest.getInstance("MD5").digest(row.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(md, 0, 8).getLong
  }

  private def joinTokens(tokens: Iterable[String]): String = tokens.mkString("\u0001")

  /** Digest of `queryAs(sql, "CSV")` output: one line per row, fields
    * split on ',' (the renderer does not quote, so the oracle side joins
    * and splits its values the same way).
    */
  def ofCsv(csv: String): Answer =
    if (csv.isEmpty) Answer(0, 0)
    else {
      val lines = csv.stripSuffix("\n").split("\n", -1)
      Answer(lines.length,
        lines.iterator.map(l => rowHash(joinTokens(l.split(",", -1).map(canon)))).sum)
    }

  /** Canonical token of one Catalyst value of type `dt`. */
  def token(v: Any, dt: DataType): String =
    if (v == null) "\\N"
    else dt match {
      case FloatType => canon(v.asInstanceOf[Float].toDouble.toString)
      case _: DecimalType => canon(v.asInstanceOf[Decimal].toJavaBigDecimal.toString)
      case DateType => java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
      case TimestampType | TimestampNTZType =>
        val us = v.asInstanceOf[Long]
        canon(java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000).toInt, java.time.ZoneOffset.UTC).toString)
      case BinaryType => v.asInstanceOf[Array[Byte]].map(b => f"$b%02x").mkString
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        (0 until a.numElements()).map(i =>
          if (a.isNullAt(i)) "\\N" else token(a.get(i, et), et)).mkString("[", ",", "]")
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        st.fields.indices.map(i =>
          token(if (r.isNullAt(i)) null else r.get(i, st(i).dataType), st(i).dataType))
          .mkString("{", ",", "}")
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        (0 until m.numElements()).map(i =>
          token(m.keyArray().get(i, kt), kt) + ":" +
            (if (m.valueArray().isNullAt(i)) "\\N" else token(m.valueArray().get(i, vt), vt)))
          .sorted.mkString("{", ",", "}")
      case _ => canon(v.toString)
    }

  /** Digest of the rows of `QueryExecution.toRdd`, columns ordered by name
    * as the oracle gate orders them.
    */
  def ofRows(rows: Array[InternalRow], schema: StructType): Answer = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) => (i, f.dataType) }
    Answer(rows.length, rows.iterator.map { r =>
      rowHash(joinTokens(cols.map { case (i, dt) =>
        token(if (r.isNullAt(i)) null else r.get(i, dt), dt) }))
    }.sum)
  }
}
