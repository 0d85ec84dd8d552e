package perfbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.SQLExecution

/** Order-insensitive digest of a query result: every row is rendered to a
  * canonical string (columns sorted by name, doubles by their exact bits with
  * -0.0 and NaN normalized), hashed with MD5, and the first 8 bytes of each
  * row hash are summed mod 2^64. perfbench/oracle.py renders DuckDB results
  * the same way, so a digest computed here can be compared with one computed
  * from the DuckDB oracle on the same inputs.
  *
  * Computing it consumes every row and every column of the query's own
  * physical plan (sorts included), which is why it is the timed action. It
  * runs `queryExecution.toRdd`, the executed plan the caller has already
  * forced, as one SQL execution, like a Dataset action does. (`df.rdd` would
  * build and plan a second QueryExecution inside the timed action.)
  */
object Canon {
  final case class Digest(rows: Long, sum: Long) {
    def hex: String = f"$rows:${java.lang.Long.toHexString(sum)}"
  }

  def digest(df: DataFrame): Digest = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val schema = df.schema
    val qe = df.queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some("digest")) {
      qe.toRdd.mapPartitions { rows =>
        val toRow = CatalystTypeConverters.createToScalaConverter(schema)
        val md = MessageDigest.getInstance("MD5")
        val sb = new java.lang.StringBuilder
        var n = 0L
        var sum = 0L
        rows.foreach { internal =>
          val row = toRow(internal).asInstanceOf[Row]
          sb.setLength(0)
          order.foreach { i => put(sb, row.get(i)); sb.append('|') }
          sum += ByteBuffer.wrap(md.digest(sb.toString.getBytes(UTF_8))).getLong
          n += 1
        }
        Iterator(Digest(n, sum))
      }.collect()
    }
    Digest(parts.map(_.rows).sum, parts.map(_.sum).sum)
  }

  private def dbl(sb: java.lang.StringBuilder, d: Double): Unit = {
    val x = if (d == 0.0) 0.0 else d
    sb.append('d').append(java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(x)))
  }

  def put(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null                  => sb.append('N')
    case b: Boolean            => sb.append(if (b) 'T' else 'F')
    case x: Byte               => sb.append('i').append(x.toLong)
    case x: Short              => sb.append('i').append(x.toLong)
    case x: Int                => sb.append('i').append(x.toLong)
    case x: Long               => sb.append('i').append(x)
    case d: Double             => dbl(sb, d)
    case f: Float              => dbl(sb, f.toDouble)
    case d: java.math.BigDecimal => dbl(sb, d.doubleValue)
    case d: scala.math.BigDecimal => dbl(sb, d.toDouble)
    case s: String             => sb.append('s').append(s.codePointCount(0, s.length)).append(':').append(s)
    case t: java.sql.Timestamp =>
      sb.append('t').append(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant  => sb.append('t').append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      sb.append('t').append(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case d: java.sql.Date      => sb.append('D').append(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => sb.append('D').append(d.toEpochDay)
    case r: Row                => sb.append('{'); r.toSeq.foreach { x => put(sb, x); sb.append(',') }; sb.append('}')
    case s: scala.collection.Seq[_] => sb.append('['); s.foreach { x => put(sb, x); sb.append(',') }; sb.append(']')
    case a: Array[Byte]        => sb.append('b').append(java.util.HexFormat.of().formatHex(a))
    case other =>
      throw new IllegalArgumentException(s"no canonical form for ${other.getClass.getName}")
  }
}
