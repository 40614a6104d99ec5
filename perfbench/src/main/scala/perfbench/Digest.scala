package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive digest of a query result: the row count and the
  * sum (mod 2^64) of a 64-bit md5 prefix of each row's canonical text.
  * Columns are taken in name order; floating values are rounded to 12
  * significant digits so accumulation order cannot flip a digest.
  * Computed on the executors, so large results are never collected.
  */
object Digest {
  def of(df: DataFrame): String = {
    val order = df.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val (n, sum) = df.rdd
      .map(r => (1L, rowHash(r, order)))
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    f"$n:$sum%016x"
  }

  def rowHash(r: Row, order: Array[Int]): Long = {
    val sb = new StringBuilder
    order.foreach { i => canon(r.get(i), sb); sb.append('\u0001') }
    val md = MessageDigest.getInstance("MD5").digest(sb.toString.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(md).getLong
  }

  private val mc = new MathContext(12)

  private def canon(v: Any, sb: StringBuilder): Unit = v match {
    case null => sb.append("<null>")
    case d: Double => num(d, sb)
    case f: Float => num(f.toDouble, sb)
    case d: java.math.BigDecimal => sb.append(d.stripTrailingZeros.toPlainString)
    case d: scala.math.BigDecimal => sb.append(d.bigDecimal.stripTrailingZeros.toPlainString)
    case b: Array[Byte] => b.foreach(x => sb.append(f"$x%02x"))
    case s: scala.collection.Seq[_] =>
      sb.append('['); s.foreach { x => canon(x, sb); sb.append(',') }; sb.append(']')
    case m: scala.collection.Map[_, _] =>
      val parts = m.toSeq.map { case (k, x) =>
        val b = new StringBuilder; canon(k, b); b.append('='); canon(x, b); b.toString
      }.sorted
      sb.append(parts.mkString("{", ",", "}"))
    case r: Row =>
      sb.append('('); (0 until r.length).foreach { i => canon(r.get(i), sb); sb.append(',') }
      sb.append(')')
    case other => sb.append(other.toString)
  }

  private def num(d: Double, sb: StringBuilder): Unit =
    if (d.isNaN || d.isInfinite) sb.append(d.toString)
    else sb.append(new JBigDecimal(d).round(mc).stripTrailingZeros.toPlainString)
}
