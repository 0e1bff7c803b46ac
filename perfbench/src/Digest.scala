package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Order-insensitive result digest: row count plus the wrap-around sum
  * of a 64-bit hash of every row's canonical rendering. Running it is
  * the timed action — a Dataset action that executes the whole plan
  * (final sort included) and deserializes every output column, so
  * Catalyst cannot prune work the way it does under `count()`.
  *
  * Floating-point values are rendered to 10 significant digits: the
  * engine's results must be identical run to run, but a float sum may
  * legitimately differ in its last bits with task-completion order. */
object Digest {
  def of(df: DataFrame): String = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator("digest.rows")
    val sum = sc.longAccumulator("digest.sum")
    df.foreachPartition((it: Iterator[Row]) => {
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += rowHash(r) }
      rows.add(n)
      sum.add(h)
    })
    f"${rows.value}%d:${sum.value}%016x"
  }

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x3c074a61).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x0b4ad0a3).toLong & 0xffffffffL)
  }

  private def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => fmtDouble(d)
    case f: Float => fmtDouble(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "\u0002" + canon(x) }.sorted.mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case x => x.toString
  }

  private def fmtDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(10))
      .stripTrailingZeros.toString
}
