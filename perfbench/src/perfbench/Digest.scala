package perfbench

import org.apache.spark.sql.Row

/** Order-independent digest of a multiset of rows.
  *
  * Each row is rendered to a canonical string — doubles and floats to 9
  * significant digits (so the digest does not depend on the summation
  * order of a parallel aggregate), array and map entries sorted (so it
  * does not depend on the order `collect_list` saw them in) — hashed to
  * 64 bits, and the hashes are added modulo 2^64. Row order and
  * partitioning therefore never change the digest; a changed, missing or
  * duplicated row does. */
object Digest {

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case r: Row => (0 until r.length).map(i => canon(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => canon(k) + "->" + canon(x) }.toSeq.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.iterator.map(canon).toSeq.sorted.mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString("0x", "", "")
    case a: Array[_] => canon(a.toSeq)
    case p: Product => p.productIterator.map(canon).mkString("(", ",", ")")
    case x => x.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toString

  /** 64-bit hash of one canonical string (first 8 bytes of SHA-256). */
  def hash(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    java.nio.ByteBuffer.wrap(md.digest(s.getBytes("UTF-8"))).getLong
  }

  def ofRows(rows: Iterator[Any]): Long = {
    var acc = 0L
    rows.foreach(r => acc += hash(canon(r)))
    acc
  }

  def hex(d: Long): String = f"$d%016x"
}
