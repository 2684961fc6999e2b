package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive digest of an op's output: the row count and the
  * sum (mod 2^64) of a 64-bit hash of each row's canonical text.
  * Floating-point values are written with 9 significant digits, so a
  * result whose last bits depend on the order of a distributed sum
  * still matches; maps are written in key order. */
object Check {
  def digest(rows: Array[Row]): (Long, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    var sum = 0L
    rows.foreach { r =>
      val b = md.digest(canon(r).getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(b, 0, 8).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => fp(d)
    case f: Float => fp(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) -> canon(x) }.sortBy(_._1)
        .map { case (k, x) => s"$k:$x" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case s: String => "\"" + s + "\""
    case other => other.toString
  }

  private def fp(d: Double): String =
    if (d == 0.0) "0"
    else if (d.isNaN || d.isInfinite) d.toString
    else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
}
