package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import org.apache.spark.sql.Row

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles the tail rule may report, highest first. */
  val TailPercentiles: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile of `TailPercentiles` that has at least ten
    * samples above it, with its nearest-rank value; None when even the
    * median has fewer than ten samples beyond it (n < 20). */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    val n = s.length
    TailPercentiles.find(p => n * (1 - p / 100) >= 10 - 1e-9).map { p =>
      val rank = math.ceil(p / 100 * n).toInt.max(1)
      (p, s(rank - 1))
    }
  }
}

/** Order-insensitive result digests with doubles rounded, so a result
  * compares equal across task scheduling orders and partial-sum orders. */
object Digest {
  def hex(bytes: Array[Byte]): String = bytes.map(b => f"$b%02x").mkString

  def sha(s: String): String =
    hex(java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8))).take(16)

  /** Digest of a multiset of lines. */
  def lines(ls: Seq[String]): String = sha(ls.sorted.mkString("\n"))

  def rows(rs: Seq[Row]): String = lines(rs.map(canon))

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(canon).mkString("[", ",", "]")
    case b: Array[Byte] => "0x" + sha(hex(b))
    case xs: Array[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Nine significant digits: far above the last-bit noise of summing
    * in a different order, far below any real change of a value. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(Locale.ROOT, "%.9g", Double.box(d))
}

/** Minimal JSON writer for the harness's flat records. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  /** A top-level numeric field of a flat JSON object. */
  def number(json: String, key: String): Option[Double] =
    ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*([-0-9.eE+]+)").r
      .findFirstMatchIn(json).map(_.group(1).toDouble)
}
