package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Order-insensitive content hash of a result. Doubles and floats are
  * rendered to 9 significant digits so a last-bit difference in a
  * floating-point sum (shuffle fetch order) does not read as a wrong
  * answer; everything else is rendered exactly. */
object ResultHash {
  private def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) "0" else "%.9g".format(d)
    case f: Float => render(f.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Seq[Row]): (String, Long) = {
    val md = MessageDigest.getInstance("MD5")
    rows.map(render).sorted.foreach { l =>
      md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    (md.digest().map("%02x".format(_)).mkString, rows.size.toLong)
  }

  def of(df: DataFrame): (String, Long) = of(df.collect().toSeq)

  /** Order-insensitive hash of a large result, computed on the
    * executors: the sum of its rows' MD5 digests modulo 2^128. Rows are
    * rendered as in [[of]]. */
  def distributed(df: DataFrame): (String, Long) = {
    val mask = (BigInt(1) << 128) - 1
    val (sum, n) = df.rdd.map { r =>
      val md = MessageDigest.getInstance("MD5")
      (BigInt(1, md.digest(render(r).getBytes(StandardCharsets.UTF_8))), 1L)
    }.fold((BigInt(0), 0L)) { case ((a, x), (b, y)) => ((a + b) & mask, x + y) }
    (f"$sum%032x", n)
  }

  /** A layout build's output: one DataFrame or a pair of them. */
  def ofLayout(out: Any): (String, Long) = {
    val parts = out match {
      case df: DataFrame => Seq(distributed(df))
      case (x: DataFrame, y: DataFrame) => Seq(distributed(x), distributed(y))
      case other => throw new IllegalArgumentException(s"unexpected layout output $other")
    }
    (parts.map(_._1).mkString("+"), parts.map(_._2).sum)
  }
}

object Files {
  def bytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)

  /** Bytes of every layout family directory (graft_*) under `root`. */
  def layoutBytes(root: File): Long =
    Option(root.listFiles()).map(_.filter(_.getName.startsWith("graft_")).map(bytes).sum)
      .getOrElse(0L)
}
