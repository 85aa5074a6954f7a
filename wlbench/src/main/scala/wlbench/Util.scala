package wlbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** Small helpers shared by the workloads: JSON output, order
  * statistics, hashing and directory copies. */
object Util {

  /** Minimal JSON encoder for the benchmark's own records: maps,
    * sequences, strings, numbers, booleans and null. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  /** Linear-interpolated quantile of an unsorted sample, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def sha256(chunks: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    chunks.foreach(c => md.update(c.getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def md5Hex(s: String): String = {
    val md = MessageDigest.getInstance("MD5")
    md.digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** Seed mixing (SplitMix64 finalizer): independent streams per key. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def now(): Double = System.nanoTime() / 1e9

  def timed[A](body: => A): (A, Double) = {
    val t0 = now()
    val a = body
    (a, now() - t0)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { x =>
      val t = dst.resolve(src.relativize(x).toString)
      if (Files.isDirectory(x)) Files.createDirectories(t)
      else Files.copy(x, t)
    } finally s.close()
  }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try {
      var n = 0L
      s.forEach(x => if (Files.isRegularFile(x)) n += Files.size(x))
      n
    } finally s.close()
  }
}

/** Zipf(s) sampler over ranks 0 until n by inverse CDF. */
final class Zipf(n: Int, s: Double) extends Serializable {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    val r = if (i >= 0) i else -i - 1
    math.min(r, n - 1)
  }
}
