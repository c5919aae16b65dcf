package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Minimal JSON writer for flat result objects and span lines. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, v) => k.toString -> v })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case null => "null"
    case o => value(o.toString)
  }
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Latency samples of client calls in call order, in milliseconds, each
  * marked with whether tracing was on for it.
  */
final class Samples {
  private val seq = mutable.ArrayBuffer[(String, Double, Boolean)]()
  def add(kind: String, ms: Double, traced: Boolean): Unit = seq += ((kind, ms, traced))
  def size: Int = seq.length
  def kinds: Seq[String] = seq.map(_._1).distinct.toSeq
  def of(kind: String): Seq[Double] = seq.collect { case (`kind`, ms, _) => ms }.toSeq
  def of(kind: String, traced: Boolean): Seq[Double] =
    seq.collect { case (`kind`, ms, `traced`) => ms }.toSeq
  def ms: Seq[Double] = seq.map(_._2).toSeq
  /** Kinds of the calls from index `from` (inclusive) to `until`. */
  def kindsOf(from: Int, until: Int): Seq[String] = seq.slice(from, until).map(_._1).toSeq
}

/** Counts failed checks; every client call is one attempt. */
final class Outcomes {
  var attempted = 0L
  var failed = 0L
  private val firstFailures = mutable.ArrayBuffer[String]()
  def attempt(): Unit = attempted += 1
  /** Record a check; a failing one counts once and its reason is kept. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      failed += 1
      if (firstFailures.length < 20) firstFailures += what
    }
  def failures: Seq[String] = firstFailures.toSeq
}

object Dirs {
  /** Total bytes of the regular files under `dir` (0 if absent). */
  def bytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val st = Files.walk(dir)
      try st.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
      finally st.close()
    }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val st = Files.walk(dir)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally st.close()
  }

  def children(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val st = Files.list(dir)
      try st.toArray.map(_.asInstanceOf[Path]).toSeq finally st.close()
    }
}
