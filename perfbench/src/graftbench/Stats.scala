package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The value at the highest percentile with at least ten samples
    * beyond it; with ten samples or fewer, the maximum. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size <= 10) s.last
    else s(s.size - 11)
  }
}

/** Reference digests of the registry steps' outputs, made by
  * `perfbench/mkref.py` after checking each output against DuckDB. */
object Refs {
  private val Entry = """"([a-z0-9_]+)":\s*\{"rows":\s*(\d+),\s*"sha256":\s*"([0-9a-f]+)"\}""".r

  def load(path: String): Map[String, Digest] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), UTF_8)
    Entry.findAllMatchIn(text).map(m => m.group(1) -> Digest(m.group(2).toLong, m.group(3))).toMap
  }
}
