package graftbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}

/** Row count plus an order-insensitive digest of a step's output. */
final case class Digest(rows: Long, sha: String)

/**
 * Canonicalises rows the way `tools/compare_oracle.py` does before it
 * compares Spark with DuckDB: columns in name order, floats rounded to 9
 * digits with -0 as 0, rows sorted. The digest is SHA-256 over the sorted
 * canonical rows, so it does not depend on partitioning or row order.
 */
object Check {

  def digest(df: DataFrame): Digest = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect()
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("\u0001")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    Digest(rows.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }

  private def round9(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val s = new JBigDecimal(d).setScale(9, RoundingMode.HALF_EVEN).stripTrailingZeros.toPlainString
      if (s == "-0") "0" else s
    }

  private def canon(v: Any): String = v match {
    case null => "None"
    case d: Double => round9(d)
    case f: Float => round9(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ", ", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ": " + canon(x) }.sorted.mkString("{", ", ", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ", ", "]")
    case other => other.toString
  }
}
