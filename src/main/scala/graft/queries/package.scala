package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

package object queries {

  /**
   * Engine-stable rounding to `digits` decimals: floor(x*10^d + 0.5)/10^d.
   *
   * Spark's `round` detours through the shortest decimal string of the
   * double (BigDecimal HALF_UP), so a value stored as 4.7249999999999996
   * rounds as if it were "4.725" — DuckDB rounds the raw binary and
   * disagrees. This formula is plain double arithmetic, so both engines
   * produce bit-identical results given bit-identical input. The DuckDB
   * oracle SQL uses the same `floor(x * P + 0.5) / P` form.
   */
  def fround(c: Column, digits: Int): Column = {
    val p = math.pow(10, digits)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** Best-effort recursive delete for temp dirs ([[StreamReplay]]'s
    * checkpoints, layout scratch) — repeated bench/verify sweeps must
    * not accumulate state under /tmp. */
  def deleteRecursively(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.util.Try
    Try {
      Files.walk(Paths.get(path)).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Try(Files.delete(p)))
    }
    ()
  }
}
