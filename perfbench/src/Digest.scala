package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Row count plus an order-independent hash of a multiset of rows.
  *
  * Each row hashes with Spark's own `xxhash64` (seed 42, columns folded
  * left to right); the digest sums the low and the high 32 bits of the
  * row hashes separately, so the sums cannot overflow a long below 2^31
  * rows and the result does not depend on row order or partitioning.
  * The same digest is computed on the driver from the generator's
  * expected rows, so a timed op's output is checked without running any
  * of graft's code.
  */
final case class Digest(rows: Long, lo: Long, hi: Long)

object Digest {
  private val Seed = 42L
  private val Low = 0xffffffffL

  /** The Spark-side digest of `cols` (long or string columns) of `df`. */
  def of(df: DataFrame, cols: Column*): Digest = {
    val h = xxhash64(cols: _*)
    val r = df.agg(
      count(lit(1)),
      coalesce(sum(h.bitwiseAND(lit(Low))), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Spark's xxhash64 of one row of long and string values. */
  def hashRow(values: Any*): Long = values.foldLeft(Seed) {
    case (h, v: Long) => XXH64.hashLong(v, h)
    case (h, v: String) => XXH64.hashUTF8String(UTF8String.fromString(v), h)
    case (_, v) => throw new IllegalArgumentException(s"unsupported digest value $v")
  }

  /** The driver-side digest of expected rows of long and string values. */
  def ofRows(rows: Iterable[Seq[Any]]): Digest = {
    val acc = new Acc
    rows.foreach(r => acc.addRow(r: _*))
    acc.result
  }

  /** Driver-side accumulator mirroring [[of]]. */
  final class Acc {
    private var n = 0L
    private var lo = 0L
    private var hi = 0L
    def add(h: Long): Unit = { n += 1; lo += h & Low; hi += h >>> 32 }
    def addRow(values: Any*): Unit = add(hashRow(values: _*))
    def addPair(a: Long, b: Long): Unit = add(XXH64.hashLong(b, XXH64.hashLong(a, Seed)))
    def result: Digest = Digest(n, lo, hi)
  }
}
