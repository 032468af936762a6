package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** Row count plus an order-insensitive content hash of a frame's output.
  *
  * Runs the frame's FULL final plan (`queryExecution.toRdd`, as
  * `graft.Bench` prices a query) in one job. Each output row is projected
  * to its canonical UnsafeRow bytes and hashed with XXH64; the per-row
  * hashes are summed mod 2^64, so the digest ignores row order and
  * partitioning but still counts duplicate rows. The per-row projection
  * and hash are the only work added on top of the plan.
  */
final case class Digest(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd
      .mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = proj(r)
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator.single((n, h))
      }
      .fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    Digest(n, h)
  }
}
