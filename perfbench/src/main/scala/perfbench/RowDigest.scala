package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}

/** Row count plus an order-insensitive hash of a result: the wrapping
  * sum of xxHash64 over each row's UnsafeRow bytes. It is computed on
  * the executors from `queryExecution.toRdd`, so every column of every
  * row is produced and nothing but two longs per partition reaches the
  * driver. Equal results give equal digests whatever their row order
  * or partitioning. */
final case class Digest(rows: Long, hash: Long) {
  def hashHex: String = f"$hash%016x"
}

object RowDigest {
  private val Seed = 42L

  def of(df: DataFrame): Digest = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      // most physical plans already emit UnsafeRows; project only the
      // rows that are not, so a digest adds no code generation
      lazy val toUnsafe = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      while (it.hasNext) {
        val u = it.next() match {
          case r: UnsafeRow => r
          case r => toUnsafe(r)
        }
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, Seed)
      }
      Iterator.single((n, h))
    }.collect()
    Digest(parts.iterator.map(_._1).sum, parts.iterator.map(_._2).sum)
  }
}
