package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry of per-data-dir session artifacts (signature/segment/
  * dup-label tables, the token projection, HLL register tables, the
  * ABWD pair table, the ANN index tables, table readers, streaming run
  * outputs). Each artifact is a [[PerDir]] map that registers itself
  * on construction together with the rule that releases one of its
  * values, so [[clearAll]] reaches every artifact by construction —
  * there is no hand-kept call list a new artifact can be left out of
  * (one that is would serve stale tables after a corpus swap). The
  * artifacts are intentionally session-long for the gate and bench runs — a
  * long-lived service calls [[clearAll]] between corpus versions, and
  * the test/verify mains call it at teardown so no path leaks
  * persisted or checkpointed blocks for the life of the JVM. */
object Caches {

  /** One per-dir artifact: string-keyed values built once by
    * [[computeIfAbsent]] and released by `release` on [[remove]] or
    * [[clearAll]]. */
  final class PerDir[V](release: V => Unit) {
    private val m = new java.util.concurrent.ConcurrentHashMap[String, V]()
    registry.add(this)

    def computeIfAbsent(key: String, build: String => V): V =
      m.computeIfAbsent(key, k => build(k))

    def put(key: String, v: V): Unit = { m.put(key, v); () }

    /** Drop `key`'s entry and release its value. */
    def remove(key: String): Unit = Option(m.remove(key)).foreach(release)

    private[graft] def values: Seq[V] = {
      import scala.jdk.CollectionConverters._
      m.values.asScala.toSeq
    }

    private[Caches] def clear(): Unit = {
      m.values.forEach(release(_))
      m.clear()
    }
  }

  private val registry = new java.util.concurrent.ConcurrentLinkedQueue[PerDir[_]]()

  /** Release rule for `persist(...)`ed frames. */
  def unpersist(df: DataFrame): Unit = { df.unpersist(); () }

  /** Release rule for EAGER LOCAL CHECKPOINTS: Dataset.unpersist does
    * not reach a local checkpoint's RDD-level blocks, so release goes
    * through the LogicalRDD handle — otherwise the blocks hold
    * executor storage until the ContextCleaner happens to GC them. */
  def releaseCheckpointed(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    }

  /** Release rule for values that hold no blocks of their own
    * (plan-only readers, driver-side maps): dropping the reference is
    * the release. Never `Dataset.unpersist` these — that would uncache
    * any same-result plan someone else persisted. */
  def dropOnly(v: Any): Unit = ()

  private[graft] def artifacts: Seq[PerDir[_]] = {
    import scala.jdk.CollectionConverters._
    registry.asScala.toSeq
  }

  def clearAll(): Unit = registry.forEach(_.clear())

  /** Build every declared index artifact for `d` (the bench's named
    * setup step), in the fixed family order every main uses. */
  def warmAll(s: SparkSession, d: String): Unit = {
    TextOps.warmCaches(s, d)
    AnnOps.warmCaches(s, d)
    GeoOps.warmCaches(s, d)
    MixOps.warmCaches(s, d)
  }
}
