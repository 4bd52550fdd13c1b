package perfbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed call at a layer boundary: epoch ms to place it against
  * listener events, nanoTime-based seconds for its duration. */
final case class Phase(name: String, startMs: Long, endMs: Long, seconds: Double)

/** One execution of one member. `id` is the job group the runner set
  * for it; every span of the execution carries it. */
final case class Exec(id: String, member: String, startMs: Long, endMs: Long, latency: Double,
                      phases: Seq[Phase], catalyst: Map[String, Double],
                      failure: Option[String])

private final case class JobRec(id: Int, group: Option[String], startMs: Long, stages: Seq[Int])
private final case class StageRec(id: Int, startMs: Long, endMs: Long)
private final case class TaskRec(stage: Int, finishMs: Long, durMs: Long, runMs: Long,
                                 cpuNs: Long, gcMs: Long, shuffleBytes: Long,
                                 spillBytes: Long, inBytes: Long, inRecords: Long,
                                 outBytes: Long, outRecords: Long)
private final case class BatchRec(runId: String, startMs: Long, durMs: Long,
                                  phaseMs: Map[String, Long], stateRows: Long,
                                  stateBytes: Long, stateCommitMs: Long)

/** Spark's public listeners, attached by the benchmark for the traced
  * passes only. Events stay in memory until [[Tracer.report]]. */
final class Tracer(spark: SparkSession) {
  /** Job group of the execution in flight, read when a stream starts. */
  val current = new AtomicReference[String]()
  private val lastEvent = new AtomicLong(System.currentTimeMillis)
  private def touch(): Unit = lastEvent.set(System.currentTimeMillis)

  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val jobEnds = new ConcurrentHashMap[Int, java.lang.Long]
  private val stages = new ConcurrentLinkedQueue[StageRec]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val batches = new ConcurrentLinkedQueue[BatchRec]
  private val streamOwner = new ConcurrentHashMap[String, String]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs.add(JobRec(e.jobId, group, e.time, e.stageIds)); touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobEnds.put(e.jobId, e.time); touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
      touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.finishTime, e.taskInfo.duration,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      touch()
    }
  }

  private val batchListener = new StreamingQueryListener {
    import StreamingQueryListener._
    // called synchronously inside DataStreamWriter.start(), on the
    // thread running the member, so `current` names its execution
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Option(current.get).foreach(streamOwner.put(e.runId.toString, _))
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators
      batches.add(BatchRec(p.runId.toString, Instant.parse(p.timestamp).toEpochMilli,
        ms.getOrElse("triggerExecution", 0L), ms,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
      touch()
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(batchListener)
  }

  /** Detach once every started job has ended and the listener bus has
    * been quiet for a moment (events are delivered asynchronously). */
  def detach(): Unit = {
    val deadline = System.currentTimeMillis + 15000
    def settled = jobs.asScala.forall(j => jobEnds.containsKey(j.id)) &&
      System.currentTimeMillis - lastEvent.get > 500
    while (!settled && System.currentTimeMillis < deadline) Thread.sleep(50)
    spark.streams.removeListener(batchListener)
    spark.sparkContext.removeSparkListener(jobListener)
  }

  /** Per-execution layer totals and the span tree. Jobs are assigned to
    * an execution by job group; jobs Spark runs under its own group (a
    * stream's micro-batches, broadcast builds) by time, which is exact
    * because one client runs one execution at a time. */
  def report(execs: Seq[Exec]): (Map[String, Map[String, Double]], Seq[Map[String, Any]]) = {
    val byId = execs.map(e => e.id -> e).toMap
    def atTime(ms: Long): Option[Exec] = execs.find(e => ms >= e.startMs && ms <= e.endMs)
    val jobList = jobs.asScala.toSeq
    val jobExec: Map[Int, Exec] = jobList.flatMap { j =>
      j.group.flatMap(byId.get).orElse(atTime(j.startMs)).map(j.id -> _)
    }.toMap
    val jobEnd: Map[Int, Long] = jobList.map(j =>
      j.id -> Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.startMs)).toMap
    val stageJob: Map[Int, Int] = jobList.sortBy(_.id).reverse
      .flatMap(j => j.stages.map(_ -> j.id)).toMap
    def stageExec(stage: Int, ms: Long): Option[Exec] =
      stageJob.get(stage).flatMap(jobExec.get).orElse(atTime(ms))

    val taskBy = tasks.asScala.toSeq.groupBy(t => stageExec(t.stage, t.finishMs).map(_.id))
    val stageBy = stages.asScala.toSeq.groupBy(s => stageExec(s.id, s.endMs).map(_.id))
    val jobBy = jobList.groupBy(j => jobExec.get(j.id).map(_.id))
    val batchBy = batches.asScala.toSeq.groupBy(b =>
      Option(streamOwner.get(b.runId)).orElse(atTime(b.startMs).map(_.id)))

    val spans = Seq.newBuilder[Map[String, Any]]
    val totals = execs.map { e =>
      val key = Some(e.id)
      val ts = taskBy.getOrElse(key, Nil)
      val js = jobBy.getOrElse(key, Nil)
      val bs = batchBy.getOrElse(key, Nil)
      val jobIv = js.map(j => (j.startMs, jobEnd(j.id)))
      def phaseS(n: String) = e.phases.filter(_.name == n).map(_.seconds).sum
      val build = e.phases.find(_.name == "build")
      val lastBatch = bs.groupBy(_.runId).values.map(_.maxBy(_.startMs))
      val mb = 1e-6
      val m = Map[String, Double](
        "operators.build_s" -> phaseS("build"),
        "operators.eager_jobs" -> js.count(j => build.exists(b => j.startMs >= b.startMs && j.startMs <= b.endMs)).toDouble,
        "catalyst.plan_s" -> phaseS("plan"),
        "executor.exec_s" -> phaseS("exec"),
        "sources.write_s" -> phaseS("sink"),
        "sources.readback_s" -> phaseS("readback"),
        "scheduler.jobs" -> js.size.toDouble,
        "scheduler.stages" -> stageBy.getOrElse(key, Nil).size.toDouble,
        "scheduler.tasks" -> ts.size.toDouble,
        "scheduler.task_overhead_s" -> ts.map(t => math.max(0L, t.durMs - t.runMs)).sum / 1e3,
        "executor.run_s" -> ts.map(_.runMs).sum / 1e3,
        "executor.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "executor.gc_s" -> ts.map(_.gcMs).sum / 1e3,
        "executor.shuffle_mb" -> ts.map(_.shuffleBytes).sum * mb,
        "executor.spill_mb" -> ts.map(_.spillBytes).sum * mb,
        "sources.scan_mb" -> ts.map(_.inBytes).sum * mb,
        "sources.scan_rows" -> ts.map(_.inRecords).sum.toDouble,
        "sources.write_mb" -> ts.map(_.outBytes).sum * mb,
        "sources.write_tasks" -> ts.count(t => t.outBytes > 0 || t.outRecords > 0).toDouble,
        "driver.self_s" -> ((e.endMs - e.startMs) - Tracer.covered(e.startMs, e.endMs, jobIv)) / 1e3,
        "streaming.batches" -> bs.size.toDouble,
        "streaming.add_batch_ms" -> bs.map(_.phaseMs.getOrElse("addBatch", 0L)).sum.toDouble,
        "streaming.query_planning_ms" -> bs.map(_.phaseMs.getOrElse("queryPlanning", 0L)).sum.toDouble,
        "streaming.wal_commit_ms" -> bs.map(_.phaseMs.getOrElse("walCommit", 0L)).sum.toDouble,
        "streaming.latest_offset_ms" -> bs.map(_.phaseMs.getOrElse("latestOffset", 0L)).sum.toDouble,
        "streaming.state_rows" -> lastBatch.map(_.stateRows).sum.toDouble,
        "streaming.state_mb" -> lastBatch.map(_.stateBytes).sum * mb,
        "streaming.state_commit_ms" -> bs.map(_.stateCommitMs).sum.toDouble) ++ e.catalyst

      // span tree: execution -> phases -> (micro-batches ->) jobs ->
      // stages; a stream's micro-batches run inside its build phase
      val phaseSpans = e.phases.zipWithIndex.map { case (p, i) => (s"${e.id}/${p.name}.$i", p) }
      def phaseOf(ms: Long): String = phaseSpans.find { case (_, p) =>
        ms >= p.startMs && ms <= p.endMs }.map(_._1).getOrElse(e.id)
      val batchSpans = bs.map(b => (s"${e.id}/batch.${b.runId.take(8)}.${b.startMs}",
        phaseOf(b.startMs), b.startMs, b.startMs + b.durMs))
      // a micro-batch's jobs hang under the batch that ran them
      def parentOf(ms: Long): String = batchSpans.find { case (_, _, s, t) => ms >= s && ms <= t }
        .map(_._1).getOrElse(phaseOf(ms))
      val jobSpans = js.map(j => (s"${e.id}/job.${j.id}", parentOf(j.startMs), j.startMs, jobEnd(j.id)))
      val stageSpans = stageBy.getOrElse(key, Nil).map(st =>
        (s"${e.id}/stage.${st.id}", stageJob.get(st.id).map(j => s"${e.id}/job.$j").getOrElse(e.id),
          st.startMs, st.endMs))
      val all = (e.id, null, e.startMs, e.endMs) +:
        (phaseSpans.map { case (id, p) => (id, e.id, p.startMs, p.endMs) } ++
          jobSpans ++ stageSpans ++ batchSpans)
      val kids = all.groupBy(_._2)
      all.foreach { case (id, parent, s, t) =>
        val ch = kids.getOrElse(id, Nil).map(c => (c._3, c._4))
        spans += Map("trace" -> e.id, "span" -> id, "parent" -> parent,
          "start_ms" -> s, "end_ms" -> t, "self_ms" -> ((t - s) - Tracer.covered(s, t, ch)))
      }
      e.id -> m
    }
    (totals.toMap, spans.result())
  }
}

object Tracer {
  /** Length of [lo, hi] covered by the union of the intervals. */
  def covered(lo: Long, hi: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var end = Long.MinValue
    for ((a, b) <- clipped) {
      val from = math.max(a, end)
      if (b > from) total += b - from
      end = math.max(end, b)
    }
    total
  }
}
