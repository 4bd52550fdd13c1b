package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.Sessions
import graft.operators.Caches

/** The benchmark's JVM side: sets up the workload's session and
  * artifacts, runs fixed warmup passes, then timed passes for the
  * requested seconds, checks every result, and prints one result line.
  * Run it through `perfbench/run.py`, which builds it and passes the
  * data and scratch directories. */
object Main {
  /** Executor threads: the session runs at local[Cores]. On a 4-core
    * machine this leaves one core to the driver thread, the JIT and the
    * GC, so that a stage's tasks do not wait on them. */
  val Cores = 3
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Untimed, checked passes before timing starts. */
  val WarmupPasses = 3
  /** Timed passes per run, at least, whatever `--seconds` says. They
    * take longer than the benchmark's `--seconds` on a 4-core machine,
    * so every run times the same passes: latencies still fall from pass
    * to pass, and a window of fixed length would time a slow run's
    * passes earlier on that curve than a fast run's. */
  val MinPasses = 4
  /** Untraced/traced pass pairs per traced run, at least. */
  val MinTracedPairs = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, expected: String, spans: String,
                        commit: String, pin: Option[String])

  final case class Setup(phases: Seq[Phase], artifactMb: Double) {
    def seconds: Double = phases.map(_.seconds).sum
  }

  final case class Pass(index: Int, wall: Double, execs: Seq[Exec], storageMb: Double)

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val nproc = Runtime.getRuntime.availableProcessors
    if (Cores > nproc) {
      System.err.println(s"refusing to run: local[$Cores] needs $Cores cores, nproc is $nproc")
      sys.exit(2)
    }
    a.pin match {
      case Some(out) => pin(a, out)
      case None =>
        val w = Workloads.byName(a.workload).getOrElse {
          System.err.println(s"unknown workload ${a.workload}; known: ${Workloads.all.map(_.name).mkString(", ")}")
          sys.exit(2)
        }
        run(a, w)
    }
  }

  private def parseArgs(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv.getOrElse("workload", ""), kv.getOrElse("seed", "0").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      kv("data"), kv("work"), kv("expected"), kv.getOrElse("spans", ""),
      kv.getOrElse("commit", "unknown"), kv.get("pin"))
  }

  private def secsSince(t0: Long): Double = (System.nanoTime - t0) / 1e9

  private val jvmStart = System.nanoTime
  private def progress(msg: String): Unit =
    System.err.println(f"[perfbench ${secsSince(jvmStart)}%7.2f s] $msg")

  private def timed[T](into: ArrayBuffer[Phase], name: String)(body: => T): T = {
    val ms = System.currentTimeMillis
    val t0 = System.nanoTime
    try body finally into += Phase(name, ms, System.currentTimeMillis, secsSince(t0))
  }

  def storageMb(s: SparkSession): Double =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Session start plus the workload's declared artifact builds, done
    * `reps` times from a stopped session and cleared caches; the last
    * session stays up for the passes. */
  def setUp(artifacts: Seq[String], dir: String, reps: Int): (SparkSession, Seq[Setup]) = {
    var spark: SparkSession = null
    val setups = (1 to reps).map { _ =>
      if (spark != null) { Caches.clearAll(); spark.stop() }
      val phases = ArrayBuffer[Phase]()
      spark = timed(phases, "Sessions.start")(Sessions.local())
      val master = spark.sparkContext.master
      require(master == s"local[$Cores]", s"session runs at $master, expected local[$Cores]")
      for ((family, build) <- Workloads.artifactBuilds if artifacts.contains(family))
        timed(phases, s"operators.artifact.$family")(build(spark, dir))
      val setup = Setup(phases.toSeq, storageMb(spark))
      progress(f"setup ${setup.seconds}%.2f s")
      setup
    }
    (spark, setups)
  }

  /** Analysis/optimization/planning phase times, plus counts over the
    * final (post-AQE) physical plan when the plan was executed. */
  def catalyst(df: DataFrame, withPlan: Boolean): Map[String, Double] = {
    val qe = df.queryExecution
    val phases = qe.tracker.phases
    def ms(k: String) = phases.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val base = Map("catalyst.analysis_ms" -> ms("analysis"),
      "catalyst.optimization_ms" -> ms("optimization"), "catalyst.planning_ms" -> ms("planning"))
    if (!withPlan) base
    else {
      def nodes(p: SparkPlan): Seq[SparkPlan] = {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case _ => p.children
        }
        p +: (kids ++ p.subqueries).flatMap(nodes)
      }
      val all = nodes(qe.executedPlan)
      def n(f: PartialFunction[SparkPlan, Boolean]) = all.count(f.applyOrElse(_, (_: SparkPlan) => false)).toDouble
      base ++ Map(
        "catalyst.exchanges" -> n { case _: ShuffleExchangeLike => true },
        "catalyst.broadcast_exchanges" -> n { case _: BroadcastExchangeLike => true },
        "catalyst.scans" -> n { case _: FileSourceScanExec | _: BatchScanExec => true },
        "catalyst.bnlj" -> n { case _: BroadcastNestedLoopJoinExec => true })
    }
  }

  private def countFiles(dir: String): Double = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.startsWith("part-")) 1 else 0
    walk(new File(dir)).toDouble
  }

  /** Runs one member: build, then plan + exec for a query, or sink +
    * readback for a product. Returns the execution and its digest. */
  def execute(spark: SparkSession, m: Workloads.Member, id: String,
              a: Args, tracer: Option[Tracer]): (Exec, Either[String, Digest]) = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, m.name)
    tracer.foreach(_.current.set(id))
    val phases = ArrayBuffer[Phase]()
    var cat = Map.empty[String, Double]
    val startMs = System.currentTimeMillis
    val t0 = System.nanoTime
    val result: Either[String, Digest] = try {
      val df = timed(phases, "build")(Workloads.build(m, spark, a.data))
      m match {
        case _: Workloads.Query =>
          timed(phases, "plan")(df.queryExecution.executedPlan)
          val d = timed(phases, "exec")(RowDigest.of(df))
          if (tracer.isDefined) cat = catalyst(df, withPlan = true)
          Right(d)
        case p: Workloads.Product =>
          val out = s"${a.work}/publish/${p.name}"
          timed(phases, "sink")(p.write(df, out))
          val d = timed(phases, "readback")(RowDigest.of(p.read(spark, df, out)))
          if (tracer.isDefined)
            cat = catalyst(df, withPlan = false) + ("sources.files_written" -> countFiles(out))
          Right(d)
      }
    } catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val latency = secsSince(t0)
    val endMs = System.currentTimeMillis
    sc.clearJobGroup()
    tracer.foreach(_.current.set(null))
    (Exec(id, m.name, startMs, endMs, latency, phases.toSeq, cat,
      result.left.toOption), result)
  }

  private def loadExpected(path: String): Map[String, Digest] = {
    val JObject(fields) = parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8")) \ "results"
    fields.map { case (k, v) =>
      val JInt(rows) = v \ "rows"
      val JString(hex) = v \ "hash"
      k -> Digest(rows.toLong, java.lang.Long.parseUnsignedLong(hex, 16))
    }.toMap
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def run(a: Args, w: Workloads.Workload): Unit = {
    val expected = loadExpected(a.expected)
    val failures = ArrayBuffer[(String, String)]()
    val (spark, setups) = setUp(w.artifacts, a.data, SetupReps)

    def pass(index: Int, tracer: Option[Tracer]): Pass = {
      val order = new Random(a.seed * 1000003L + index).shuffle(w.members)
      val t0 = System.nanoTime
      val execs = order.zipWithIndex.map { case (m, i) =>
        val (e, r) = execute(spark, m, s"${w.name}.p$index.$i.${m.name}", a, tracer)
        val verdict = r.flatMap { d =>
          expected.get(m.query) match {
            case None => Left("no expected digest")
            case Some(x) if x != d =>
              Left(s"digest mismatch: rows=${d.rows} hash=${d.hashHex}, expected rows=${x.rows} hash=${x.hashHex}")
            case _ => Right(d)
          }
        }
        verdict.left.foreach(msg => failures += (s"${m.name}@pass$index" -> msg))
        e.copy(failure = verdict.left.toOption)
      }
      val p = Pass(index, secsSince(t0), execs, storageMb(spark))
      progress(f"pass $index ${p.wall}%.2f s")
      p
    }

    def window(): Seq[Pass] = {
      val t0 = System.nanoTime
      val out = ArrayBuffer[Pass]()
      while (out.size < MinPasses || secsSince(t0) < a.seconds) out += pass(out.size, None)
      out.toSeq
    }

    val warmups = (1 to WarmupPasses).map(i => pass(-i, None))
    // a traced run alternates untraced and traced passes, so both see
    // the same warm-up state and their difference is the tracing cost
    val (timed, traced) = if (!a.trace) (window(), Nil) else {
      val tracer = new Tracer(spark)
      val t0 = System.nanoTime
      val pairs = ArrayBuffer[(Pass, Pass)]()
      while (pairs.size < MinTracedPairs || secsSince(t0) < a.seconds) {
        val plain = pass(2 * pairs.size, None)
        tracer.attach()
        val withTrace = pass(2 * pairs.size + 1, Some(tracer))
        tracer.detach()
        pairs += ((plain, withTrace))
      }
      val (perExec, spans) = tracer.report(pairs.toSeq.flatMap(_._2.execs))
      writeSpans(a, setups, spans)
      (pairs.toSeq.map(_._1), pairs.toSeq.map(p => (p._2, perExec)))
    }

    val measured = timed ++ traced.map(_._1)
    val attempted = measured.map(_.execs.size).sum
    val failed = measured.map(_.execs.count(_.failure.isDefined)).sum
    val latencies = timed.flatMap(_.execs.map(_.latency))
    val perQuery = timed.flatMap(_.execs).groupBy(_.member).map { case (n, es) => n -> median(es.map(_.latency)) }
    val setupS = median(setups.map(_.seconds))
    val wallS = median(timed.map(_.wall))

    val metrics: Seq[(String, Double)] =
      if (!a.trace) Seq(
        "setup_s" -> setupS,
        "wall_s" -> wallS,
        "total_s" -> (setupS + wallS),
        "query_geomean_s" -> math.exp(perQuery.values.map(math.log).sum / perQuery.size))
      else layerMetrics(setups, timed, traced, attempted, failed)

    // the highest whole percentile with at least ten samples beyond it;
    // with a few dozen executions per run it sits near the median, so the
    // detail also gives the slowest execution of each pass
    val tailPct = math.floor(100 * (1 - 10.0 / latencies.size)).toInt
    val detail = JObject(
      "workload" -> JString(w.name), "seed" -> JLong(a.seed), "trace" -> JBool(a.trace),
      "commit" -> JString(a.commit), "nproc" -> JInt(Runtime.getRuntime.availableProcessors),
      "master" -> JString(spark.sparkContext.master),
      "heap_mb" -> JLong(Runtime.getRuntime.maxMemory / (1 << 20)),
      "jvm" -> JString(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"),
      "spark" -> JString(spark.version), "data" -> JString(a.data),
      "members" -> JArray(w.members.map(m => JString(m.name)).toList),
      "setup_reps" -> JInt(SetupReps), "warmup_passes" -> JInt(WarmupPasses),
      "timed_passes" -> JInt(timed.size), "traced_passes" -> JInt(traced.size),
      "setup_s" -> JArray(setups.map(x => JDouble(x.seconds)).toList),
      "pass_wall_s" -> JArray((timed ++ traced.map(_._1)).sortBy(_.index).map(p => JDouble(p.wall)).toList),
      "query_p50_s" -> JDouble(median(latencies)),
      "tail" -> JObject("slowest_per_pass_s" -> JArray(timed.map(p => JDouble(p.execs.map(_.latency).max)).toList),
        "samples" -> JInt(latencies.size), "percentile_with_10_beyond" -> (
          if (tailPct > 0) JObject("p" -> JInt(tailPct), "value_s" -> JDouble(quantile(latencies, tailPct / 100.0)))
          else JNull)),
      "latency_s" -> JObject((warmups ++ timed).flatMap(_.execs).groupBy(_.member).toList.sortBy(_._1)
        .map { case (k, es) => k -> JArray(es.map(e => JDouble(e.latency)).toList) }),
      "per_query_median_s" -> JObject(perQuery.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }),
      "failures" -> JArray(failures.toList.take(50).map { case (k, v) => JObject(k -> JString(v)) }),
      "spans" -> JString(if (a.trace) a.spans else ""))
    println("PERFBENCH_DETAIL " + compact(render(detail)))
    val result = JObject(
      "correct" -> JBool(failures.isEmpty), "attempted" -> JInt(attempted), "failed" -> JInt(failed),
      "metrics" -> JObject(metrics.toList.map { case (k, v) =>
        k -> JObject("value" -> JDouble(v), "unit" -> JString(unit(k))) }))
    println("PERFBENCH_RESULT " + compact(render(result)))
    Caches.clearAll()
    spark.stop()
    progress("stopped")
  }

  /** Unit by name suffix: `_s` seconds, `_ms` milliseconds, `_mb` MB,
    * ratios by name, everything else a count. */
  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms" else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb") || name.endsWith("_mb_growth")) "MB"
    else if (name.endsWith("ratio") || name.endsWith("coverage")) "ratio" else "count"

  /** Every per-layer metric, in report order. Layers that do no work on
    * a workload report 0. */
  val LayerMetrics: Seq[String] = Seq(
    "Sessions.start_s",
    "operators.artifact_s.TextOps", "operators.artifact_s.AnnOps",
    "operators.artifact_s.GeoOps", "operators.artifact_s.MixOps",
    "operators.artifact_mb", "operators.build_s", "operators.eager_jobs",
    "operators.cached_mb", "operators.retained_mb_growth",
    "catalyst.plan_s", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.exchanges", "catalyst.broadcast_exchanges",
    "catalyst.scans", "catalyst.bnlj",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.task_overhead_s",
    "executor.exec_s", "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "executor.shuffle_mb", "executor.spill_mb", "executor.busy_ratio",
    "sources.scan_mb", "sources.scan_rows", "sources.write_s", "sources.write_mb",
    "sources.files_written", "sources.write_tasks", "sources.readback_s",
    "driver.self_s",
    "streaming.batches", "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.latest_offset_ms", "streaming.state_rows",
    "streaming.state_mb", "streaming.state_commit_ms",
    "check.fail_ratio",
    "trace.untraced_wall_s", "trace.traced_wall_s", "trace.overhead_s", "trace.coverage")

  private def layerMetrics(setups: Seq[Setup], timed: Seq[Pass],
                           traced: Seq[(Pass, Map[String, Map[String, Double]])],
                           attempted: Int, failed: Int): Seq[(String, Double)] = {
    def setupMedian(phase: String) = median(setups.map(_.phases.filter(_.name == phase).map(_.seconds).sum))
    val perPass: Seq[Map[String, Double]] = traced.map { case (p, perExec) =>
      val sums = p.execs.flatMap(e => perExec.getOrElse(e.id, Map.empty)).groupMapReduce(_._1)(_._2)(_ + _)
      val covered = p.execs.flatMap(_.phases.map(_.seconds)).sum
      sums ++ Map(
        "executor.busy_ratio" -> sums.getOrElse("executor.run_s", 0.0) / (p.wall * Cores),
        "trace.coverage" -> covered / p.wall)
    }
    def passMedian(k: String) = median(perPass.map(_.getOrElse(k, 0.0)))
    val storage = (timed ++ traced.map(_._1)).sortBy(_.index).map(_.storageMb)
    val untracedWall = median(timed.map(_.wall))
    val tracedWall = median(traced.map(_._1.wall))
    val fixed = Map(
      "Sessions.start_s" -> setupMedian("Sessions.start"),
      "operators.artifact_mb" -> median(setups.map(_.artifactMb)),
      "operators.cached_mb" -> storage.last,
      "operators.retained_mb_growth" -> median(storage.sliding(2).collect { case Seq(x, y) => y - x }.toSeq),
      "check.fail_ratio" -> failed.toDouble / attempted,
      "trace.untraced_wall_s" -> untracedWall,
      "trace.traced_wall_s" -> tracedWall,
      "trace.overhead_s" -> (tracedWall - untracedWall)) ++
      Workloads.artifactBuilds.map { case (f, _) => s"operators.artifact_s.$f" -> setupMedian(s"operators.artifact.$f") }
    LayerMetrics.map(k => k -> fixed.getOrElse(k, passMedian(k)))
  }

  private def writeSpans(a: Args, setups: Seq[Setup], spans: Seq[Map[String, Any]]): Unit = {
    if (a.spans.isEmpty) return
    val setupSpans = setups.zipWithIndex.flatMap { case (s, i) =>
      s.phases.map(p => JObject("trace" -> JString(s"setup.$i"), "span" -> JString(s"setup.$i/${p.name}"),
        "parent" -> JString(s"setup.$i"), "start_ms" -> JLong(p.startMs), "end_ms" -> JLong(p.endMs),
        "self_ms" -> JLong(p.endMs - p.startMs)))
    }
    def js(v: Any): JValue = v match {
      case null => JNull
      case s: String => JString(s)
      case l: Long => JLong(l)
      case x => JString(x.toString)
    }
    val out = setupSpans ++ spans.map(m => JObject(m.toList.map { case (k, v) => k -> js(v) }))
    Files.createDirectories(Paths.get(a.spans).getParent)
    Files.write(Paths.get(a.spans), compact(render(JArray(out.toList))).getBytes("UTF-8"))
  }

  /** Writes the expected digest of every query any workload runs; two
    * executions must agree before a value is pinned. Products are
    * checked against their query's digest, since the sinks round-trip
    * the result exactly. */
  private def pin(a: Args, out: String): Unit = {
    val (spark, _) = setUp(Workloads.all.flatMap(_.artifacts).distinct, a.data, 1)
    val pinned = Workloads.all.flatMap(_.members).map(_.query).distinct.sorted.map { q =>
      val ds = (0 to 1).map(i => execute(spark, Workloads.Query(q), s"pin.$i.$q", a, None)._2)
      val d = ds.head.fold(err => sys.error(s"$q failed: $err"), identity)
      require(ds.forall(_ == Right(d)), s"$q: digest differs between executions: $ds")
      q -> JObject("rows" -> JLong(d.rows), "hash" -> JString(d.hashHex))
    }
    val doc = JObject("data" -> JString(new File(a.data).getName),
      "digest" -> JString("row count + wrapping sum of xxHash64(seed 42) over UnsafeRow bytes"),
      "results" -> JObject(pinned.toList))
    Files.write(Paths.get(out), (compact(render(doc)) + "\n").getBytes("UTF-8"))
    Caches.clearAll()
    spark.stop()
  }
}
