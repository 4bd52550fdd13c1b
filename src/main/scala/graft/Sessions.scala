package graft

import org.apache.spark.sql.SparkSession

/** Session defaults shared by Verify / Bench / tests (SURVEY §4).
  *
  * These are the knobs that decide whether the declarative plans here
  * survive a 100× scale-up: AQE re-plans shuffles at runtime (coalesce,
  * skew-split, broadcast demotion/promotion), the broadcast threshold
  * bounds what the planner may replicate, and shuffle partitions are
  * sized to the local core count (on a real cluster this would be
  * 2–3× total executor cores, or left to AQE's coalescing).
  */
object Sessions {

  def builder(master: String, cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // HotSpot refuses to JIT methods over 8000 bytecodes
      // (-XX:DontCompileHugeMethods), so a whole-stage-codegen method
      // past that limit runs in the BYTECODE INTERPRETER — measured
      // 2-6x on the wide fused signal projections (snr_fft 7.6→2.2 s,
      // waveform_poly_correct 20→5 s at sf0.1). Capping Spark's limit
      // at the JIT threshold makes such stages fall back to
      // per-expression split-method codegen, which JITs fine. The
      // round-7 propagation_table stage break solved one instance by
      // hand; this is the general guard.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.session.timeZone", "UTC")
      // The ingest width boost (Tables.rd) adds a round-robin exchange
      // on under-split scans; by default Spark locally sorts every row
      // of the input first so a RETRIED map task deals rows to the
      // same partitions (SPARK-23207). We don't need that repair
      // path: every operator here is partition-assignment-invariant
      // (pinned by the determinism spec), and Spark still guards
      // correctness by re-running the whole stage when an unsorted
      // round-robin map task fails. Skipping the sort shaves a
      // measurable slice of the per-scan exchange cost (quality_all
      // 1.27 -> 0.95 s at sf0.1).
      .config("spark.sql.execution.sortBeforeRepartition", "false")
      // driver testdata carries TIMESTAMP(NANOS) parquet, which Spark
      // only reads as raw nanos-since-epoch longs (ts -> bigint).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** Standard local session: `local[cpus]` from SPARK_GRAFT_CPUS,
    * defaulting to every available core. The default used to be 4,
    * which silently ran any harness that did not export the env var —
    * including the per-round driver bench — at local[4] on a 32-core
    * box: CPU-bound queries showed 2-10x the quiet-record wall with
    * identical core-seconds (the rounds-7-9 "driver anomaly" pattern).
    * A bench main should saturate the machine it is given unless told
    * otherwise. */
  def local(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
