package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** What one Spark-using operation cost, read from the probes. */
final case class OpSample(wallS: Double, jobs: Seq[JobRecord], plans: Seq[PlanShape]) {
  def totals: JobTotals = jobs.map(_.totals).foldLeft(JobTotals())(_ + _)
  def shape: PlanShape = plans.foldLeft(PlanShape())(_ + _)
  /** Wall ms during which at least one job of the operation ran. */
  def execMs: Double = Stats.covered(jobs.map(j => (j.startMs, j.endMs))).toDouble
}

/** Everything a workload needs: the session, its inputs' seed, the run
  * length, the probes, and the sinks for what it reports.
  */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val work: File,
    val cores: Int) {
  val tracer = new Tracer(spark.sparkContext)
  val jobProbe = new JobProbe
  val planProbe = new PlanProbe
  private val watcher = new BarrierWatcher
  if (trace) {
    spark.sparkContext.addSparkListener(jobProbe)
    spark.sparkContext.addSparkListener(watcher)
    spark.listenerManager.register(planProbe)
  }

  /** End-to-end metrics under the benchmark's contract names. */
  val e2e = new Metrics
  /** End-to-end metrics under this workload's own names. */
  val report = new Metrics
  /** Per-layer metrics shared by every workload (traced run). */
  val perLayer = new Metrics
  /** Per-layer metrics of this workload's own layers (traced run). */
  val layers = new Metrics
  /** Output checks left to the caller: JSON objects. */
  val checks = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  private val born = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since the JVM started. */
  def sinceStart: Double = (System.currentTimeMillis() - born) / 1e3

  /** Logs a phase boundary with seconds since the JVM started. */
  def phase(what: String): Unit = System.err.println(f"[perfbench] $sinceStart%7.2f s  $what")

  private var cpu0: Option[(Long, Long)] = None

  /** Marks the start of the timed window: process start to first timed
    * operation (JVM and Spark start, every set-up, the warm-up), reported
    * beside `setup_s`.
    */
  def timedFromHere(): Unit = {
    phase("warmed up")
    e2e("start_to_first_op_s") = (sinceStart, "s")
    report("start_to_first_op_s") = (sinceStart, "s")
    cpu0 = Clock.cpuJiffies()
  }

  /** Marks the end of the timed window. Reports the share of the host's
    * CPU time the hypervisor took from this machine meanwhile (Linux
    * steal time): a run measured while neighbours were busy shows here.
    */
  def timedDone(): Unit = {
    phase("measured")
    for ((t0, s0) <- cpu0; (t1, s1) <- Clock.cpuJiffies() if t1 > t0)
      report("host.steal_ratio") = ((s1 - s0).toDouble / (t1 - t0), "ratio")
  }

  def path(name: String): String = new File(work, name).getAbsolutePath

  /** Runs `body` as one probed operation. In a traced run the probes are
    * drained afterwards, so the sample holds exactly this operation's jobs
    * and plans; untraced, the sample is empty.
    */
  def probed[T](body: => T): (T, OpSample) = {
    val t0 = Clock.now
    val r = body
    val wall = Clock.sec(t0, Clock.now)
    if (!trace) return (r, OpSample(wall, Nil, Nil))
    Probes.drain(spark.sparkContext, watcher)
    (r, OpSample(wall, jobProbe.take(), planProbe.take()))
  }

  /** Discards whatever the probes saw so far. */
  def resetProbes(): Unit = if (trace) {
    Probes.drain(spark.sparkContext, watcher)
    jobProbe.take(); planProbe.take()
  }

  /** The Spark per-layer metrics every workload reports: medians over the
    * workload's Spark-using operations.
    */
  def sparkLayer(ops: Seq[OpSample]): Unit = {
    def med(f: OpSample => Double): Double = Stats.median(ops.map(f))
    perLayer("spark.exec_ms") = (med(_.execMs), "ms")
    perLayer("spark.jobs") = (med(_.totals.jobs.toDouble), "count")
    perLayer("spark.stages") = (med(_.totals.stages.toDouble), "count")
    perLayer("spark.tasks") = (med(_.totals.tasks.toDouble), "count")
    perLayer("spark.task_cpu_s") = (med(_.totals.cpuS), "s")
    perLayer("spark.task_run_s") = (med(_.totals.runS), "s")
    layers("spark.gc_s") = (med(_.totals.gcS), "s")
    perLayer("spark.shuffle_write_mb") = (med(_.totals.shuffleWriteMb), "MiB")
    perLayer("spark.shuffle_read_mb") = (med(_.totals.shuffleReadMb), "MiB")
    layers("spark.spill_mb") = (med(_.totals.spillMb), "MiB")
    perLayer("spark.busy_ratio") = (med(o => o.totals.runS / (o.wallS * cores)), "ratio")
    perLayer("spark.exchanges") = (med(_.shape.exchanges.toDouble), "count")
    perLayer("spark.non_codegen_nodes") = (med(_.shape.nonCodegen.toDouble), "count")
  }

  /** The traced run's timed window: operations alternate between untraced
    * (even i) and traced (odd i), so both halves see the same JIT and heap
    * state; there is at least one of each. Records the tracing overhead and returns the traced samples
    * with the loop's counts.
    */
  def alternate(op: Int => OpSample, log: Boolean = true): (Seq[OpSample], Loop) = {
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[OpSample]
    resetProbes()
    val loop = new Loop(seconds, log, minOps = 2).run { i =>
      tracer.enabled = i % 2 == 1
      try {
        val s = op(i)
        if (tracer.enabled) traced += s else untraced += s.wallS
      } finally tracer.enabled = false
    }
    overhead(untraced.toSeq, traced.map(_.wallS).toSeq)
    (traced.toSeq, loop)
  }

  /** Records traced-versus-untraced medians of the same operation. */
  def overhead(untracedS: Seq[Double], tracedS: Seq[Double]): Unit = {
    val u = Stats.median(untracedS)
    val t = Stats.median(tracedS)
    perLayer("trace.overhead_ratio") = (t / u, "ratio")
    layers("trace.untraced_op_ms") = (u * 1e3, "ms")
    layers("trace.traced_op_ms") = (t * 1e3, "ms")
  }

  /** Writes `df` as parquet to `name` under the work directory (inputs
    * under `data/`, checked outputs under `out/`); returns the path.
    */
  def writeParquet(df: DataFrame, name: String): String = {
    val p = path(name)
    df.write.mode("overwrite").parquet(p)
    p
  }

  def forceNoop(df: DataFrame): Unit =
    tracer.span("spark.noop_write", "spark") {
      df.write.format("noop").mode("overwrite").save()
    }
}

trait Workload {
  def name: String
  def run(ctx: Ctx): Unit
}

object Main {
  val workloads: Seq[Workload] = Seq(OfflinePit, OnlineServe, StreamSliding, CorpusDedup)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = workloads.find(_.name == opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}"))
    val work = new File(opts("work")).getAbsoluteFile
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val trace = opts.getOrElse("trace", "0") == "1"

    val spark = session(cores, work)
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toDouble, trace, work, cores)
    ctx.phase("session ready")
    try {
      wl.run(ctx)
      ctx.phase("done")
      val spans = ctx.tracer.spans
      val selfRows = if (trace) SelfTime.table(spans, ctx.jobProbe.spanJobs.map(j =>
        (j.span, ctx.tracer.fromEpochMs(j.startMs), ctx.tracer.fromEpochMs(j.endMs)))) else Nil
      if (trace) writeSpans(new File(work, "spans.json"), spans)
      val result = JsonWriter.obj(Seq(
        "workload" -> JsonWriter.str(wl.name),
        "attempted" -> ctx.attempted.toString,
        "failed" -> ctx.failed.toString,
        "e2e" -> ctx.e2e.json,
        "report" -> ctx.report.json,
        "per_layer" -> ctx.perLayer.json,
        "layers" -> ctx.layers.json,
        "self_time" -> JsonWriter.arr(selfRows.map(r => JsonWriter.obj(Seq(
          "layer" -> JsonWriter.str(r.layer), "spans" -> r.spans.toString,
          "total_ms" -> JsonWriter.num(r.totalMs), "self_ms" -> JsonWriter.num(r.selfMs))))),
        "checks" -> JsonWriter.arr(ctx.checks.toSeq)))
      Files.write(new File(work, "result.json").toPath, result.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  /** The session Bench times: local[cores], shuffle partitions = cores,
    * UTC, nanos-as-long parquet reads and the 64k AQE coalesce floor. All
    * scratch space stays inside the work directory.
    */
  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(work, "checkpoints").getAbsolutePath)
    spark
  }

  private def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("[")
      spans.sortBy(_.start).zipWithIndex.foreach { case (s, i) =>
        w.print(JsonWriter.obj(Seq(
          "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> JsonWriter.str(s.name),
          "layer" -> JsonWriter.str(s.layer), "iter" -> s.iter.toString,
          "start_us" -> (s.start / 1000).toString, "end_us" -> (s.end / 1000).toString)))
        w.println(if (i + 1 < spans.size) "," else "")
      }
      w.println("]")
    } finally w.close()
  }
}
