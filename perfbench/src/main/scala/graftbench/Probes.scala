package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Totals of the Spark jobs finished in one window. */
final case class JobTotals(
    jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    cpuS: Double = 0, runS: Double = 0, gcS: Double = 0,
    shuffleWriteMb: Double = 0, shuffleReadMb: Double = 0, spillMb: Double = 0) {
  def +(o: JobTotals): JobTotals = JobTotals(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, cpuS + o.cpuS, runS + o.runS,
    gcS + o.gcS, shuffleWriteMb + o.shuffleWriteMb, shuffleReadMb + o.shuffleReadMb,
    spillMb + o.spillMb)
}

/** One finished job: the span whose job group started it (0 when the job
  * ran in no span's group) and its times in epoch ms, plus its task totals.
  */
final case class JobRecord(span: Long, startMs: Long, endMs: Long, totals: JobTotals)

/** SparkListener probe: jobs, stages, tasks, CPU, GC, shuffle and spill,
  * attributed to the benchmark span whose job group started the job.
  * Events arrive on the listener thread after the fact, so the probe only
  * reads what the event carries; jobs without a span group are placed by
  * their start time in [[SelfTime.table]]. Barrier jobs ([[Probes.drain]])
  * are not recorded.
  */
final class JobProbe extends SparkListener {
  private final class Open(val span: Long, val start: Long) {
    var stages = 0; var tasks = 0
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var sw = 0L; var sr = 0L; var spill = 0L
  }
  private val open = mutable.Map.empty[Int, Open]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val finished = mutable.ArrayBuffer.empty[JobRecord]
  private val history = mutable.ArrayBuffer.empty[JobRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null && group.startsWith(Probes.BarrierPrefix)) return
    val span = if (group != null && group.startsWith("span-")) group.stripPrefix("span-").toLong else 0L
    open(e.jobId) = new Open(span, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(open.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(open.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.sw += m.shuffleWriteMetrics.bytesWritten
        j.sr += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { j =>
      val rec = JobRecord(j.span, j.start, e.time, JobTotals(
        1, j.stages, j.tasks, j.cpuNs / 1e9, j.runMs / 1e3, j.gcMs / 1e3,
        j.sw / 1048576.0, j.sr / 1048576.0, j.spill / 1048576.0))
      finished += rec
      history += rec
      stageJob.filterInPlace((_, job) => job != e.jobId)
    }
  }

  /** Every finished job, for the self-time table. */
  def spanJobs: Seq[JobRecord] = synchronized(history.toSeq)

  /** Jobs finished since the previous call. */
  def take(): Seq[JobRecord] = synchronized {
    val r = finished.toSeq
    finished.clear()
    r
  }
}

/** Shape of the physical plans of the outputs a workload forces: shuffle
  * and broadcast exchanges, and operators that run outside whole-stage
  * codegen (adaptive and stage wrappers, codegen boundaries and exchanges
  * are not counted as operators).
  */
final case class PlanShape(exchanges: Int = 0, nonCodegen: Int = 0) {
  def +(o: PlanShape): PlanShape = PlanShape(exchanges + o.exchanges, nonCodegen + o.nonCodegen)
}

object PlanShape {
  private val wrappers = Set(
    "AQEShuffleReadExec", "ResultQueryStageExec", "CommandResultExec",
    "OverwriteByExpressionExec", "AppendDataExec", "WriteToDataSourceV2Exec",
    "V2TableWriteExec", "ExecutedCommandExec", "DataWritingCommandExec")

  def of(plan: SparkPlan): PlanShape = walk(plan, inCodegen = false)

  private def walk(p: SparkPlan, inCodegen: Boolean): PlanShape = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen = false)
    case q: QueryStageExec        => walk(q.plan, inCodegen = false)
    case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
    case i: InputAdapter          => walk(i.child, inCodegen = false)
    case _: ReusedExchangeExec    => PlanShape()
    case e: Exchange =>
      e.children.map(walk(_, inCodegen = false)).foldLeft(PlanShape(1, 0))(_ + _)
    case other =>
      val self =
        if (inCodegen || wrappers.contains(other.getClass.getSimpleName)) 0 else 1
      other.children.map(walk(_, inCodegen)).foldLeft(PlanShape(0, self))(_ + _)
  }
}

/** QueryExecutionListener probe: the plan shape of every successful
  * action (write, collect, count).
  */
final class PlanProbe extends QueryExecutionListener {
  private val shapes = mutable.ArrayBuffer.empty[PlanShape]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = try PlanShape.of(qe.executedPlan) catch { case _: Exception => PlanShape() }
    synchronized { shapes += s }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Plan shapes of the actions finished since the previous call. */
  def take(): Seq[PlanShape] = synchronized {
    val r = shapes.toSeq
    shapes.clear()
    r
  }
}

object Probes {
  val BarrierPrefix = "perfbench-barrier-"
  private var n = 0

  /** Returns once every listener event posted before the call has been
    * delivered: runs a one-task job and waits for the shared listener
    * queue to hand its end event to `watcher`.
    */
  def drain(sc: SparkContext, watcher: BarrierWatcher): Unit = {
    n += 1
    val tag = s"$BarrierPrefix$n"
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("spark.jobGroup.id", prevGroup)
    watcher.await(tag)
  }
}

/** Sees barrier job ends on the shared listener queue. */
final class BarrierWatcher extends SparkListener {
  private val groups = mutable.Map.empty[Int, String]
  private val ended = mutable.Set.empty[String]
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith(Probes.BarrierPrefix)) groups(e.jobId) = g
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    groups.remove(e.jobId).foreach { g => ended += g; notifyAll() }
  }
  def await(tag: String): Unit = synchronized {
    val deadline = System.currentTimeMillis() + 30000L
    while (!ended.contains(tag) && System.currentTimeMillis() < deadline) wait(50L)
    ended -= tag
  }
}
