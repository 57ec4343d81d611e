package graftbench

import org.apache.spark.SparkContext

import scala.collection.mutable

/** A finished span. Times are ns since the tracer's origin; `parent` is 0
  * for a root span; `iter` is the request or iteration id (-1 when none).
  */
final case class Span(
    id: Long, parent: Long, name: String, layer: String, iter: Long,
    start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder. When disabled, `span` only runs its body.
  *
  * Each span installs its own Spark job group (`span-<id>`) for its
  * duration, so the [[JobProbe]] can attribute every Spark job started on
  * the driving thread to the innermost enclosing span. Jobs started on
  * other threads (streaming micro-batches) carry no span group;
  * [[SelfTime.table]] gives each to the innermost span open at its start.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private var current = 0L
  private var nextId = 1L
  private val done = mutable.ArrayBuffer.empty[Span]
  val originNs: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()

  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"

  def span[T](name: String, layer: String, iter: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val parent = current
      val prevGroup = sc.getLocalProperty(GroupKey)
      val prevDesc = sc.getLocalProperty(DescKey)
      sc.setLocalProperty(GroupKey, s"span-$id")
      sc.setLocalProperty(DescKey, name)
      current = id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current = parent
        sc.setLocalProperty(GroupKey, prevGroup)
        sc.setLocalProperty(DescKey, prevDesc)
        synchronized { done += Span(id, parent, name, layer, iter, t0 - originNs, t1 - originNs) }
      }
    }

  def spans: Seq[Span] = synchronized(done.toSeq)

  /** Converts an epoch-ms instant (Spark listener clock) to tracer ns. */
  def fromEpochMs(ms: Long): Long = (ms - originEpochMs) * 1000000L
}

/** Per-layer self time: a span's duration minus the part of it that its
  * child spans and the Spark jobs attributed to it cover.
  */
object SelfTime {
  final case class Row(layer: String, spans: Int, totalMs: Double, selfMs: Double)

  /** `jobs` are (span id from the job group, start ns, end ns) of Spark
    * jobs. A job with span id 0 belongs to the innermost span whose
    * [start, end] holds its start, if any. The union of a span's jobs is
    * reported as layer `spark.jobs`.
    */
  def table(spans: Seq[Span], jobs: Seq[(Long, Long, Long)]): Seq[Row] = {
    val kids = spans.groupBy(_.parent)
    def owner(job: (Long, Long, Long)): Long =
      if (job._1 != 0) job._1
      else spans.filter(s => s.start <= job._2 && job._2 <= s.end).maxByOption(_.start).fold(0L)(_.id)
    val jobsBy = jobs.groupBy(owner)
    val rows = mutable.LinkedHashMap.empty[String, (Int, Double, Double)]
    def add(layer: String, n: Int, total: Double, self: Double): Unit = {
      val (a, b, c) = rows.getOrElse(layer, (0, 0.0, 0.0))
      rows(layer) = (a + n, b + total, c + self)
    }
    spans.foreach { s =>
      val clip = (iv: (Long, Long)) => (math.max(iv._1, s.start), math.min(iv._2, s.end))
      val childIv = kids.getOrElse(s.id, Nil).map(c => clip((c.start, c.end)))
      val jobIv = jobsBy.getOrElse(s.id, Nil).map(j => clip((j._2, j._3))).filter(iv => iv._2 > iv._1)
      val covered = Stats.covered(childIv ++ jobIv)
      add(s.layer, 1, s.durNs / 1e6, (s.durNs - covered) / 1e6)
      if (jobIv.nonEmpty) {
        val jobNs = Stats.covered(jobIv).toDouble
        add("spark.jobs", jobIv.size, jobNs / 1e6, jobNs / 1e6)
      }
    }
    rows.toSeq.map { case (l, (n, t, s)) => Row(l, n, t, s) }
  }
}
