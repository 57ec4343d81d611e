package graftbench

import scala.collection.mutable

/** One reported number: name, value as measured, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Ordered metric sink with `name -> (value, unit)` entries. */
final class Metrics {
  private val items = mutable.LinkedHashMap.empty[String, Metric]
  def update(name: String, valueUnit: (Double, String)): Unit =
    items(name) = Metric(name, valueUnit._1, valueUnit._2)
  def all: Seq[Metric] = items.values.toSeq
  def json: String = JsonWriter.obj(all.map(m =>
    m.name -> JsonWriter.obj(Seq("value" -> JsonWriter.num(m.value), "unit" -> JsonWriter.str(m.unit)))))
}

object JsonWriter {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var s = Long.MinValue
    var e = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > e) { if (e > s) total += e - s; s = a; e = b }
      else if (b > e) e = b
    }
    if (e > s) total += e - s
    total
  }
}

object Clock {
  def now: Long = System.nanoTime()
  def sec(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Runs `body` and returns its result with the elapsed seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = now
    val r = body
    (r, sec(t0, now))
  }

  /** Used heap after two full collections, in MiB. */
  def settledHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** (all, steal) CPU jiffies of the machine from /proc/stat; None where
    * there is no such file.
    */
  def cpuJiffies(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Some((xs.sum, if (xs.length > 7) xs(7) else 0L))
    } finally src.close()
  } catch { case _: Exception => None }

  /** Accumulated collection time of every JVM collector, in ms. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }
}

/** Closed-loop timing of one operation, repeated until a deadline and at
  * least `minOps` times. With `log`, every latency is listed on stderr
  * when the loop ends.
  */
final class Loop(seconds: Double, log: Boolean = true, minOps: Int = 1) {
  val latencies: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  var failed = 0L
  var wallS = 0.0

  /** Calls `op(i)` for i = 0, 1, ... until `seconds` have passed since the
    * first call and `minOps` calls were made; each call's seconds land in
    * `latencies`. An exception
    * counts as a failed operation; the loop goes on.
    */
  def run(op: Int => Unit): this.type = {
    val start = Clock.now
    val deadline = start + (seconds * 1e9).toLong
    var i = 0
    while (Clock.now < deadline || i < minOps) {
      val t0 = Clock.now
      try op(i)
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] operation $i failed: $e")
      }
      latencies += Clock.sec(t0, Clock.now)
      i += 1
    }
    wallS = Clock.sec(start, Clock.now)
    System.err.println(f"[perfbench] ${latencies.size} operations in $wallS%.2f s" +
      (if (log) latencies.map(l => f"${l * 1e3}%.0f").mkString(": ", " ", " ms") else ""))
    this
  }
  def attempted: Long = latencies.size.toLong
}
