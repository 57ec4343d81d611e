package graftbench

import graft.client.{GraftClient, MemoryOnlineStore}
import graft.table._
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import scala.collection.mutable
import scala.concurrent.duration._

/** `stream_sliding`: a seeded MemoryStream of (key, value, t_ms) over 2000
  * keys feeds a 7d-sum + 1d-count sliding view, materialized into the
  * online store. Closed loop: add one chunk (2 event days), then wait
  * until it has drained. One operation = one chunk.
  */
object StreamSliding extends Workload {
  val name = "stream_sliding"

  def view(viewName: String, src: TableDescriptor): SlidingFeatureView =
    SlidingFeatureView(viewName, src, features = Seq(
      Feature("sum_7d", SlidingWindowTransform("value", AggFunc.Sum, 7.days, 1.day, Seq("key"))),
      Feature("cnt_1d", SlidingWindowTransform("value", AggFunc.Count, 1.day, 1.day, Seq("key")))))

  private final class Running(
      val stream: MemoryStream[(String, Long, Long)], val query: StreamingQuery, val table: String) {
    val fed = mutable.ArrayBuffer.empty[(String, Long, Long)]
    var chunks = 0
    /** Adds the next chunk and waits until the query has processed it. */
    def feed(seed: Long): Int = {
      val rows = Gen.streamChunk(seed, chunks)
      chunks += 1
      fed ++= rows
      stream.addData(rows)
      query.processAllAvailable()
      rows.size
    }
  }

  def run(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext
    val cl = new GraftClient(ctx.spark)

    /** Set-up: a fresh stream and query, fed and drained once. */
    def start(rep: Int): Running = {
      val stream = MemoryStream[(String, Long, Long)]
      val src = DataFrameSource(s"st_src_$rep", stream.toDF().toDF("key", "value", "t_ms"),
        keys = Some(Seq("key")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis", maxOutOfOrderness = Gen.MaxOutOfOrder.millis)
      val table = s"st_online_$rep"
      val q = cl.materializeStream(view(s"st_view_$rep", src), MemoryStoreSink(table),
        ctx.path(s"checkpoints/stream_$rep"))
      val r = new Running(stream, q, table)
      r.feed(ctx.seed)
      r
    }
    val reps = if (ctx.trace) 1 else 3
    val runs = (0 until reps).map(rep => Clock.timed(start(rep)))
    runs.init.foreach(_._1.query.stop())
    val run = runs.last._1
    ctx.phase("set up")
    (0 until 3).foreach(_ => run.feed(ctx.seed)) // warm-up chunks
    ctx.timedFromHere()

    def chunk(): (Int, Long, Long) = {
      val e0 = System.currentTimeMillis()
      val n = run.feed(ctx.seed)
      (n, e0, System.currentTimeMillis())
    }

    if (!ctx.trace) {
      var rows = 0L
      val loop = new Loop(ctx.seconds).run(_ => rows += chunk()._1)
      ctx.attempted = loop.attempted
      ctx.failed = loop.failed
      val setupS = Stats.median(runs.map(_._2))
      ctx.e2e("op_p50_ms") = (Stats.median(loop.latencies) * 1e3, "ms")
      ctx.e2e("rows_per_s") = (rows / loop.wallS, "rows/s")
      ctx.e2e("setup_s") = (setupS, "s")
      ctx.report("setup_s") = (setupS, "s")
      ctx.report("stream_rows_per_s") = (rows / loop.wallS, "rows/s")
      ctx.report("stream_chunk_p50_ms") = (Stats.median(loop.latencies) * 1e3, "ms")
      ctx.report("stream_chunks") = (loop.attempted.toDouble, "count")
    } else {
      val windows = mutable.ArrayBuffer.empty[(Long, Long)]
      val (samples, loop) = ctx.alternate { i =>
        val (s, op) = ctx.probed(ctx.tracer.span("stream.chunk", "streaming", i)(chunk()))
        if (ctx.tracer.enabled) windows += ((s._2, s._3))
        op
      }
      ctx.attempted = loop.attempted
      ctx.failed = loop.failed
      ctx.sparkLayer(samples)
      // Micro-batches plan on the query's own session, which the plan
      // probe does not see: read the last batch's executed plan instead.
      val shape = PlanShape.of(run.query.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan)
      ctx.perLayer("spark.exchanges") = (shape.exchanges.toDouble, "count")
      ctx.perLayer("spark.non_codegen_nodes") = (shape.nonCodegen.toDouble, "count")
      streamingLayer(ctx, run.query.recentProgress.toSeq, windows.toSeq, samples)
    }

    ctx.timedDone()
    check(ctx, cl, run)
  }

  private def streamingLayer(
      ctx: Ctx, progress: Seq[StreamingQueryProgress], windows: Seq[(Long, Long)],
      samples: Seq[OpSample]): Unit = {
    def startMs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli
    val perChunk = windows.map { case (a, b) => progress.filter(p => startMs(p) >= a && startMs(p) <= b) }
    val batches = perChunk.flatten
    def dur(key: String): Seq[Double] =
      batches.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0))
    val l = ctx.layers
    l("streaming.batches_per_chunk") = (Stats.median(perChunk.map(_.size.toDouble)), "count")
    l("streaming.trigger_ms_p50") = (Stats.median(dur("triggerExecution")), "ms")
    l("streaming.add_batch_ms_p50") = (Stats.median(dur("addBatch")), "ms")
    l("streaming.planning_ms_p50") = (Stats.median(dur("queryPlanning")), "ms")
    l("streaming.wal_commit_ms_p50") = (Stats.median(dur("walCommit")), "ms")
    l("streaming.commit_offsets_ms_p50") = (Stats.median(dur("commitOffsets")), "ms")
    l("streaming.idle_ratio") = (Stats.median(windows.zip(perChunk).map { case ((a, b), ps) =>
      1.0 - ps.map(p => p.durationMs.getOrDefault("triggerExecution", 0L).doubleValue).sum /
        math.max(b - a, 1L)
    }), "ratio")
    val last = batches.lastOption.orElse(progress.lastOption)
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Double =
      last.map(_.stateOperators.map(f).sum.toDouble).getOrElse(0.0)
    l("streaming.state_rows") = (state(_.numRowsTotal), "count")
    l("streaming.state_mb") = (state(_.memoryUsedBytes) / 1048576.0, "MiB")
    l("streaming.state_rows_updated") = (state(_.numRowsUpdated), "count")
    val nBatches = math.max(batches.size, 1).toDouble
    l("spark.jobs_per_batch") = (samples.map(_.totals.jobs).sum / nBatches, "count")
    l("spark.tasks_per_batch") = (samples.map(_.totals.tasks).sum / nBatches, "count")
  }

  /** Every store row must equal the batch `getFeatures` row with the same
    * (key, window_time) over the same events. Any difference fails every
    * timed chunk.
    */
  private def check(ctx: Ctx, cl: GraftClient, run: Running): Unit = {
    import ctx.spark.implicits._
    val bad = try {
      run.query.processAllAvailable()
      run.query.stop()
      val src = DataFrameSource("st_batch_src", run.fed.toSeq.toDF("key", "value", "t_ms"),
        keys = Some(Seq("key")), timestampField = Some("t_ms"), timestampFormat = "epoch_millis",
        maxOutOfOrderness = Gen.MaxOutOfOrder.millis)
      val want = cl.getFeatures(view("st_batch_view", src)).collect().map { r =>
        (r.getAs[String]("key"), r.getAs[Long]("window_time")) ->
          (r.getAs[Any]("sum_7d"), r.getAs[Any]("cnt_1d"))
      }.toMap
      val got = MemoryOnlineStore.snapshotRows(run.table)
      val wrong = got.count { row =>
        val k = (row("key").asInstanceOf[String], row("window_time").asInstanceOf[Long])
        !want.get(k).contains((row("sum_7d"), row("cnt_1d")))
      }
      if (got.size < Gen.StreamKeys) {
        System.err.println(s"[perfbench] $name: store holds ${got.size} keys, expected ${Gen.StreamKeys}")
        1
      } else {
        if (wrong > 0) System.err.println(s"[perfbench] $name: $wrong of ${got.size} store rows differ from batch")
        wrong
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name check failed: $e")
        1
    }
    if (bad > 0) ctx.failed = ctx.attempted
    ctx.checks += JsonWriter.obj(Seq("kind" -> JsonWriter.str(name), "mismatches" -> bad.toString))
  }
}
