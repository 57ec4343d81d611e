package graftbench

import graft.client.GraftClient
import graft.expr.SparkCompiler
import graft.table._

import scala.concurrent.duration._

/** `offline_pit`: a training set. Seeded labels are point-in-time joined
  * to an over-window view and a multi-size sliding view over seeded
  * events, with a derived-expression feature on top, and forced with a
  * noop write. One operation = build (`getFeatures`) + execute.
  */
object OfflinePit extends Workload {
  val name = "offline_pit"

  /** Expressions the workload hands the engine, for `expr.compile_us`. */
  private val expressions = Seq("value", "sw_sum_1d / sw_sum_7d")

  /** Writes the inputs and declares the views; returns the training-set
    * view and the input paths.
    */
  private def setup(ctx: Ctx, rep: Int): (DerivedFeatureView, String, String) = {
    val cl = new GraftClient(ctx.spark)
    val ev = ctx.writeParquet(Gen.events(ctx.spark, ctx.seed), s"data/events-$rep")
    val lb = ctx.writeParquet(Gen.labels(ctx.spark, ctx.seed), s"data/labels-$rep")
    val events = FileSource("pit_events", ev, "parquet", keys = Some(Seq("user_id")),
      timestampField = Some("ts_ms"), timestampFormat = "epoch_millis")
    val byUser = Seq("user_id")
    cl.registerTable(DerivedFeatureView("pit_over", events, features = Seq(
      Feature("avg_1h", OverWindowTransform("value", AggFunc.Avg, Some(1.hour), byUser)),
      Feature("cnt_1d", OverWindowTransform("value", AggFunc.Count, Some(1.day), byUser)),
      Feature("sum_7d", OverWindowTransform("value", AggFunc.Sum, Some(7.days), byUser)))))
    cl.registerTable(SlidingFeatureView("pit_slide", events, features = Seq(
      Feature("sum_1d", SlidingWindowTransform("value", AggFunc.Sum, 1.day, 1.day, byUser)),
      Feature("cnt_1d", SlidingWindowTransform("value", AggFunc.Count, 1.day, 1.day, byUser)),
      Feature("sum_7d", SlidingWindowTransform("value", AggFunc.Sum, 7.days, 1.day, byUser)),
      Feature("cnt_7d", SlidingWindowTransform("value", AggFunc.Count, 7.days, 1.day, byUser)))))
    val labels = FileSource("pit_labels", lb, "parquet", keys = Some(byUser),
      timestampField = Some("ts_ms"), timestampFormat = "epoch_millis")
    def join(table: String, f: String) = JoinTransform(table, f)
    (DerivedFeatureView("pit_train", labels, keepSourceFields = true, features = Seq(
      Feature("ow_avg_1h", join("pit_over", "avg_1h"), keys = Some(byUser)),
      Feature("ow_cnt_1d", join("pit_over", "cnt_1d"), keys = Some(byUser)),
      Feature("ow_sum_7d", join("pit_over", "sum_7d"), keys = Some(byUser)),
      Feature("sw_sum_1d", join("pit_slide", "sum_1d"), keys = Some(byUser)),
      Feature("sw_cnt_1d", join("pit_slide", "cnt_1d"), keys = Some(byUser)),
      Feature("sw_sum_7d", join("pit_slide", "sum_7d"), keys = Some(byUser)),
      Feature("sw_cnt_7d", join("pit_slide", "cnt_7d"), keys = Some(byUser)),
      Feature.expr("spend_share_1d", expressions(1)))), ev, lb)
  }

  def run(ctx: Ctx): Unit = {
    val setups = (0 until (if (ctx.trace) 1 else 3)).map(rep => Clock.timed(setup(ctx, rep)))
    val setupS = setups.map(_._2)
    val (train, events, labels) = setups.last._1
    ctx.phase("set up")
    // A fresh client per operation: the client memoizes built plans, so a
    // reused one would skip the build this operation is meant to include.
    def op(i: Int): OpSample = ctx.probed(ctx.tracer.span("offline.training_set", "bench", i) {
      val cl = new GraftClient(ctx.spark)
      val df = ctx.tracer.span("GraftClient.getFeatures", "engine", i) { cl.getFeatures(train) }
      ctx.forceNoop(df)
    })._2

    // Warm-up (JIT, codegen, parquet footers): one operation whose output
    // is the one the oracle checks, then 5 s of operations. Timed
    // operations repeat the checked plan into a noop sink.
    val checked = try Some(ctx.writeParquet(
      new GraftClient(ctx.spark).getFeatures(train), "out/offline_train"))
    catch { case e: Exception => System.err.println(s"[perfbench] $name warm-up failed: $e"); None }
    new Loop(5).run(op)
    ctx.timedFromHere()

    if (!ctx.trace) {
      val loop = new Loop(ctx.seconds).run(op)
      ctx.attempted = loop.attempted
      ctx.failed = loop.failed
      val p50 = Stats.median(loop.latencies)
      ctx.e2e("op_p50_ms") = (p50 * 1e3, "ms")
      ctx.e2e("rows_per_s") = (Gen.LabelRows * loop.attempted / loop.wallS, "rows/s")
      ctx.e2e("setup_s") = (Stats.median(setupS), "s")
      ctx.report("setup_s") = (Stats.median(setupS), "s")
      ctx.report("offline_p50_s") = (p50, "s")
    } else {
      val (samples, loop) = ctx.alternate(op)
      ctx.attempted = loop.attempted
      ctx.failed = loop.failed
      ctx.sparkLayer(samples)
      val builds = ctx.tracer.spans.filter(_.name == "GraftClient.getFeatures")
      val buildIds = builds.map(_.id).toSet
      ctx.layers("engine.build_ms") = (Stats.median(builds.map(_.durNs / 1e6)), "ms")
      ctx.layers("engine.build_jobs") = (Stats.median(samples.map(s =>
        s.jobs.count(j => buildIds.contains(j.span)).toDouble)), "count")
      ctx.layers("expr.compile_us") = (compileUs(expressions), "us")
    }

    ctx.timedDone()
    checked match {
      case Some(out) => ctx.checks += JsonWriter.obj(Seq(
        "kind" -> JsonWriter.str(name), "output" -> JsonWriter.str(out),
        "events" -> JsonWriter.str(events), "labels" -> JsonWriter.str(labels)))
      case None => ctx.failed = ctx.attempted
    }
  }

  /** Median microseconds of `SparkCompiler.compile` over the expressions. */
  def compileUs(exprs: Seq[String]): Double = {
    val xs = for (_ <- 0 until 200; e <- exprs) yield {
      val t0 = Clock.now
      SparkCompiler.compile(e)
      (Clock.now - t0) / 1e3
    }
    Stats.median(xs.drop(exprs.size * 20))
  }
}
