package graftbench

import graft.client.{GraftClient, MemoryOnlineStore}
import graft.expr.{Parser, RowInterpreter}
import graft.table._

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** `online_serve`: seeded orders are materialized into the in-process
  * online store, then one closed-loop client thread sends single-row
  * requests to an on-demand view (one store lookup, two expression
  * features). Keys are Zipf(1.1) over the stored keys, 5% absent.
  */
object OnlineServe extends Workload {
  val name = "online_serve"
  val Table = "orders_online"
  private val Key = "o_orderkey"
  private val lookupExpr = "o_totalprice"
  private val exprs = Seq("price_k" -> "price / 1000", "is_big" -> "price > 250000")
  val view: OnDemandFeatureView = OnDemandFeatureView(
    "serve_view",
    features = Feature("price", JoinTransform(Table, lookupExpr), keys = Some(Seq(Key))) +:
      exprs.map { case (n, e) => Feature.expr(n, e) },
    requestFields = Seq(Key))

  private final case class Setup(setupS: Double, materializeS: Double, heapMb: Double, op: OpSample)

  def run(ctx: Ctx): Unit = {
    var src: FileSource = null

    /** Writes the orders and materializes them into an emptied store. */
    def setup(rep: Int): Setup = {
      val t0 = Clock.now
      val path = ctx.writeParquet(Gen.orders(ctx.spark, ctx.seed), s"data/orders-$rep")
      src = FileSource("serve_orders", path, "parquet", keys = Some(Seq(Key)),
        timestampField = Some("o_orderdate"), timestampFormat = "epoch_millis")
      val prepS = Clock.sec(t0, Clock.now)
      MemoryOnlineStore.clear()
      val heap0 = Clock.settledHeapMb()
      val cl = new GraftClient(ctx.spark)
      val (_, op) = ctx.probed {
        ctx.tracer.span("GraftClient.materialize", "client") { cl.materialize(src, MemoryStoreSink(Table)) }
      }
      val heap1 = Clock.settledHeapMb()
      Setup(prepS + op.wallS, op.wallS, heap1 - heap0, op)
    }

    if (ctx.trace) { ctx.resetProbes(); ctx.tracer.enabled = true }
    val setups = (0 until 3).map(setup)
    ctx.tracer.enabled = false
    ctx.phase("set up")
    val cl = new GraftClient(ctx.spark)
    val price: Map[Long, Double] = ctx.spark.read.parquet(src.path).select(Key, "o_totalprice")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val keys = Gen.requestKeys(ctx.seed, 1 << 18)
    var mismatches = 0L
    var hits = 0L
    var counting = false

    /** Serves request i and checks the answer against the generated rows. */
    def serve(i: Int): Unit = {
      val k = keys(i % keys.length)
      val got = ctx.tracer.span("GraftClient.getOnlineFeatures", "client", i) {
        cl.getOnlineFeatures(Seq(Map(Key -> k)), view).head
      }
      val want = price.get(k)
      if (want.isDefined && counting) hits += 1
      val ok = want match {
        case Some(p) => got.get("price").contains(p) && got.get("price_k").contains(p / 1000.0) &&
          got.get("is_big").contains(p > 250000)
        case None => Seq("price", "price_k", "is_big").forall(f => got.getOrElse(f, null) == null)
      }
      if ((!ok || got.getOrElse(Key, null) != k) && counting) mismatches += 1
    }

    (0 until 30).foreach(serve) // warm-up, not counted
    counting = true
    ctx.timedFromHere()
    val gc0 = Clock.gcMs()
    val loop =
      if (!ctx.trace) new Loop(ctx.seconds, log = false).run(serve)
      else traced(ctx, keys, serve)
    val gcMs = (Clock.gcMs() - gc0).toDouble
    ctx.timedDone()
    ctx.attempted = loop.attempted
    ctx.failed = loop.failed + mismatches
    if (!ctx.trace) {
      val lat = loop.latencies
      val setupS = Stats.median(setups.map(_.setupS))
      ctx.e2e("op_p50_ms") = (Stats.median(lat) * 1e3, "ms")
      ctx.e2e("rows_per_s") = (lat.size / loop.wallS, "rows/s")
      ctx.e2e("setup_s") = (setupS, "s")
      ctx.report("setup_s") = (setupS, "s")
      ctx.report("serve_p50_ms") = (Stats.median(lat) * 1e3, "ms")
      ctx.report("serve_p99_ms") = (Stats.quantile(lat, 0.99) * 1e3, "ms")
      ctx.report("serve_requests") = (lat.size.toDouble, "count")
      ctx.report("serve_rps") = (lat.size / loop.wallS, "1/s")
      ctx.report("materialize_s") = (Stats.median(setups.map(_.materializeS)), "s")
      ctx.report("store_heap_mb") = (Stats.median(setups.map(_.heapMb)), "MiB")
      ctx.report("jvm.gc_ms") = (gcMs, "ms")
    } else {
      ctx.sparkLayer(setups.map(_.op))
      ctx.layers("jvm.gc_ms") = (gcMs, "ms")
      ctx.layers("client.hit_ratio") = (hits.toDouble / ctx.attempted, "ratio")
      ctx.layers("client.put_s") = (putS(ctx, cl, src), "s")
      ctx.layers("client.materialize_s") = (Stats.median(setups.map(_.materializeS)), "s")
      val parseUs = for (_ <- 0 until 200; e <- lookupExpr +: exprs.map(_._2)) yield {
        val t0 = Clock.now; Parser.parse(e); (Clock.now - t0) / 1e3
      }
      ctx.layers("expr.parse_us_p50") = (Stats.median(parseUs.drop(60)), "us")
    }
    ctx.checks += JsonWriter.obj(Seq("kind" -> JsonWriter.str(name), "mismatches" -> mismatches.toString))
  }

  /** The traced request loop ([[Ctx.alternate]]). Each traced request is
    * followed by its replay as component calls: the store lookup, then one
    * interpreter evaluation per expression.
    */
  private def traced(ctx: Ctx, keys: Array[Long], serve: Int => Unit): Loop = {
    val threads = ManagementFactory.getThreadMXBean
    val getUs, evalUs, cpuUs, wallUs = mutable.ArrayBuffer.empty[Double]
    def replay(i: Int): Unit = ctx.tracer.span("serve.replay", "bench", i) {
      val req = Map[String, Any](Key -> keys(i % keys.length))
      var t0 = Clock.now
      val found = ctx.tracer.span("MemoryOnlineStore.get", "client", i) { MemoryOnlineStore.get(Table, req) }
      getUs += (Clock.now - t0) / 1e3
      t0 = Clock.now
      val p = ctx.tracer.span("RowInterpreter.eval", "expr", i) {
        found.map(f => RowInterpreter.eval(lookupExpr, f)).orNull
      }
      evalUs += (Clock.now - t0) / 1e3
      val row = req + ("price" -> p)
      exprs.foreach { case (_, e) =>
        t0 = Clock.now
        ctx.tracer.span("RowInterpreter.eval", "expr", i) { RowInterpreter.eval(e, row) }
        evalUs += (Clock.now - t0) / 1e3
      }
    }
    val (_, loop) = ctx.alternate({ i =>
      val cpu0 = threads.getCurrentThreadCpuTime
      val (_, wallS) = Clock.timed(serve(i))
      if (ctx.tracer.enabled) {
        cpuUs += (threads.getCurrentThreadCpuTime - cpu0) / 1e3
        wallUs += wallS * 1e6
        replay(i)
      }
      OpSample(wallS, Nil, Nil)
    }, log = false)
    ctx.layers("client.get_us_p50") = (Stats.median(getUs), "us")
    ctx.layers("client.get_us_p99") = (Stats.quantile(getUs, 0.99), "us")
    ctx.layers("expr.eval_us_p50") = (Stats.median(evalUs), "us")
    ctx.layers("client.serve_cpu_us_p50") = (Stats.median(cpuUs), "us")
    ctx.layers("client.serve_wall_us_p50") = (Stats.median(wallUs), "us")
    loop
  }

  /** A probed store write of the built frame, for `client.put_s`. */
  private def putS(ctx: Ctx, cl: GraftClient, src: FileSource): Double = {
    val built = cl.getFeatures(src)
    ctx.tracer.enabled = true
    try Clock.timed { ctx.tracer.span("MemoryOnlineStore.put", "client") {
      MemoryOnlineStore.put(Table + "_put", built, Seq(Key))
    } }._2
    finally ctx.tracer.enabled = false
  }
}
