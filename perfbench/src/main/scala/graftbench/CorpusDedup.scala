package graftbench

import graft.SparkEntry
import graft.ops.{Cluster, Dedup}
import org.apache.spark.sql.DataFrame


/** `corpus_dedup`: seeded documents (row order permuted) run n-gram
  * Jaccard pairs -> keep-best cluster dedup -> noop write, then MinHash
  * LSH pairs -> noop write. One operation = one complete pass.
  */
object CorpusDedup extends Workload {
  val name = "corpus_dedup"

  private final case class Pass(kept: DataFrame, pairs: DataFrame, lsh: DataFrame)

  /** One pass; `force` executes each output (the kept corpus, then the LSH
    * pairs) inside the span of the call that produced it.
    */
  private def pass(ctx: Ctx, docsPath: String, force: (DataFrame, String) => Unit): Pass = {
    val t = ctx.tracer
    val docs = ctx.spark.read.parquet(docsPath)
    val pairs = t.span("Dedup.ngramJaccardPairs", "ops") {
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    }
    val kept = t.span("Cluster.dedupApplyByScore", "ops") {
      Cluster.dedupApplyByScore(docs.select("doc_id", "lang", "source", "n_chars"),
        "doc_id", "n_chars", pairs, "id_a", "id_b")
    }
    force(kept, "corpus_kept")
    val lsh = t.span("Dedup.minhashLshPairs", "ops") {
      val l = Dedup.minhashLshPairs(docs, "doc_id", "text")
      force(l, "corpus_lsh")
      l
    }
    Pass(kept, pairs, lsh)
  }

  def run(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    var docsPath = ""
    val setupS = (0 until (if (ctx.trace) 1 else 3)).map(rep => Clock.timed {
      docsPath = ctx.writeParquet(
        Gen.documents(ctx.seed).toDF("doc_id", "text", "lang", "source", "n_chars"), s"data/documents-$rep")
      ctx.spark.read.parquet(docsPath).schema
    }._2)
    ctx.phase("set up")
    // Warm-up (JIT, codegen). Its outputs are the ones the oracles check;
    // timed passes repeat the same plans into noop sinks.
    val checked = try {
      val p = pass(ctx, docsPath, (df, n) => ctx.writeParquet(df, s"out/$n"))
      if (ctx.trace) ctx.layers("ops.pairs") = (p.pairs.count().toDouble, "count")
      true
    } catch { case e: Exception => System.err.println(s"[perfbench] $name warm-up failed: $e"); false }
    ctx.timedFromHere()

    def op(i: Int): OpSample = ctx.probed(ctx.tracer.span("corpus.pass", "bench", i) {
      pass(ctx, docsPath, (df, _) => ctx.forceNoop(df))
    })._2

    if (!ctx.trace) {
      val loop = new Loop(ctx.seconds).run(op)
      ctx.attempted = loop.attempted
      ctx.failed = loop.failed
      val p50 = Stats.median(loop.latencies)
      ctx.e2e("op_p50_ms") = (p50 * 1e3, "ms")
      ctx.e2e("rows_per_s") = (Gen.Docs * loop.attempted / loop.wallS, "rows/s")
      ctx.e2e("setup_s") = (Stats.median(setupS), "s")
      ctx.report("setup_s") = (Stats.median(setupS), "s")
      ctx.report("corpus_p50_s") = (p50, "s")
    } else {
      val (samples, loop) = ctx.alternate(op)
      ctx.attempted = loop.attempted
      ctx.failed = loop.failed
      ctx.sparkLayer(samples)
      val spans = ctx.tracer.spans
      def call(spanName: String, msName: String, jobsName: String): Unit = {
        val ss = spans.filter(_.name == spanName)
        val ids = ss.map(_.id).toSet
        // jobs of the call itself and of the forced write nested in it
        val nested = ids ++ spans.filter(s => ids.contains(s.parent)).map(_.id)
        ctx.layers(msName) = (Stats.median(ss.map(_.durNs / 1e6)), "ms")
        ctx.layers(jobsName) = (Stats.median(samples.map(s =>
          s.jobs.count(j => nested.contains(j.span)).toDouble)), "count")
      }
      call("Dedup.ngramJaccardPairs", "ops.jaccard_call_ms", "ops.jaccard_call_jobs")
      call("Cluster.dedupApplyByScore", "ops.keep_best_call_ms", "ops.keep_best_call_jobs")
      call("Dedup.minhashLshPairs", "ops.lsh_ms", "ops.lsh_jobs")
    }

    ctx.timedDone()
    if (checked) {
      val kept = ctx.path("out/corpus_kept")
      if (ctx.trace) ctx.layers("ops.kept_docs") = (ctx.spark.read.parquet(kept).count().toDouble, "count")
      val oracle = SparkEntry.oracleSql
      ctx.checks += JsonWriter.obj(Seq(
        "kind" -> JsonWriter.str(name), "documents" -> JsonWriter.str(docsPath),
        "kept" -> JsonWriter.str(kept), "lsh" -> JsonWriter.str(ctx.path("out/corpus_lsh")),
        "kept_sql" -> JsonWriter.str(oracle("q73_dedup_keep_best")),
        "lsh_sql" -> JsonWriter.str(oracle("q22_dedup_minhash_lsh"))))
    } else ctx.failed = ctx.attempted
  }
}
