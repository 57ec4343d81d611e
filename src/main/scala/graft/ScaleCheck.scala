package graft
import graft.client.GraftClient
import graft.table._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.concurrent.duration._

/** Empirical scaling check (dev aid): runs the heavy operators on events at
  * 1× and N× (users disjoint per replica, so key cardinality scales with
  * data — the realistic shape) and reports the time ratio. Linear operators
  * should stay near N×; anything super-linear is a red flag for the 100 TB
  * design claims in SCALE.md.
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val dir = SparkEnv.sfDir
    val mult = args.headOption.map(_.toInt).getOrElse(8)
    val spark = SparkEnv.session(SparkEnv.cpus)
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    val ev1 = spark.read.parquet(s"$dir/events.parquet")
    val evN = (0 until mult).map { i =>
      ev1.withColumn("user_id", col("user_id") + lit(i * 1000000L))
        .withColumn("event_id", col("event_id") + lit(i * 100000000L))
    }.reduce(_ unionByName _)

    def slidingTime(df: DataFrame, tag: String): Double = {
      val cl = new GraftClient(spark)
      val src = DataFrameSource(s"sc_$tag", df, keys = Some(Seq("user_id")),
        timestampField = Some("ts"), timestampFormat = "epoch_nanos")
      val view = SlidingFeatureView(s"sc_v_$tag", src, features = Seq(
        Feature("s7", SlidingWindowTransform("value", AggFunc.Sum, 7.days, 1.day, Seq("user_id"))),
        Feature("c1", SlidingWindowTransform("value", AggFunc.Count, 1.day, 1.day, Seq("user_id")))))
      val t0 = System.nanoTime()
      cl.getFeatures(view).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def overTime(df: DataFrame, tag: String): Double = {
      val cl = new GraftClient(spark)
      val src = DataFrameSource(s"so_$tag", df, keys = Some(Seq("user_id")),
        timestampField = Some("ts"), timestampFormat = "epoch_nanos")
      val view = DerivedFeatureView(s"so_v_$tag", src, features = Seq(
        Feature("a1", OverWindowTransform("value", AggFunc.Avg, Some(1.hour), Seq("user_id"))),
        Feature("c5", OverWindowTransform("value", AggFunc.Count, None, Seq("user_id"), limit = Some(5)))),
        keepSourceFields = true)
      val t0 = System.nanoTime()
      cl.getFeatures(view).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def pitTime(df: DataFrame, tag: String): Double = {
      import graft.engine.{EventTime, TemporalJoin}
      val left = EventTime.append(
        df.select(col("event_id"), col("user_id"), col("ts")), Some("ts"), "epoch_nanos")
      val right = EventTime.append(
        df.select(col("user_id"), col("ts"), col("value")), Some("ts"), "epoch_nanos")
        .select(col("user_id"), col(EventTime.Col), col("value").as("jv"))
      val t0 = System.nanoTime()
      TemporalJoin.pointInTime(left, right, Seq("user_id"), Seq(("jv", "last_v")))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Embeddings replicated with disjoint ids and per-replica Walsh sign
    // flips (popcount(dim & replica) parity) so cross-replica vectors are
    // decorrelated — near-dup DENSITY stays constant as data scales, the
    // realistic shape (identical replicas would quadratically inflate true
    // pairs, a data property rather than an algorithmic one).
    val em1 = spark.read.parquet(s"$dir/embeddings.parquet")
    val emN = (0 until mult).map { i =>
      val flips = Array.tabulate(64)(j =>
        if (java.lang.Integer.bitCount(j & i) % 2 == 1) -1.0 else 1.0)
      em1.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
        .withColumn("embedding",
          zip_with(col("embedding"), typedLit(flips.toSeq), (x, w) => x * w))
    }.reduce(_ unionByName _)

    // Bits per band grow with log2(data) so bucket SIZE stays constant —
    // the standard LSH scaling knob (fixed planes would let candidate
    // pairs grow quadratically; that is a parameter choice, not a plan
    // property).
    def srpTime(df: DataFrame, planes: Int): Double = {
      val t0 = System.nanoTime()
      graft.ops.Dedup.embeddingNearDupPairs(
          df, "vec_id", "embedding", 0.45, planes = planes, bands = 4)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def lookupTime(df: DataFrame, tag: String): Double = {
      graft.client.MemoryOnlineStore.clear()
      val cl = new GraftClient(spark)
      cl.materialize(
        DataFrameSource(s"lk_dim_$tag",
          spark.range(1000).select(
            col("id").as("user_id"), (col("id") % 7).as("tier"), lit(0L).as("t_ms")),
          keys = Some(Seq("user_id")),
          timestampField = Some("t_ms"), timestampFormat = "epoch_millis"),
        MemoryStoreSink(s"lk_tbl_$tag"))
      val left = df.select(col("event_id"), (col("user_id") % 1000).as("user_id"))
      val t0 = System.nanoTime()
      cl.lookupJoin(left, s"lk_tbl_$tag", Seq("tier" -> "tier"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Chain-heavy component graph (chains of 100 stress the O(log² n)
    // round count); replicas are disjoint id ranges, so component COUNT
    // scales with data while component size stays constant — the dedup-
    // cluster shape.
    def clusterTime(df: DataFrame, tag: String): Double = {
      val n = df.count() / 2
      val edges = spark.range(n)
        .select(col("id").as("u"), (col("id") + 1).as("v"))
        .filter(col("v") % 100 =!= 0)
      val t0 = System.nanoTime()
      graft.ops.Cluster.connectedComponents(edges, "u", "v")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Documents replicated with per-replica token salting (every token
    // prefixed differently per replica) so cross-replica segments/bigrams
    // stay distinct: boilerplate density and vocabulary both scale the
    // realistic way (linearly), not quadratically.
    val doc1 = spark.read.parquet(s"$dir/documents.parquet")
    val docN = (0 until mult).map { i =>
      doc1.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
        .withColumn("text",
          if (i == 0) col("text")
          else regexp_replace(col("text"), " ", s" r$i"))
    }.reduce(_ unionByName _)
    def segdupTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.TextOps.segmentDedup(df, "text", "doc_id", 8, 2)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def bigramTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.TextOps.bigramLmScore(df, "text", "doc_id")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def klTime(df: DataFrame, tag: String): Double = {
      // per-replica sources so the group count scales with the data
      val t0 = System.nanoTime()
      graft.ops.TextOps.tokenKlDivergence(df
          .withColumn("source", concat(col("source"), lit("_"), col("doc_id") % 4)),
          "text", "source", 200)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def sessionTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.Sessions.sessionize(
          df.select(col("user_id"), graft.engine.EventTime.epochMillis(df, "ts").as("ts_ms"), col("event_id")),
          "user_id", "ts_ms", "event_id", 30 * 60 * 1000L)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def simhashMpTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.Dedup.simhashPairsMultiPass(
          graft.ops.Dedup.simhash(df, "doc_id", "text"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def minhashTime(df: DataFrame, tag: String): Double = {
      // the q22 shape: raw shingles → 16 min-aggs → banded buckets →
      // skew-capped bucket-local self-join (salted replicas keep
      // cross-replica shingles distinct, so bucket density stays constant)
      val t0 = System.nanoTime()
      graft.ops.Dedup.minhashLshPairs(df, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def dupSpanTime(df: DataFrame, tag: String): Double = {
      // salted replicas keep cross-replica windows distinct, so dup-window
      // density (and thus span work) scales linearly — the window-hash
      // count shuffle is the only corpus-wide aggregation
      val t0 = System.nanoTime()
      graft.ops.Dedup.dupSpanRemoval(df, "doc_id", "text", w = 8)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def dsirTime(df: DataFrame, tag: String): Double = {
      // target = a fixed ~1% slice, so the target model scales with data
      val t0 = System.nanoTime()
      graft.ops.Sampling.dsirSelect(
          df, "doc_id", "text",
          df.filter(col("doc_id") % 97 === 0), "text", k = 200)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def pagerankTime(df: DataFrame, tag: String): Double = {
      // user→item interaction edges; replicas add users (disjoint ids)
      // against the same item catalog — the "more traffic, same pages"
      // shape, so item in-degree skew grows with data as it would live
      val ed = df.select(
        col("user_id"),
        (get_json_object(col("props"), "$.k").cast("long") + 100000L).as("item"))
      val t0 = System.nanoTime()
      graft.ops.Graph.pageRank(ed, "user_id", "item", iters = 3)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // Unsalted doc replicas for the ops with no self-join: duplicate
    // content is harmless (no pair space), volume is what matters.
    val docNPlain = (0 until mult).map { i =>
      doc1.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
    }.reduce(_ unionByName _)
    def packTime(df: DataFrame, tag: String): Double = {
      val withN = df.select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tok"))
      val t0 = System.nanoTime()
      graft.ops.Corpus.packPieces(withN, "doc_id", "n_tok", seqLen = 512L)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def bm25Time(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.TextOps.bm25Scores(df, "text", "doc_id",
          Seq("spark", "join", "stream", "window"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    def cooccurTime(df: DataFrame, tag: String): Double = {
      // replicas add users against the same item catalog: per-src degree
      // stays constant, so capped pair volume should grow ~linearly
      val ed = df.select(
        col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      val t0 = System.nanoTime()
      graft.ops.Graph.cooccurrence(ed, "user_id", "item", maxPerSrc = 50, minCommon = 3L)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Dev aid: SPARK_GRAFT_SCALE_ONLY=pagerank,bm25 restricts the run.
    val scaleOnly = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean = scaleOnly.forall(_.contains(name))

    def vocabTime(df: DataFrame, tag: String): Double = {
      // salted replicas mint distinct cross-replica tokens, so vocabulary
      // scales linearly — the explode + min-first-rank agg is the load
      val t0 = System.nanoTime()
      graft.ops.TextOps.vocabGrowth(df, "doc_id", "text", buckets = 10)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    for ((name, f) <- Seq(
      ("segdup", segdupTime _), ("bigram_lm", bigramTime _), ("token_kl", klTime _),
      ("vocab_growth", vocabTime _),
      ("simhash_mp", simhashMpTime _), ("minhash_lsh", minhashTime _),
      ("dsir", dsirTime _), ("dup_span", dupSpanTime _)) if wanted(name)) {
      val t1 = f(doc1, s"${name}_1")
      val tN = f(docN, s"${name}_N")
      println(f"$name%-12s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }

    // Blocked ER under a DEFAULT-VALUE hot block whose size scales with
    // the corpus (every 10th row lands in "unknown"): fine blocks stay
    // constant-size (doc_id div 20 — disjoint across replicas), so their
    // pair space is linear; the hot block crosses maxBlock=3000 at 8x
    // (4000 rows vs 500 at 1x) and must be DROPPED by the broadcast
    // anti-join — without the cap it alone would be 64x the 1x pair work.
    def fuzzyTime(df: DataFrame, tag: String): Double = {
      val named = df.select(col("doc_id"),
        substring(col("text"), 1, 24).as("nm"),
        when(pmod(col("doc_id"), lit(10)) === 0, lit("unknown"))
          .otherwise(expr("doc_id div 20").cast("string")).as("blk"))
      val t0 = System.nanoTime()
      graft.ops.Entity.fuzzyPairs(named, "doc_id", "nm", col("blk"),
          maxDist = 2, maxBlock = 3000L)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    for ((name, f) <- Seq(
      ("pack_pieces", packTime _), ("bm25", bm25Time _),
      ("fuzzy_pairs", fuzzyTime _)) if wanted(name)) {
      val t1 = f(doc1, s"${name}_1")
      val tN = f(docNPlain, s"${name}_N")
      println(f"$name%-12s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }

    def globalRankTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      val base = EventTime.append(
        df.select(col("event_id"), col("value"), col("ts")), Some("ts"), "epoch_nanos")
        .select(col("event_id"), col("value"))
      val t0 = System.nanoTime()
      graft.ops.Ranks.globalRank(base,
        Seq(col("value"), col("event_id")), "r")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def qnormTime(df: DataFrame, tag: String): Double = {
      val base = df.select(col("event_id"), col("event_type"), col("value"))
      val t0 = System.nanoTime()
      graft.ops.Features.quantileNormalize(base, "event_id", "event_type", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def theilSenTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      val b = df.select(col("user_id"),
          EventTime.epochMillis(df, "ts").as("ts_ms"), col("value"))
        .filter(col("value").isNotNull)
        .withColumn("t", expr("ts_ms div 3600000"))
        .groupBy("user_id", "t")
        .agg(sum(floor(col("value") * 1e6).cast("long")).as("v"))
      val t0 = System.nanoTime()
      graft.ops.TimeSeries.theilSen(b, "user_id", "t", "v")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    def rfmTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(col("user_id"), EventTime.epochMillis(df, "ts").as("tm"),
          col("value"))
      val t0 = System.nanoTime()
      graft.ops.Features.rfmSegments(base, "user_id", "tm", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def mwTime(df: DataFrame, tag: String): Double = {
      // the q214 shape: distinct-value prefixSum + join back + 2-row
      // rollup — the whole rank-stats family rides this plan
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(when(pmod(col("user_id"), lit(2)) === 0, "a")
          .otherwise("b").as("g"), col("value"))
      val t0 = System.nanoTime()
      graft.ops.Features.mannWhitney(base, "g", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def sprtTime(df: DataFrame, tag: String): Double = {
      // the q218 shape: one user-keyed window prefix sum + same-key
      // rollup; replicas add users, so walks stay constant-length
      import graft.engine.EventTime
      val base = df.filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"), col("event_id"),
          EventTime.epochMillis(df, "ts").as("ts_ms"),
          (col("value") >= 50.0).as("o"))
      val t0 = System.nanoTime()
      graft.ops.Features.sprtBernoulli(base, "user_id", "ts_ms", "event_id",
          "o", 182321L, -223144L, 2944438L, -2944439L)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def ndcgTime(df: DataFrame, tag: String): Double = {
      // the q219 shape: two per-user ROW_NUMBER orderings + rollup
      val base = df.filter(col("user_id").isNotNull &&
          col("event_id").isNotNull && col("value").isNotNull)
        .withColumn("score",
          md5(concat(lit("s9|"), col("event_id").cast("string"))))
      val t0 = System.nanoTime()
      graft.ops.Eval.ndcgAtK(base, "user_id", "event_id", "score", "value", 10)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def kmTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      // per-user lifespans (the q195 shape): the groupBy collapse is the
      // only corpus-wide work; the life table itself is |distinct days|
      val u = df.filter(col("user_id").isNotNull)
        .select(col("user_id"), EventTime.epochMillis(df, "ts").as("tm"))
        .groupBy("user_id").agg(min("tm").as("f"), max("tm").as("l"))
      val subj = u.crossJoin(broadcast(u.agg(max("l").as("m"))))
        .select(expr("(l - f) div 86400000").as("dur"),
          (col("l") <= col("m") - lit(2592000000L)).as("ev"))
      val t0 = System.nanoTime()
      graft.ops.Survival.kaplanMeier(subj, "dur", "ev")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    def disorderTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      val base = df.filter(col("event_id").isNotNull)
        .select(col("event_id"), EventTime.epochMillis(df, "ts").as("tm"))
      val t0 = System.nanoTime()
      graft.ops.TimeSeries.disorderProfile(base, "event_id", "tm")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // chain-heavy graph with a sprinkling of K4 cliques: component count
    // scales with data (disjoint id ranges), peel depth stays constant
    def kcoreTime(df: DataFrame, tag: String): Double = {
      val n = df.count() / 2
      val chain = spark.range(n)
        .select(col("id").as("u"), (col("id") + 1).as("v"))
        .filter(col("v") % 100 =!= 0)
      val t0 = System.nanoTime()
      graft.ops.Graph.kCore(chain, "u", "v", k = 2, iters = 3)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    def bootstrapTime(df: DataFrame, tag: String): Double = {
      // the q228 shape: one corpus pass exploded ×B with map-side combine
      // to ≤B rows per task — expect ~linear (the ×B factor is constant)
      val base = df.filter(col("event_id").isNotNull && col("value").isNotNull)
      val t0 = System.nanoTime()
      graft.ops.Eval.bootstrapMeanCI(base, "event_id", "value",
        b = 50, seed = "sc")
      (System.nanoTime() - t0) / 1e9
    }
    def kendallTime(df: DataFrame, tag: String): Double = {
      // the q227 shape: corpus collapses to a BOUNDED cell table (value
      // bucket × user bucket ≤ ~2000 cells regardless of rows), so the
      // cell×cell join is constant work — expect sub-linear
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(floor(col("value")).as("x"),
          pmod(col("user_id"), lit(20)).cast("double").as("y"))
      val t0 = System.nanoTime()
      graft.ops.Features.kendallTauBinned(base, "x", "y")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    def wassersteinTime(df: DataFrame, tag: String): Double = {
      // the q241 shape: corpus collapses to its distinct micro values
      // (FIXED domain here — the realistic drift-metric case), so the
      // prefix/rank machinery is constant work — expect sub-linear
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(when(pmod(col("user_id"), lit(2)) === 0, "a")
          .otherwise("b").as("g"), col("value"))
      val t0 = System.nanoTime()
      graft.ops.Eval.wasserstein1d(base, "g", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def acfTime(df: DataFrame, tag: String): Double = {
      // hourly per-user series exactly as q244 wires it: replicas add
      // USERS (disjoint ids), so the series count scales with data while
      // each series keeps its length — lag self-joins stay per-key local
      import graft.engine.EventTime
      val hourly = df
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .select(col("user_id"),
          (EventTime.epochMillis(df, "ts") / lit(3600000L))
            .cast("long").as("bucket"),
          floor(col("value") * 1e6).cast("long").as("__v"))
        .groupBy("user_id", "bucket")
        .agg(sum("__v").as("sm"))
      val t0 = System.nanoTime()
      graft.ops.TimeSeries.acf(hourly, "user_id", "bucket", "sm",
          lags = Seq(1, 2, 3, 6, 12, 24), everyMs = 1L)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def nelsonAalenTime(df: DataFrame, tag: String): Double = {
      // per-user durations as q247: subjects scale 8x, the duration
      // domain (and so the risk-set table) stays constant-size
      import graft.engine.EventTime
      val u = df
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), EventTime.epochMillis(df, "ts").as("ts_ms"))
        .groupBy("user_id")
        .agg(min("ts_ms").as("first_ms"), max("ts_ms").as("last_ms"))
      val subj = u
        .crossJoin(broadcast(u.agg(max("last_ms").as("study_end_ms"))))
        .select(
          expr("(last_ms - first_ms) div 86400000").as("dur_days"),
          (col("last_ms") <= col("study_end_ms") - lit(2592000000L))
            .as("churned"))
      val t0 = System.nanoTime()
      graft.ops.Survival.nelsonAalen(subj, "dur_days", "churned")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def linkPredictTime(df: DataFrame, tag: String): Double = {
      // bipartite user↔prop-k purchases: replicas add USERS against the
      // SAME k vocabulary, so hub (k-node) degree grows with data — the
      // wedge space would grow quadratically; maxDegree=1000 drops the
      // hubs at 8x (degree ~1500 vs ~180 at 1x), exactly the cap's job.
      // Without the cap this entry would be ~60x, a data property.
      val edges = df.filter(col("event_type") === "purchase" &&
          col("user_id").isNotNull &&
          get_json_object(col("props"), "$.k").isNotNull)
        .select(col("user_id").as("src"),
          (get_json_object(col("props"), "$.k").cast("long") + 100000000L)
            .as("dst"))
      val t0 = System.nanoTime()
      graft.ops.Graph.linkPrediction(edges, "src", "dst", k = 20,
          maxDegree = 1000L)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    for ((name, f) <- Seq(
      ("sliding", slidingTime _), ("over", overTime _), ("pit", pitTime _),
      ("lookup", lookupTime _), ("cluster", clusterTime _),
      ("sessionize", sessionTime _), ("pagerank", pagerankTime _),
      ("cooccur", cooccurTime _), ("global_rank", globalRankTime _),
      ("qnorm", qnormTime _), ("theil_sen", theilSenTime _),
      ("km", kmTime _), ("disorder", disorderTime _),
      ("kcore", kcoreTime _), ("rfm", rfmTime _),
      ("mann_whitney", mwTime _), ("sprt", sprtTime _),
      ("ndcg", ndcgTime _), ("bootstrap", bootstrapTime _),
      ("kendall", kendallTime _), ("wasserstein", wassersteinTime _),
      ("link_predict", linkPredictTime _), ("acf", acfTime _),
      ("nelson_aalen", nelsonAalenTime _)) if wanted(name)) {
      val t1 = f(ev1, s"${name}_1")
      val tN = f(evN, s"${name}_N")
      println(f"$name%-12s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    // Prefix-filtered Jaccard A/B on a ZIPFIAN corpus: append one of a few
    // boilerplate phrases to most docs so a handful of shingles reach
    // df ~ |corpus|/8 (hot, but below the maxDf hard cap — the regime where
    // the plain inverted index pays df² per hot shingle and the rarity-
    // ordered prefix keeps those shingles out of almost every prefix).
    if (wanted("jaccard_prefix")) {
      val boiler = docN.withColumn("text",
        concat(col("text"), lit(" "),
          element_at(
            array(lit("all rights reserved contact us today"),
              lit("click here to subscribe to newsletter"),
              lit("terms of service apply see details"),
              lit("copyright notice all pages protected")),
            (pmod(col("doc_id"), lit(4)) + 1).cast("int"))))
      def t(f: => DataFrame): Double = {
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val cap = 10000000L // no df cap: isolate the prefix filter's effect
      val tp = t(graft.ops.Dedup.ngramJaccardPairs(boiler, "doc_id", "text", 3, 0.5, cap))
      val tx = t(graft.ops.Dedup.ngramJaccardPairsPrefix(boiler, "doc_id", "text", 3, 0.5, cap))
      println(f"jaccard_prefix zipf-corpus plain=${tp}%6.2fs  prefix=${tx}%6.2fs  " +
        f"speedup=${tp / tx}%.1fx")
    }
    val log2 = 31 - Integer.numberOfLeadingZeros(mult)
    if (wanted("srp_neardup")) {
      val s1 = srpTime(em1, 8)
      val sN = srpTime(emN, 8 + 4 * log2)
      println(f"srp_neardup  1x=${s1}%6.2fs  ${mult}x=${sN}%6.2fs  ratio=${sN / s1}%.1f " +
        f"(linear=$mult.0; ${8 + 4 * log2} planes at ${mult}x keep bucket size constant)")
    }
    // SemDeDup's knob is k: clusters stay constant-SIZE as data grows
    // (the paper runs 50k clusters on LAION), so the within-cluster pair
    // space grows linearly with the corpus, not quadratically.
    def semdedupTime(df: DataFrame, k: Int): Double = {
      val t0 = System.nanoTime()
      graft.ops.Cluster.semDedup(df, "vec_id", "embedding", k = k, iters = 1, eps = 0.45)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (wanted("semdedup")) {
      val sd1 = semdedupTime(em1, 4)
      val sdN = semdedupTime(emN, 4 * mult)
      println(f"semdedup     1x=${sd1}%6.2fs  ${mult}x=${sdN}%6.2fs  ratio=${sdN / sd1}%.1f " +
        f"(linear=$mult.0; k=${4 * mult} at ${mult}x keeps cluster size constant)")
    }
    // top-PC and k-center run on the embedding corpus: per-round/iteration
    // work is one linear scan (matvec / distance update), driver state is
    // model-sized (a dim-64 vector / k centroids), so both should scale
    // linearly in corpus size with iteration count held fixed.
    def topPcTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.Similarity.topPrincipalComponent(df, "vec_id", "embedding",
          iters = 3)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def kcenterTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.Similarity.kCenterSelect(df, "vec_id", "embedding", k = 4)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def permSegTime(df: DataFrame, tag: String): Double = {
      // replicas add USERS; segments (event types) stay 5, so per-segment
      // row counts scale 8x and the (segment, rep) replica table stays
      // model-sized — linear is the expectation
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "arm_a").otherwise("arm_b"))
      val t0 = System.nanoTime()
      graft.ops.Eval.permutationTestMeansBySegment(
          base, "event_type", "event_id", "arm", "value", b = 50, seed = "sc")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def mannKendallTime(df: DataFrame, tag: String): Double = {
      // per-USER hourly series: keys scale 8x, per-key series length stays
      // fixed, so the key-local n_k^2 pair join scales linearly
      import graft.engine.EventTime
      val hourly = df
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(df, "ts"))
        .withColumn("b", expr("__ms div 3600000"))
        .withColumn("__v", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id", "b").agg(sum("__v").as("sv"))
      val t0 = System.nanoTime()
      graft.ops.TimeSeries.mannKendall(hourly, "user_id", "b", "sv")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def lDiversityTime(df: DataFrame, tag: String): Double = {
      // quasi = (user band, type): classes scale with users; sensitive =
      // prop-k value (bounded domain) — groupBy + same-key window
      val base = df.filter(col("user_id").isNotNull)
        .withColumn("band", expr("user_id div 100"))
      val t0 = System.nanoTime()
      graft.ops.Privacy.lDiversity(base, Seq("band", "event_type"),
          "value", l = 3, c = 2L)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def hllTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      df.filter(col("event_type").isNotNull && col("user_id").isNotNull)
        .groupBy("event_type")
        .agg(graft.functions.HllAgg.hll(col("user_id").cast("string")).as("s"))
        .select(col("event_type"), col("s.est_distinct"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def qsketchTime(df: DataFrame, tag: String): Double = {
      val f = graft.functions.QuantileSketchAgg.qsketch(64, Seq(50, 90))
      val t0 = System.nanoTime()
      df.filter(col("event_type").isNotNull && col("event_id").isNotNull &&
          col("value").isNotNull)
        .groupBy("event_type")
        .agg(f(col("event_id").cast("string"),
          floor(col("value") * 1e6).cast("long")).as("s"))
        .select(col("event_type"), col("s.m"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for ((name, f) <- Seq(
      ("perm_segment", permSegTime _), ("mann_kendall", mannKendallTime _),
      ("l_diversity", lDiversityTime _), ("hll", hllTime _),
      ("qsketch", qsketchTime _)) if wanted(name)) {
      val t1 = f(ev1, s"${name}_1")
      val tN = f(evN, s"${name}_N")
      println(f"$name%-12s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    for ((name, f) <- Seq(
      ("top_pc", topPcTime _), ("kcenter", kcenterTime _)) if wanted(name)) {
      val t1 = f(em1, s"${name}_1")
      val tN = f(emN, s"${name}_N")
      println(f"$name%-12s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }

    // ---- round-11 statistics batch (q265–q282): every op collapses the
    // corpus map-side to a model-sized table (cells, strata, vocabulary,
    // per-key series), so all should scale ~linearly or better. Replicas
    // add USERS/event-ids (disjoint), categories stay fixed — the
    // realistic "more traffic, same schema" shape.
    def ksTestTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(when(pmod(col("user_id"), lit(2)) === 0, "a")
          .otherwise("b").as("g"), col("value"))
      val t0 = System.nanoTime()
      graft.ops.Features.ksTestTwoSample(base, "g", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def fleissTime(df: DataFrame, tag: String): Double = {
      // items scale with event_ids; 4 raters per item via id arithmetic
      val base = df.filter(col("event_id").isNotNull && col("value").isNotNull)
        .select(expr("event_id div 4").as("item"),
          pmod(col("event_id"), lit(4)).as("rater"),
          floor(col("value") / 25.0).cast("long").as("label"))
      val t0 = System.nanoTime()
      graft.ops.Eval.fleissKappa(base, "item", "rater", "label", r = 4)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def cramersVTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("event_type").isNotNull && col("value").isNotNull)
        .withColumn("dec", floor(col("value") / 10.0).cast("long"))
      val t0 = System.nanoTime()
      graft.ops.Eval.cramersV(base, "event_type", "dec")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def friedmanTime(df: DataFrame, tag: String): Double = {
      // blocks = users (scale with data), treatments = 5 event types
      val base = df.filter(col("user_id").isNotNull &&
        col("event_type").isNotNull && col("value").isNotNull)
      val t0 = System.nanoTime()
      graft.ops.Features.friedmanTest(base, "user_id", "event_type", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def kendallsWTime(df: DataFrame, tag: String): Double = {
      // raters = 5 event types, items = user buckets (scale with data)
      val base = df.filter(col("user_id").isNotNull &&
          col("event_type").isNotNull && col("value").isNotNull)
        .withColumn("item", expr("user_id div 10"))
      val t0 = System.nanoTime()
      graft.ops.Eval.kendallsW(base, "event_type", "item", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def brierTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("value").isNotNull && col("user_id").isNotNull)
        .select((col("value") / 100.0).as("score"),
          (pmod(col("user_id"), lit(3)) === 0).as("y"))
      val t0 = System.nanoTime()
      graft.ops.Eval.brierDecomposition(base, "y", "score", bins = 20)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def neymanTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("event_type").isNotNull && col("value").isNotNull)
      val t0 = System.nanoTime()
      graft.ops.Sampling.neymanAllocation(base, "event_type", "value",
          budget = 10000L)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def hellingerTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(when(pmod(col("user_id"), lit(2)) === 0, "a")
          .otherwise("b").as("g"),
          floor(col("value") / 5.0).cast("long").as("l"))
      val t0 = System.nanoTime()
      graft.ops.Eval.hellingerDistance(base, "g", "l")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def pagesTrendTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull &&
          col("event_type").isNotNull && col("value").isNotNull)
        .withColumn("dose", length(col("event_type")).cast("long"))
      val t0 = System.nanoTime()
      graft.ops.Features.pagesTrendTest(base, "user_id", "dose", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def caTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("value").isNotNull && col("user_id").isNotNull)
        .select(floor(col("value") / 10.0).cast("long").as("decile"),
          (pmod(col("user_id"), lit(3)) === 0).as("y"))
      val t0 = System.nanoTime()
      graft.ops.Causal.cochranArmitage(base, "decile", "y")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def mhTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("event_type").isNotNull &&
          col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("t", pmod(col("user_id"), lit(2)) === 0)
        .withColumn("y", col("value") >= 50.0)
      val t0 = System.nanoTime()
      graft.ops.Causal.mantelHaenszel(base, "event_type", "t", "y")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def bfTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("event_type").isNotNull && col("value").isNotNull)
      val t0 = System.nanoTime()
      graft.ops.Features.brownForsythe(base, "event_type", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def cronbachTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull &&
        col("event_type").isNotNull && col("value").isNotNull)
      val t0 = System.nanoTime()
      graft.ops.Eval.cronbachAlpha(base, "user_id", "event_type", "value",
          k = 5)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def linCccTime(df: DataFrame, tag: String): Double = {
      // the q278 shape: per-user exact micro means of two event halves
      val per = df.filter(col("user_id").isNotNull &&
          col("event_id").isNotNull && col("value").isNotNull &&
          col("value") >= 0.0)
        .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id")
        .agg(sum(when(pmod(col("event_id"), lit(2)) === 0, col("__vm")))
            .as("se"),
          count(when(pmod(col("event_id"), lit(2)) === 0, 1)).as("ne"),
          sum(when(pmod(col("event_id"), lit(2)) === 1, col("__vm")))
            .as("so"),
          count(when(pmod(col("event_id"), lit(2)) === 1, 1)).as("no"))
        .filter(col("ne") > 0 && col("no") > 0)
        .select(expr("se div ne").as("x"), expr("so div no").as("y"))
      val t0 = System.nanoTime()
      graft.ops.Features.linCccMicro(per, "x", "y")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def ljungBoxTime(df: DataFrame, tag: String): Double = {
      // per-user hourly series: keys scale, series length stays fixed
      import graft.engine.EventTime
      val hourly = df.filter(col("user_id").isNotNull &&
          col("ts").isNotNull && col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(df, "ts"))
        .withColumn("b", expr("__ms div 3600000"))
        .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id", "b").agg(sum("__vm").as("sv"))
      val t0 = System.nanoTime()
      graft.ops.TimeSeries.ljungBox(hourly, "user_id", "b", "sv", maxLag = 6)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def runsTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      val hourly = df.filter(col("user_id").isNotNull &&
          col("ts").isNotNull && col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(df, "ts"))
        .withColumn("b", expr("__ms div 3600000"))
        .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id", "b").agg(sum("__vm").as("sv"))
        .withColumn("hot", col("sv") >= 50000000L)
      val t0 = System.nanoTime()
      graft.ops.TimeSeries.runsTest(hourly, "user_id", "b", "hot")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def bowkerTime(df: DataFrame, tag: String): Double = {
      import org.apache.spark.sql.expressions.Window
      val ev = df.filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull && col("event_id").isNotNull)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val pairs = ev
        .withColumn("nx", lead(col("event_type"), 1).over(w))
        .filter(col("nx").isNotNull)
      val t0 = System.nanoTime()
      graft.ops.Eval.bowkerSymmetry(pairs, "event_type", "nx")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for ((name, f) <- Seq(
      ("ks_test", ksTestTime _), ("fleiss_kappa", fleissTime _),
      ("cramers_v", cramersVTime _), ("friedman", friedmanTime _),
      ("kendalls_w", kendallsWTime _), ("brier", brierTime _),
      ("neyman", neymanTime _), ("hellinger", hellingerTime _),
      ("pages_trend", pagesTrendTime _), ("cochran_armitage", caTime _),
      ("mantel_haenszel", mhTime _), ("brown_forsythe", bfTime _),
      ("cronbach", cronbachTime _), ("lin_ccc", linCccTime _),
      ("ljung_box", ljungBoxTime _), ("runs_test", runsTime _),
      ("bowker", bowkerTime _)) if wanted(name)) {
      val t1 = f(ev1, s"${name}_1")
      val tN = f(evN, s"${name}_N")
      println(f"$name%-12s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    def cohensDTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "a").otherwise("b"))
      val t0 = System.nanoTime()
      graft.ops.Causal.cohensD(base, "arm", "value")
      (System.nanoTime() - t0) / 1e9
    }
    def krippendorffTime(df: DataFrame, tag: String): Double = {
      // units = users (scale), raters = event types (variable per unit)
      val base = df.filter(col("user_id").isNotNull &&
          col("event_type").isNotNull && col("value").isNotNull &&
          col("value") >= 0.0)
        .withColumn("label", floor(col("value") / 25.0).cast("long"))
      val t0 = System.nanoTime()
      graft.ops.Eval.krippendorffAlpha(base, "user_id", "event_type",
          "label")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def coxStuartTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      val hourly = df.filter(col("user_id").isNotNull &&
          col("ts").isNotNull && col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(df, "ts"))
        .withColumn("b", expr("__ms div 3600000"))
        .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id", "b").agg(sum("__vm").as("sv"))
      val t0 = System.nanoTime()
      graft.ops.TimeSeries.coxStuart(hourly, "user_id", "b", "sv")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def designEffectTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("event_type").isNotNull &&
        col("value").isNotNull)
      val t0 = System.nanoTime()
      graft.ops.Sampling.designEffect(base, "event_type", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def grubbsTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("event_id").isNotNull &&
        col("value").isNotNull)
      val t0 = System.nanoTime()
      graft.ops.Features.grubbsOutliers(base, "event_id", "value", k = 20)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def moodsTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("event_type").isNotNull &&
        col("value").isNotNull)
      val t0 = System.nanoTime()
      graft.ops.Features.moodsMedian(base, "event_type", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def dwTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      val hourly = df.filter(col("user_id").isNotNull &&
          col("ts").isNotNull && col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(df, "ts"))
        .withColumn("b", expr("__ms div 3600000"))
        .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
        .groupBy("user_id", "b").agg(sum("__vm").as("sv"))
      val t0 = System.nanoTime()
      graft.ops.TimeSeries.durbinWatson(hourly, "user_id", "b", "sv")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def tostTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "a").otherwise("b"))
      val t0 = System.nanoTime()
      graft.ops.Causal.tostEquivalence(base, "arm", "value", 5000000L)
      (System.nanoTime() - t0) / 1e9
    }
    def rateRatioTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      val base = df.filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_type").isNotNull)
        .withColumn("t_ms", EventTime.epochMillis(df, "ts"))
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "a").otherwise("b"))
        .withColumn("e", col("event_type") === "error")
      val t0 = System.nanoTime()
      graft.ops.Causal.rateRatioTest(base, "arm", "t_ms", "e")
      (System.nanoTime() - t0) / 1e9
    }
    def cvmTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(when(pmod(col("user_id"), lit(2)) === 0, "a")
          .otherwise("b").as("g"), col("value"))
      val t0 = System.nanoTime()
      graft.ops.Features.cramerVonMises(base, "g", "value")
      (System.nanoTime() - t0) / 1e9
    }
    for ((name, f) <- Seq(
      ("cohens_d", cohensDTime _), ("krippendorff", krippendorffTime _),
      ("cox_stuart", coxStuartTime _),
      ("design_effect", designEffectTime _),
      ("grubbs", grubbsTime _), ("moods_median", moodsTime _),
      ("durbin_watson", dwTime _), ("cvm", cvmTime _),
      ("tost", tostTime _), ("rate_ratio", rateRatioTime _)) if wanted(name)) {
      val t1 = f(ev1, s"${name}_1")
      val tN = f(evN, s"${name}_N")
      println(f"$name%-12s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    def burstinessTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.Corpus.termBurstiness(df, "doc_id", "text",
          minDf = 5L, k = 50)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (wanted("burstiness")) {
      val t1 = burstinessTime(doc1, "burstiness_1")
      val tN = burstinessTime(docNPlain, "burstiness_N")
      println(f"burstiness   1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    // Round-12 batch: graph one-number audits on the user→item edge
    // shape (replicas add users against the same catalog, so degree
    // skew grows with data as live traffic would)
    def userItemEdges(df: DataFrame) = df
      .filter(col("user_id").isNotNull)
      .select(col("user_id"),
        (get_json_object(col("props"), "$.k").cast("long") + 100000L).as("item"))
    def assortTime(df: DataFrame, tag: String): Double = {
      val ed = userItemEdges(df)
      val t0 = System.nanoTime()
      graft.ops.Graph.degreeAssortativity(ed, "user_id", "item")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def modularityTime(df: DataFrame, tag: String): Double = {
      val ed = userItemEdges(df)
      val lab = ed.select(col("user_id").as("node"))
        .unionByName(ed.select(col("item").as("node")))
        .distinct()
        .withColumn("lab", (col("node") % 7).cast("string"))
      val t0 = System.nanoTime()
      graft.ops.Graph.modularity(ed, "user_id", "item", lab, "node", "lab")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def kuiperTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "a").otherwise("b"))
      val t0 = System.nanoTime()
      graft.ops.Features.kuiperTwoSample(base, "arm", "value")
      (System.nanoTime() - t0) / 1e9
    }
    def energyTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "a").otherwise("b"))
      val t0 = System.nanoTime()
      graft.ops.Features.energyDistance(base, "arm", "value")
      (System.nanoTime() - t0) / 1e9
    }
    def hlTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "a").otherwise("b"))
        .withColumn("v10", floor(col("value") * 10) / 10.0)
      val t0 = System.nanoTime()
      graft.ops.Features.hodgesLehmannShift(base, "arm", "v10")
      (System.nanoTime() - t0) / 1e9
    }
    def adTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "a").otherwise("b"))
      val t0 = System.nanoTime()
      graft.ops.Features.andersonDarlingTwoSample(base, "arm", "value")
      (System.nanoTime() - t0) / 1e9
    }
    def phTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      val hourly = df.filter(col("event_type").isNotNull &&
          col("ts").isNotNull && col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(df, "ts"))
        .withColumn("b", expr("__ms div 3600000"))
        .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
        .groupBy("event_type", "b").agg(sum("__vm").as("sv"))
      val t0 = System.nanoTime()
      graft.ops.TimeSeries.pageHinkley(hourly, "event_type", "b", "sv",
          lambdaMicro = 100000000000L)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for ((name, f) <- Seq(
      ("assortativity", assortTime _), ("modularity", modularityTime _),
      ("kuiper", kuiperTime _), ("energy_dist", energyTime _),
      ("hodges_lehmann", hlTime _), ("anderson_darling", adTime _),
      ("page_hinkley", phTime _)) if wanted(name)) {
      val t1 = f(ev1, s"${name}_1")
      val tN = f(evN, s"${name}_N")
      println(f"$name%-16s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    def seasonalStrengthTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      // keys scale with replicas (user bucket in the key) so per-key
      // mass stays bounded — replicas onto 5 fixed types would blow the
      // documented decimal headroom of the double-scaled sums instead
      val hourly = df.filter(col("event_type").isNotNull &&
          col("user_id").isNotNull &&
          col("ts").isNotNull && col("value").isNotNull)
        .withColumn("k", concat(col("event_type"), lit("_"),
          (col("user_id") % 64).cast("string")))
        .withColumn("__ms", EventTime.epochMillis(df, "ts"))
        .withColumn("b", expr("__ms div 3600000"))
        .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
        .groupBy("k", "b").agg(sum("__vm").as("sv"))
      val t0 = System.nanoTime()
      graft.ops.TimeSeries.seasonalStrength(hourly, "k", "b", "sv",
          period = 24)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def seasonalMkTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      // key by (type, user bucket) so keys scale with replicas while
      // each (key, phase) series stays weeks-sized
      val daily = df.filter(col("event_type").isNotNull &&
          col("user_id").isNotNull &&
          col("ts").isNotNull && col("value").isNotNull)
        .withColumn("k", concat(col("event_type"), lit("_"),
          (col("user_id") % 64).cast("string")))
        .withColumn("__ms", EventTime.epochMillis(df, "ts"))
        .withColumn("day", expr("__ms div 86400000"))
        .withColumn("__v", floor(col("value") * 1e6).cast("long"))
        .groupBy("k", "day").agg(sum("__v").as("sv"))
      val t0 = System.nanoTime()
      graft.ops.TimeSeries.seasonalMannKendall(daily, "k", "day", "sv",
          period = 7)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def partialCorrTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      val u = df.filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(df, "ts"))
        .groupBy("user_id")
        .agg(count(lit(1)).cast("double").as("nx"),
          (sum(floor(col("value") * 1e6).cast("long")) / 1e6).as("sy"),
          ((max("__ms") - min("__ms")) / lit(86400000.0)).as("zd"))
      val t0 = System.nanoTime()
      graft.ops.Features.partialCorrelation(u, "nx", "sy", "zd")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def chowTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      val daily = df.filter(col("event_type").isNotNull &&
          col("ts").isNotNull && col("value").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(df, "ts"))
        .withColumn("day", expr("__ms div 86400000"))
        .withColumn("__vm", floor(col("value") * 1e6).cast("long"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("cnt"), sum("__vm").as("sv"))
        .withColumn("xd", (col("day") - lit(19723L)).cast("double"))
        .withColumn("yv", (col("sv") / lit(1e6)) / col("cnt"))
        .withColumn("post", col("day") >= 19738L)
      val t0 = System.nanoTime()
      graft.ops.Features.chowTest(daily, "event_type", "xd", "yv", "post")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for ((name, f) <- Seq(
      ("seasonal_str", seasonalStrengthTime _),
      ("seasonal_mk", seasonalMkTime _),
      ("partial_corr", partialCorrTime _), ("chow", chowTime _))
        if wanted(name)) {
      val t1 = f(ev1, s"${name}_1")
      val tN = f(evN, s"${name}_N")
      println(f"$name%-16s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    def captureRecaptureTime(df: DataFrame, tag: String): Double = {
      import graft.engine.EventTime
      val base = df.filter(col("user_id").isNotNull && col("ts").isNotNull)
        .withColumn("__ms", EventTime.epochMillis(df, "ts"))
        .withColumn("__day", expr("__ms div 86400000"))
      val t0 = System.nanoTime()
      graft.ops.Dedup.captureRecapture(
          base.filter(col("__day") < 19738L), "user_id",
          base.filter(col("__day") >= 19738L), "user_id")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def hillTailTime(df: DataFrame, tag: String): Double = {
      val counts = df.filter(col("user_id").isNotNull)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val t0 = System.nanoTime()
      graft.ops.Features.hillTailIndex(counts, "cnt", k = 10)
      (System.nanoTime() - t0) / 1e9
    }
    def covBalanceTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("event_type").isNotNull &&
          col("user_id").isNotNull && col("value").isNotNull)
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2)) === 0, "a").otherwise("b"))
      val t0 = System.nanoTime()
      graft.ops.Causal.covariateBalance(base, "event_type", "arm", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def mvOutTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("event_id").isNotNull &&
          col("value").isNotNull && col("user_id").isNotNull)
        .withColumn("u100", (col("user_id") % 100).cast("double"))
      val t0 = System.nanoTime()
      graft.ops.Features.multivariateOutliers(base, "event_id",
          Seq("value", "u100"), k = 20)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for ((name, f) <- Seq(
      ("capture_recap", captureRecaptureTime _),
      ("hill_tail", hillTailTime _),
      ("cov_balance", covBalanceTime _),
      ("mv_outliers", mvOutTime _)) if wanted(name)) {
      val t1 = f(ev1, s"${name}_1")
      val tN = f(evN, s"${name}_N")
      println(f"$name%-16s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    def yulesKTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.Corpus.yulesK(df, "source", "text")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (wanted("yules_k")) {
      val t1 = yulesKTime(doc1, "yules_k_1")
      val tN = yulesKTime(docNPlain, "yules_k_N")
      println(f"yules_k          1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    def centroidMatrixTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.Similarity.centroidCosineMatrix(df, "label", "embedding")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (wanted("centroid_matrix")) {
      val t1 = centroidMatrixTime(em1, "cm_1")
      val tN = centroidMatrixTime(emN, "cm_N")
      println(f"centroid_matrix  1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    def dunnTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.Features.dunnPosthoc(df, "event_type", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def dispersionTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).cast("double").as("cnt"))
      val t0 = System.nanoTime()
      graft.ops.Features.dispersionIndex(base, "event_type", "cnt")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def isotonicTime(df: DataFrame, tag: String): Double = {
      val base = df.select((col("user_id") % 2 === 0).as("label"),
        (col("value") / 500.0).as("score"))
      val t0 = System.nanoTime()
      graft.ops.Eval.isotonicCalibration(base, "label", "score", bins = 12)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for ((name, f) <- Seq(
      ("dunn_posthoc", dunnTime _),
      ("dispersion", dispersionTime _),
      ("isotonic", isotonicTime _)) if wanted(name)) {
      val t1 = f(ev1, s"${name}_1")
      val tN = f(evN, s"${name}_N")
      println(f"$name%-16s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    def weightedKappaTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("value").isNotNull && col("user_id").isNotNull)
        .select(
          least(greatest(floor(col("value") / 100.0), lit(0L)), lit(5L)).as("ra"),
          least(greatest(floor((col("value") + pmod(col("user_id"), lit(50L))) / 100.0),
            lit(0L)), lit(5L)).as("rb"))
      val t0 = System.nanoTime()
      graft.ops.Eval.weightedKappa(base, "ra", "rb")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def gwetTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_type").as("ra"),
          when(col("value") > 250, col("event_type")).otherwise(lit("other")).as("rb"))
      val t0 = System.nanoTime()
      graft.ops.Eval.gwetAc1(base, "ra", "rb")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def cohensHTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .select(when(pmod(col("user_id"), lit(2)) === 0, "a").otherwise("b").as("arm"),
          (col("value") > 250).as("s"))
      val t0 = System.nanoTime()
      graft.ops.Causal.cohensH(base, "arm", "s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for ((name, f) <- Seq(
      ("weighted_kappa", weightedKappaTime _),
      ("gwet_ac1", gwetTime _),
      ("cohens_h", cohensHTime _)) if wanted(name)) {
      val t1 = f(ev1, s"${name}_1")
      val tN = f(evN, s"${name}_N")
      println(f"$name%-16s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    def hhiTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.Corpus.hhiConcentration(df, "lang", "source")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (wanted("hhi")) {
      val t1 = hhiTime(doc1, "hhi_1")
      val tN = hhiTime(docNPlain, "hhi_N")
      println(f"hhi              1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }

    // Round-14 batch (q319–q324): all collapse the corpus map-side to a
    // cell/bin/centroid model table; replicas add users/event-ids, the
    // label domains stay fixed — linear or better expected.
    def scottsPiTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("value").isNotNull && col("user_id").isNotNull)
        .select(
          least(greatest(floor(col("value") / 100.0), lit(0L)), lit(5L)).as("ra"),
          least(greatest(floor((col("value") + pmod(col("user_id"), lit(50L))) / 100.0),
            lit(0L)), lit(5L)).as("rb"))
      val t0 = System.nanoTime()
      graft.ops.Eval.scottsPi(base, "ra", "rb")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def gkLambdaTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("event_type").isNotNull && col("value").isNotNull)
        .select(col("event_type").as("a"),
          least(greatest(floor(col("value") / 100.0), lit(0L)), lit(5L)).as("b"))
      val t0 = System.nanoTime()
      graft.ops.Eval.gkLambda(base, "a", "b")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def theilsUTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("event_type").isNotNull && col("user_id").isNotNull)
        .select(col("event_type").as("a"),
          pmod(col("user_id"), lit(20)).as("b"))
      val t0 = System.nanoTime()
      graft.ops.Eval.theilsU(base, "a", "b")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def youdenTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .select((pmod(col("user_id"), lit(3)) === 0).as("y"),
          (col("value") / 500.0).as("score"))
      val t0 = System.nanoTime()
      graft.ops.Eval.youdenJ(base, "y", "score", bins = 20)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def spiegelhalterTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .select((pmod(col("user_id"), lit(3)) === 0).as("y"),
          (col("value") / 500.0).as("score"))
      val t0 = System.nanoTime()
      graft.ops.Eval.spiegelhalterZ(base, "y", "score")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for ((name, f) <- Seq(
      ("scotts_pi", scottsPiTime _), ("gk_lambda", gkLambdaTime _),
      ("theils_u", theilsUTime _), ("youden_j", youdenTime _),
      ("spiegelhalter", spiegelhalterTime _)) if wanted(name)) {
      val t1 = f(ev1, s"${name}_1")
      val tN = f(evN, s"${name}_N")
      println(f"$name%-16s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    def chTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.Similarity.calinskiHarabasz(df, "label", "embedding")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (wanted("calinski")) {
      val t1 = chTime(em1, "ch_1")
      val tN = chTime(emN, "ch_N")
      println(f"calinski         1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    // Second round-14 batch (q325–q328): one-aggregate classifier
    // metrics, the token freq-of-freq profile, and the per-query-window
    // MAP rollup.
    def mccTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .select((pmod(col("user_id"), lit(3)) === 0).as("y"),
          (col("value") > 200).as("p"))
      val t0 = System.nanoTime()
      graft.ops.Eval.matthewsCorrelation(base, "y", "p")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def logLossTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull && col("value").isNotNull)
        .select((pmod(col("user_id"), lit(3)) === 0).as("y"),
          (col("value") / 500.0).as("score"))
      val t0 = System.nanoTime()
      graft.ops.Eval.logLoss(base, "y", "score")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def mapTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("user_id").isNotNull &&
          col("event_id").isNotNull && col("value").isNotNull)
        .withColumn("score",
          md5(concat(lit("s9|"), col("event_id").cast("string"))))
        .withColumn("rel", col("value") >= 50.0)
      val t0 = System.nanoTime()
      graft.ops.Eval.meanAveragePrecision(base, "user_id", "event_id",
          "score", "rel", k = 10)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for ((name, f) <- Seq(
      ("mcc", mccTime _), ("log_loss", logLossTime _),
      ("map_at_k", mapTime _)) if wanted(name)) {
      val t1 = f(ev1, s"${name}_1")
      val tN = f(evN, s"${name}_N")
      println(f"$name%-16s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    def gtTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.Corpus.goodTuring(df, "text", maxR = 10)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (wanted("good_turing")) {
      val t1 = gtTime(doc1, "gt_1")
      val tN = gtTime(docN, "gt_N")
      println(f"good_turing      1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    def bigramEntTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.TextOps.bigramConditionalEntropy(df, "text")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (wanted("bigram_entropy")) {
      // salted replicas mint distinct cross-replica bigrams, so the cell
      // table scales linearly — the explode+count is the load
      val t1 = bigramEntTime(doc1, "be_1")
      val tN = bigramEntTime(docN, "be_N")
      println(f"bigram_entropy   1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }
    def bartlettTime(df: DataFrame, tag: String): Double = {
      val base = df.filter(col("event_type").isNotNull && col("value").isNotNull)
      val t0 = System.nanoTime()
      graft.ops.Features.bartlett(base, "event_type", "value")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    if (wanted("bartlett")) {
      val t1 = bartlettTime(ev1, "bt_1")
      val tN = bartlettTime(evN, "bt_N")
      println(f"bartlett         1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }

    // ---- Round-14: the heavy dedup/similarity family's remaining q-shapes
    // (q55 winnowing, q98 containment, q60 dedup_apply, q73 keep_best,
    // q136 lsh_audit), added so the 64x tier covers the whole family.
    // Salted docN protocol: cross-replica shingles distinct, dfs flat,
    // pair density constant — pure volume scaling.
    def winnowTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.TextOps.winnowingFingerprint(df, "text", "doc_id", k = 8, w = 4)
        .select(col("doc_id"), md5(col("winnow_fp")).as("fp_md5"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def containTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      graft.ops.Dedup.containmentPairs(df, "doc_id", "text", 3, 0.6)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def dedupApplyTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      val pairs = graft.ops.Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5)
      graft.ops.Cluster.dedupApply(
          df.select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
          "doc_id", pairs, "id_a", "id_b")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def keepBestTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      val pairs = graft.ops.Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5)
      graft.ops.Cluster.dedupApplyByScore(
          df.select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
          "doc_id", "n_chars", pairs, "id_a", "id_b")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def lshAuditTime(df: DataFrame, tag: String): Double = {
      val t0 = System.nanoTime()
      val exact = graft.ops.Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5)
        .select(col("id_a"), col("id_b"))
      val cand = graft.ops.Dedup.minhashLshPairs(df, "doc_id", "text")
      val hit = exact.join(cand, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for ((name, f) <- Seq(
      ("winnowing", winnowTime _), ("containment", containTime _),
      ("dedup_apply", dedupApplyTime _), ("keep_best", keepBestTime _),
      ("lsh_audit", lshAuditTime _)) if wanted(name)) {
      val t1 = f(doc1, s"${name}_1")
      val tN = f(docN, s"${name}_N")
      println(f"$name%-16s 1x=${t1}%6.2fs  ${mult}x=${tN}%6.2fs  ratio=${tN / t1}%.1f (linear=$mult.0)")
    }

    // ---- Round-14 CAP-ONSET stress (built for mult=64): the pair-stage
    // hard caps (maxBucket / maxDf) have green 8x ratios, but 8x never
    // pushes a hot key PAST a cap — these entries make one key's mass grow
    // WITH the corpus so the cap's active regime is actually observed:
    //   capped(Nx)   — the hot key crosses the cap and is STAR-SALVAGED
    //                  (round 15; pre-salvage it was dropped outright);
    //                  time must stay ~linear vs capped(1x),
    //   uncapped(Nx) — the same key is KEPT; time measures the quadratic
    //                  onset the cap exists to prevent,
    //   at-cap(Nx)   — a key sized just UNDER the default cap is kept;
    //                  time bounds the worst single-bucket straggler the
    //                  DEFAULT allows (the cap-adequacy number).
    // Base corpus is salted docN (flat dfs), so the hot key is the ONLY
    // quadratic term and the A/B difference isolates it.
    if (wanted("minhash_capstress")) {
      val hotText = "the quick brown fox jumps over the lazy dog while the " +
        "cat watches from the window and the birds sing in the garden today"
      def withHot(df: DataFrame, every: Int) = df.withColumn("text",
        when(pmod(col("doc_id") % 10000000L, lit(every)) === 0, lit(hotText))
          .otherwise(col("text")))
      def t(maxBucket: Long, df: DataFrame): Double = {
        val t0 = System.nanoTime()
        graft.ops.Dedup.minhashLshPairs(df, "doc_id", "text",
            maxBucket = maxBucket)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // doc_id%25==0 in every replica: 200 identical docs at 1x, 200*mult
      // at Nx — one bucket per band crossing maxBucket=10000 at mult>=51
      val c1 = t(10000L, withHot(doc1, 25))
      val cN = t(10000L, withHot(docN, 25))
      val uN = t(1000000000L, withHot(docN, 25))
      // %34: 148/replica -> 9472 at 64x, just under the default cap
      val aN = t(10000L, withHot(docN, 34))
      println(f"minhash_capstress capped 1x=${c1}%6.2fs ${mult}x=${cN}%6.2fs " +
        f"(ratio ${cN / c1}%.1f, linear=$mult.0); uncapped ${mult}x=${uN}%6.2fs " +
        f"(onset ${uN / cN}%.1fx over capped); at-cap-bucket ${mult}x=${aN}%6.2fs")
    }
    // Round-15 SALVAGE proof at the cap-onset scale: the same over-cap
    // family that pre-salvage yielded ZERO pairs must now come back fully
    // star-linked — every family member in exactly one pair with the
    // min-id representative (famN−1 pairs, both ends ≡0 mod 25) — while
    // the capped runtime above stays linear. Correctness companion to the
    // minhash_capstress timing row; replays the q331 contract at 64×.
    if (wanted("minhash_capsalvage")) {
      val hotText = "the quick brown fox jumps over the lazy dog while the " +
        "cat watches from the window and the birds sing in the garden today"
      val hotN = docN.withColumn("text",
        when(pmod(col("doc_id") % 10000000L, lit(25)) === 0, lit(hotText))
          .otherwise(col("text")))
      val famN = hotN.filter(pmod(col("doc_id") % 10000000L, lit(25)) === 0)
        .count()
      val t0 = System.nanoTime()
      val pairs = graft.ops.Dedup.minhashLshPairs(hotN, "doc_id", "text",
        maxBucket = 10000L)
      val famPairs = pairs.filter(
        pmod(col("id_a") % 10000000L, lit(25)) === 0 &&
          pmod(col("id_b") % 10000000L, lit(25)) === 0).count()
      val tS = (System.nanoTime() - t0) / 1e9
      val audited = graft.ops.Dedup.minhashLshOverCapBuckets(
        hotN, "doc_id", "text", maxBucket = 10000L).count()
      println(f"minhash_capsalvage fam=$famN pairs=$famPairs " +
        f"(expect fam-1=${famN - 1}) hot_buckets=$audited t=${tS}%6.2fs " +
        (if (famPairs == famN - 1) "OK" else "MISMATCH"))
    }
    if (wanted("jaccard_capstress")) {
      // one fixed 3-word tail per 20th doc: ~1 hot shingle whose df grows
      // with the corpus (250 at 1x, 250*mult at Nx — past maxDf=10000 at
      // mult>=41); boundary shingles stay per-doc-distinct on salted text
      def withHot(df: DataFrame) = df.withColumn("text",
        when(pmod(col("doc_id") % 10000000L, lit(20)) === 0,
          concat(col("text"), lit(" zq alpha beta gamma")))
          .otherwise(col("text")))
      def t(maxDf: Long, df: DataFrame): Double = {
        val t0 = System.nanoTime()
        graft.ops.Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.5, maxDf)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val c1 = t(10000L, withHot(doc1))
      val cN = t(10000L, withHot(docN))
      val uN = t(1000000000L, withHot(docN))
      println(f"jaccard_capstress capped 1x=${c1}%6.2fs ${mult}x=${cN}%6.2fs " +
        f"(ratio ${cN / c1}%.1f, linear=$mult.0); uncapped ${mult}x=${uN}%6.2fs " +
        f"(onset ${uN / cN}%.1fx over capped)")
    }
    spark.stop()
  }
}
