package graft

import graft.client.GraftClient
import graft.table._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import scala.concurrent.duration._

/** Sustained-throughput measurement (dev aid) for the stateful streaming
  * twins — the rows/s companion to StreamingStateSpec's state-size
  * ratios: a 100 TB streaming story needs BOTH "state stays bounded"
  * and "rows drain faster than they arrive".
  *
  * Protocol: each operator is driven by a MemoryStream in FIXED event-
  * time chunks (the StreamingStateSpec harness — chunk, then
  * processAllAvailable), at two densities (rows per key per chunk, 1x
  * and 8x, key count constant so state is identical across densities).
  * One warmup chunk is fed before the clock starts; sustained rows/s =
  * timed rows / wall across the timed chunks. MemoryStream replay
  * rather than the wall-clock rate source: `format("rate")` couples the
  * measurement to the generator's pacing (a slow operator just lags an
  * unbounded backlog and every run "sustains" the configured rate),
  * while chunk+drain measures the OPERATOR's drain rate — the number
  * that says how many executors a given ingest rate needs.
  *
  * Run: `tools/run.sh graft.StreamBench [densities]` (default "1,8").
  * Prints one line per (operator, density): rows, wall, rows/s,
  * micro-batches. Results land in SCALE.md's round-14 section.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val densities = args.headOption.getOrElse("1,8")
      .split(",").map(_.trim.toInt).toSeq
    val spark = SparkEnv.session(SparkEnv.cpus)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.range(1000000).selectExpr("sum(id)").collect() // warmup

    val day = 86400000L

    /** Start `out` on a noop sink, feed `warmup`, then time `chunks`
      * (each drained with processAllAvailable). Returns (rows, wall s,
      * batches).
      */
    // fresh checkpoint root per PROCESS: reusing a prior run's committed
    // offsets against a new (empty) MemoryStream makes the source slice
    // negative ranges and the query dies with an internal error
    val ckRoot = java.nio.file.Files.createTempDirectory("sb_ck").toString
    def drive(out: DataFrame, name: String, warmup: () => Long,
        chunks: Seq[() => Long]): (Long, Double, Long) = {
      val query = out.writeStream.format("noop")
        .option("checkpointLocation", s"$ckRoot/sb_$name")
        .outputMode("append").start()
      try {
        warmup(); query.processAllAvailable()
        val b0 = query.lastProgress match {
          case null => 0L; case p => p.batchId
        }
        var rows = 0L
        val t0 = System.nanoTime()
        chunks.foreach { c => rows += c(); query.processAllAvailable() }
        val wall = (System.nanoTime() - t0) / 1e9
        val b1 = query.lastProgress match {
          case null => 0L; case p => p.batchId
        }
        (rows, wall, b1 - b0)
      } finally query.stop()
    }

    def report(op: String, d: Int, r: (Long, Double, Long)): Unit =
      println(f"$op%-16s density=${d}%-3d rows=${r._1}%8d wall=${r._2}%7.2fs " +
        f"rows/s=${r._1 / r._2}%9.0f batches=${r._3}")

    // --- StreamingSlidingWindows via the client path (the q11 twin):
    // 2000 users, 7d sum + 1d count, chunk = 2 event days; density =
    // rows per (user, day). State is O(users * span) at any density.
    for (d <- densities) {
      val stream = MemoryStream[(String, Long, Long)]
      val src = DataFrameSource(s"sb_sl_$d", stream.toDF().toDF("name", "cost", "t_ms"),
        keys = Some(Seq("name")), timestampField = Some("t_ms"),
        timestampFormat = "epoch_millis")
      val view = SlidingFeatureView(s"sb_slv_$d", src, features = Seq(
        Feature("s7", SlidingWindowTransform("cost", AggFunc.Sum, 7.days, 1.day, Seq("name"))),
        Feature("c1", SlidingWindowTransform("cost", AggFunc.Count, 1.day, 1.day, Seq("name")))))
      val out = new GraftClient(spark).getFeatures(view)
      def chunk(days: Range): () => Long = () => {
        val rows = for { dd <- days; u <- 0 until 2000; r <- 0 until d }
          yield (s"u$u", (dd * 7 + u + r).toLong, dd * day + r * 3600000L + u)
        stream.addData(rows); rows.length.toLong
      }
      val r = drive(out, s"sl_$d", chunk(0 until 2),
        (1 until 6).map(i => chunk(i * 2 until (i + 1) * 2)))
      report("sliding_7d_1d", d, r)
    }

    // --- StreamingDedup.markDuplicates (the q20 twin): 10k keys per
    // chunk window, density = copies per key; per-key settled state is
    // one timestamp, pending is lateness-bounded.
    for (d <- densities) {
      val stream = MemoryStream[(Long, Long, Long)]
      val sdf = stream.toDF().toDF("k", "doc_id", "t_ms")
        .withColumn("ts", timestamp_millis(col("t_ms")))
      val out = graft.streaming.StreamingDedup.markDuplicates(
        sdf, Seq("k"), "ts", "doc_id", lateness = 10.seconds,
        horizon = 1.hour)
      def chunk(i: Int): () => Long = () => {
        val base = i * 600000L
        val rows = for { k <- 0 until 10000; r <- 0 until d }
          yield ((k % 10000).toLong, (i * 100000 + k * d + r).toLong,
            base + r * 1000L + (k % 997))
        stream.addData(rows); rows.length.toLong
      }
      val r = drive(out, s"dd_$d", chunk(0), (1 until 6).map(chunk))
      report("dedup_mark", d, r)
    }

    // --- StreamingLsh.candidatePairs (the q22 twin): per-chunk distinct
    // texts (salted), density = docs per chunk multiplier; the per-row
    // map-side signature is the load, bucket state horizon-evicted.
    for (d <- densities) {
      val stream = MemoryStream[(Long, String, Long)]
      val sdf = stream.toDF().toDF("doc_id", "text", "t_ms")
        .withColumn("ts", timestamp_millis(col("t_ms")))
      val out = graft.streaming.StreamingLsh.candidatePairs(
        sdf, "doc_id", "text", "ts", lateness = 10.seconds,
        horizon = 10.minutes)
      def chunk(i: Int): () => Long = () => {
        val n = 1500 * d
        val base = i.toLong * n
        val rows = (0 until n).map { j =>
          val id = base + j
          (id, s"alpha$id beta${id % 7919} gamma delta epsilon zeta eta " +
            s"theta iota kappa w${id % 6007} lambda mu nu xi", i * 60000L + j)
        }
        stream.addData(rows); rows.length.toLong
      }
      val r = drive(out, s"lsh_$d", chunk(0), (1 until 6).map(chunk))
      report("lsh_candidates", d, r)
    }

    spark.stop()
  }
}
