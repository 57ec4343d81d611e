package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.SplittableRandom

/** Seeded input generators. Every table is a pure function of the seed, so
  * the same seed gives the same rows; shapes follow the sf0.1 tables the
  * library's inventory runs on (events over 30 days and 1500 users, orders,
  * 5000 documents over a 31-word vocabulary). The order table is a tenth of
  * sf0.1's 150k rows; README.md says why.
  */
object Gen {
  val Day: Long = 86400000L
  val Hour: Long = 3600000L
  /** 2024-01-01T00:00:00Z */
  val Epoch2024: Long = 1704067200000L

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 1000003L + salt)

  // ---------------------------------------------------------------- offline
  val EventUsers = 1500
  val EventRows = 100000
  val EventSpan: Long = 30 * Day
  private val eventTypes = Seq("view", "click", "purchase", "signup", "error")

  /** A seeded hash of the row id: the same (seed, salt, id) always gives
    * the same value, whatever the partitioning.
    */
  private def h(seed: Long, salt: Int, mod: Long): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(mod))

  private def pick(values: Seq[String], seed: Long, salt: Int): Column =
    element_at(array(values.map(lit): _*), (h(seed, salt, values.size) + 1).cast("int"))

  /** (event_id, user_id, ts_ms, event_type, value). Timestamps are
    * distinct across the table, so no user has two events at one instant.
    */
  def events(spark: SparkSession, seed: Long): DataFrame = {
    val gap = EventSpan / EventRows
    spark.range(EventRows).select(
      col("id").as("event_id"),
      h(seed, 1, EventUsers).as("user_id"),
      (lit(Epoch2024) + col("id") * gap + h(seed, 2, gap)).as("ts_ms"),
      pick(eventTypes, seed, 3).as("event_type"),
      (h(seed, 4, 20000) / 100.0).as("value"))
  }

  val LabelRows = 200000
  val UnknownUserBase = 1000000L

  /** (label_id, user_id, ts_ms, label): uniform over the events' time
    * range; about 5% of rows name users that have no events.
    */
  def labels(spark: SparkSession, seed: Long): DataFrame =
    spark.range(LabelRows).select(
      col("id").as("label_id"),
      (when(h(seed, 11, 100) < 5, lit(UnknownUserBase)).otherwise(lit(0L)) +
        h(seed, 12, EventUsers)).as("user_id"),
      (lit(Epoch2024) + h(seed, 13, EventSpan)).as("ts_ms"),
      h(seed, 14, 2).cast("int").as("label"))

  // ----------------------------------------------------------------- online
  val OrderRows = 15000
  private val statuses = Seq("O", "F", "P")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Present order keys are 4i+1; 4i+3 is never a key. */
  def orderKey(i: Int): Long = 4L * i + 1

  /** (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    * epoch ms, o_orderpriority).
    */
  def orders(spark: SparkSession, seed: Long): DataFrame =
    spark.range(OrderRows).select(
      (col("id") * 4 + 1).as("o_orderkey"),
      (h(seed, 21, 15000) + 1).as("o_custkey"),
      pick(statuses, seed, 22).as("o_orderstatus"),
      ((h(seed, 23, 50000000) + 100000) / 100.0).as("o_totalprice"),
      (lit(694224000000L) + h(seed, 24, 2400L * Day)).as("o_orderdate"), // from 1992-01-01
      pick(priorities, seed, 25).as("o_orderpriority"))

  /** Request keys: Zipf(s) over the stored keys, with `missFraction` of
    * requests for absent keys. Rank r is the r-th order key, for every
    * seed: the seed draws the request sequence, while the hot set (and so
    * where the hot keys sit in the store) stays the same across seeds.
    */
  def requestKeys(seed: Long, n: Int, s: Double = 1.1, missFraction: Double = 0.05): Array[Long] = {
    val r = rng(seed, 4)
    val cdf = new Array[Double](OrderRows)
    var acc = 0.0
    var k = 0
    while (k < OrderRows) { acc += 1.0 / math.pow(k + 1, s); cdf(k) = acc; k += 1 }
    Array.fill(n) {
      if (r.nextDouble() < missFraction) 4L * r.nextInt(OrderRows) + 3
      else {
        val u = r.nextDouble() * acc
        var lo = 0; var hi = OrderRows - 1
        while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
        orderKey(lo)
      }
    }
  }

  // -------------------------------------------------------------- streaming
  val StreamKeys = 2000
  val ChunkDays = 2
  val MaxOutOfOrder: Long = Hour

  /** Events (key, value, t_ms) of chunk `c`, which covers event days
    * [2c, 2c+2) from 2024-01-01: 1-9 events per key and day (5 on
    * average), in time order except that 5% arrive late by up to half of
    * [[MaxOutOfOrder]].
    */
  def streamChunk(seed: Long, c: Int): Seq[(String, Long, Long)] = {
    val r = rng(seed, 100L + c)
    val rows = for {
      d <- c * ChunkDays until (c + 1) * ChunkDays
      k <- 0 until StreamKeys
      _ <- 0 until 1 + r.nextInt(9)
    } yield (f"k$k%04d", 1L + r.nextInt(100), Epoch2024 + d * Day + r.nextLong(Day))
    rows.sortBy(_._3).map { e =>
      if (r.nextDouble() < 0.05) e.copy(_3 = e._3 - r.nextLong(MaxOutOfOrder / 2)) else e
    }
  }

  // ----------------------------------------------------------------- corpus
  val Docs = 5000
  private val vocab = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")
  private val langs = Array("en", "en", "de", "fr", "es", "zh")

  /** (doc_id, text, lang, source, n_chars), rows in a seeded order. A
    * quarter of the documents are edited copies (0-4 word substitutions,
    * sometimes one dropped word) of an earlier one, so near-duplicate
    * clusters of several sizes exist around the 0.5 Jaccard threshold.
    */
  def documents(seed: Long): Seq[(Long, String, String, String, Long)] = {
    val r = rng(seed, 5)
    val texts = new Array[Array[String]](Docs)
    for (i <- 0 until Docs) {
      texts(i) =
        if (i > 0 && r.nextDouble() < 0.25) {
          val w = texts(r.nextInt(i)).clone()
          for (_ <- 0 until r.nextInt(5)) w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length))
          if (w.length > 10 && r.nextDouble() < 0.3) {
            val drop = r.nextInt(w.length)
            w.patch(drop, Nil, 1)
          } else w
        } else Array.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length)))
    }
    val order = Array.tabulate(Docs)(identity)
    var i = Docs - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1 }
    order.toSeq.map { id =>
      val text = texts(id).mkString(" ")
      (id.toLong, text, langs(id % langs.length), s"src${id % 20}", text.length.toLong)
    }
  }
}
