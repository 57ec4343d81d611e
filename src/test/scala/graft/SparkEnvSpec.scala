package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The test suite runs on the same engine configuration the mains (Bench,
  * Verify, JobProf, ...) build through [[SparkEnv.session]], and no source
  * file outside SparkEnv builds a session of its own.
  */
class SparkEnvSpec extends SparkSuite {

  test("the test session carries the shared engine configuration") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.local.dir") == SparkEnv.localDir)
  }

  test("sessions are built only by SparkEnv and the bare-session Smoke main") {
    // split so this file does not match itself
    val needle = Seq("SparkSession", "builder").mkString(".")
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      val walk = Files.walk(dir)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.exists(_.getFileName.toString == "SparkEnv.scala"))
    val builders = sources.filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString).toSet
    val allowed = Set("SparkEnv.scala", "Smoke.scala")
    assert(builders == allowed,
      s"hand-built SparkSessions outside SparkEnv: ${builders -- allowed}")
  }
}
