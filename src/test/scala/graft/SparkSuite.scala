package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  import org.apache.spark.sql.types._

  /** F1 canonical 6-row purchases table
    * (ref: python/feathub/tests/feathub_it_test_base.py:250-265).
    */
  def purchases: DataFrame = {
    val rows = Seq(
      ("Alex", 100L, 100L, "2022-01-01 08:01:00"),
      ("Emma", 400L, 250L, "2022-01-01 08:02:00"),
      ("Alex", 300L, 200L, "2022-01-02 08:03:00"),
      ("Emma", 200L, 250L, "2022-01-02 08:04:00"),
      ("Jack", 500L, 500L, "2022-01-03 08:05:00"),
      ("Alex", 600L, 800L, "2022-01-03 08:06:00"))
    spark.createDataFrame(rows).toDF("name", "cost", "distance", "time")
  }

  def writeTempParquet(df: DataFrame, name: String): String = {
    val dir = s"${SparkSuite.tmpDir}/$name"
    df.write.mode("overwrite").parquet(dir)
    dir
  }
}

object SparkSuite {
  lazy val tmpDir: String =
    SparkEnv.scratchDir("graft-test")
  lazy val session: SparkSession = SparkEnv.session(4)
}
