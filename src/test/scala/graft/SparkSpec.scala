package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local SparkSession per JVM (sbt forks one
  * test JVM), sf0.001 data for speed.
  */
object SparkSpec {
  // built like every production session (GraftSession.builder: extensions,
  // codegen cache, timezone, GRAFT_MASTER); only spec-local settings here
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", shufflePartitions = 4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
  def run(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
  /** the physical plan, for plan-shape assertions */
  def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
}
