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
    // Stop the session once the last suite is done. Spark runs its own
    // shutdown hooks inside one Hadoop hook (priority
    // FileSystem.SHUTDOWN_HOOK_PRIORITY + 30), where a local-cluster
    // worker kills its executors before SparkContext's hook stops the
    // application; one priority higher, this stop comes first. The stop
    // also sweeps the session's own local-cluster work dir.
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => GraftSession.stop(s), org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 31)
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
  def run(name: String, dir: String = sfDir): DataFrame =
    SparkEntry.queries(name)(spark, dir)
  /** the physical plan, for plan-shape assertions */
  def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
}
