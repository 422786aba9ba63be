package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query subset (local iteration);
    // the driver's 2-arg form dumps everything
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) =>
        (s, o, Some(f.split(",").map(_.trim).filter(_.nonEmpty).toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // STANDING GATE (r8 finding, r9 default): the correctness surface
    // runs through REAL executor processes — local-cluster[2,16,4096],
    // 2 workers, closures/custom expressions/broadcasts crossing a real
    // serializer — so a serialization regression can never re-enter
    // silently. Requires SPARK_SCALA_VERSION in the env (build.sbt sets
    // it for every forked run; without it the worker's executor-command
    // builder fails and jobs would HANG, so its absence routes straight
    // to local). GRAFT_MASTER still overrides both ways; any failure to
    // bring the cluster up falls back to plain local so the gate
    // degrades to the r7 behavior rather than failing the round.
    val clusterDefault =
      if (sys.env.contains("SPARK_SCALA_VERSION")) "local-cluster[2,16,4096]"
      else s"local[$cpus]"
    val master = GraftSession.effectiveMaster(clusterDefault)
    val spark =
      try {
        val s = GraftSession.builder(clusterDefault, cpus.toInt).getOrCreate()
        s.range(16).repartition(4).count() // prove the executor path live
        s
      } catch {
        case e: Throwable if master.startsWith("local-cluster") =>
          System.err.println(
            s"[verify] $master unavailable (${e.getMessage}); using local[$cpus]")
          org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
          GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
      }
    System.err.println(s"[verify] master = ${spark.sparkContext.master}")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A throwing query must not silently shrink the correctness surface:
    // record it in failures.json so a regression is visible to the gate.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += name -> String.valueOf(e.getMessage).take(500)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    GraftSession.stop(spark)
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed: ${failures.keys.mkString(", ")}")
    }
  }
}
