package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{CacheScope, GraftSession, IndexCache, SparkEntry, Tables}
import graft.operators.{Events, Relational}
import graft.sources.Io

/** One benchmark run in one JVM: start a graft session, load the tables,
  * then run the call plan `run.py` generated (a cold pass, warm-up passes
  * and the timed window, each a list of calls) with one client thread.
  *
  * Arguments are `key=value`: plan, data, work, slots, trace, and with
  * trace=1 kernels (the fixed sample the kernel timings read).
  * Writes `oracle_sql.json` (the registered oracle of each query called),
  * `result.json` (per-call and per-pass timings, the run record,
  * and with trace=1 the spans and scheduler records) and `rows.jsonl`
  * (each AutoAPI result, rendered for the oracle check) into `work`.
  */
object Main {
  private val mapper = new ObjectMapper()

  private def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  final case class CallRec(id: Int, pass: Int, phase: String, name: String,
                           durNs: Long, cpuNs: Long, ok: Boolean, error: String)
  final case class PassRec(pass: Int, phase: String, traced: Boolean, wallNs: Long,
                           cpuNs: Long, jitMs: Long, gcMs: Long)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs: Long = os.getProcessCpuTime
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (steal, total) jiffies summed over all CPUs, from /proc/stat. */
  private def stealJiffies: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    val work = args("work")
    val data = args("data")
    val slots = args("slots").toInt
    val traced = args("trace") == "1"
    val plan = scala.io.Source.fromFile(args("plan")).getLines()
      .filter(_.trim.nonEmpty).map(l => mapper.readTree(l)).toVector
    val workload = plan.head.get("workload").asText
    val oracles = plan.map(_.get("name").asText).distinct.flatMap { n =>
      SparkEntry.oracleSql.get(n).map(n -> _)
    }.toMap
    mapper.writeValue(new java.io.File(s"$work/oracle_sql.json"), oracles.asJava)

    Trace.enabled = traced
    val master = s"local[$slots]"
    val spark = Trace.span("session.start", -1) {
      val s = GraftSession.builder(master, math.max(slots, 4))
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    Trace.sc = Some(spark.sparkContext)
    Trace.span("tables.load", -1) {
      Tables.names.foreach(n => Tables.load(spark, data, n).schema)
    }

    val calls = ArrayBuffer[CallRec]()
    val passes = ArrayBuffer[PassRec]()
    val rows = ArrayBuffer[java.util.Map[String, Any]]()
    val live = ArrayBuffer[Long]()
    val runner = new Calls(spark, data, work)
    var coldEndMs = 0L
    var indexAfterSetup = 0L
    var windowStart: (Long, Long, Long, Long, (Long, Long)) = null

    val firstWindow = plan.find(_.get("phase").asText == "window").map(_.get("pass").asInt)
    for ((pass, reqs) <- plan.groupBy(_.get("pass").asInt).toSeq.sortBy(_._1)) {
      val phase = reqs.head.get("phase").asText
      // a traced run interleaves untraced window passes, so the tracing
      // overhead is measured in the same JVM and the same time window;
      // the order untraced, traced, traced, untraced (repeating) cancels
      // the drift of a JVM that is still speeding up
      val k = pass - firstWindow.getOrElse(pass)
      val tracePass = traced && (phase != "window" || k % 4 == 1 || k % 4 == 2)
      Trace.enabled = tracePass
      if (tracePass) spark.sparkContext.addSparkListener(Trace.Listener)
      if (phase == "window" && windowStart == null)
        windowStart = (System.nanoTime(), cpuNs, jitMs, gcMs, stealJiffies)
      val (w0, c0, j0, g0) = (System.nanoTime(), cpuNs, jitMs, gcMs)
      for (r <- reqs) {
        val id = r.get("id").asInt
        val name = r.get("name").asText
        val callSpan = Trace.begin("call", id)
        val cg0 = Trace.compiles
        val callCpu0 = cpuNs
        val t0 = System.nanoTime()
        val (ok, err, result) =
          try {
            Trace.span("cachescope.sweep", id)(CacheScope.sweep())
            val df = Trace.span("build", id)(runner.build(r))
            val out = Trace.span(if (workload == "etl_batch") "io.commit" else "exec", id) {
              runner.consume(r, df)
            }
            (true, "", out)
          } catch {
            case NonFatal(e) => (false, e.toString.take(500), None)
          }
        val dur = System.nanoTime() - t0
        val callCpuNs = cpuNs - callCpu0
        callSpan.codegen = Trace.compiles - cg0
        Trace.end(callSpan)
        calls += CallRec(id, pass, phase, name, dur, callCpuNs, ok, err)
        if (tracePass) live += spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        result.foreach { case (cols, rs) =>
          rows += jmap("id" -> id, "cols" -> cols.asJava,
            "rows" -> rs.map(row => Render.row(row).asJava).asJava)
        }
      }
      passes += PassRec(pass, phase, tracePass, System.nanoTime() - w0, cpuNs - c0,
        jitMs - j0, gcMs - g0)
      if (tracePass) {
        org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(Trace.Listener)
      }
      if (phase == "cold") {
        coldEndMs = System.currentTimeMillis()
        indexAfterSetup = IndexCache.totalBytes
      }
    }
    val windowEnd = (System.nanoTime(), cpuNs, jitMs, gcMs, stealJiffies)

    if (traced) { Trace.enabled = true; Kernels.run(spark, args("kernels")) }

    val rt = ManagementFactory.getRuntimeMXBean
    val (ws, we) = (windowStart, windowEnd)
    val stealShare =
      if (ws == null || we._5._2 == ws._5._2) 0.0
      else 100.0 * (we._5._1 - ws._5._1) / (we._5._2 - ws._5._2)
    val record = jmap(
      "workload" -> workload,
      "master" -> master,
      "task_slots" -> slots,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "jvm_args" -> rt.getInputArguments.asScala.filter(a => a.startsWith("-X")).asJava,
      "window_wall_s" -> (if (ws == null) 0.0 else (we._1 - ws._1) / 1e9),
      "window_jit_ms" -> (if (ws == null) 0L else we._3 - ws._3),
      "window_gc_ms" -> (if (ws == null) 0L else we._4 - ws._4),
      "host_steal_pct" -> stealShare)
    val out = jmap(
      "jvm_start_ms" -> rt.getStartTime,
      "cold_end_ms" -> coldEndMs,
      "record" -> record,
      "calls" -> calls.map(c => jmap("id" -> c.id, "pass" -> c.pass, "phase" -> c.phase,
        "name" -> c.name, "dur_ns" -> c.durNs, "cpu_ns" -> c.cpuNs,
        "ok" -> c.ok, "error" -> c.error)).asJava,
      "passes" -> passes.map(p => jmap("pass" -> p.pass, "phase" -> p.phase,
        "traced" -> p.traced, "wall_ns" -> p.wallNs, "cpu_ns" -> p.cpuNs,
        "jit_ms" -> p.jitMs, "gc_ms" -> p.gcMs)).asJava,
      "index_bytes_after_setup" -> indexAfterSetup,
      "index_bytes_end" -> IndexCache.totalBytes,
      "live_bytes" -> live.asJava,
      "spans" -> Trace.spans.map(s => jmap("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "call" -> s.call, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "codegen" -> s.codegen, "units" -> s.units)).asJava,
      "codegen_mean_ms" -> Trace.compileMeanMs,
      "jobs" -> Trace.jobs.values().asScala.toSeq.sortBy(_.id).map(j => jmap("id" -> j.id,
        "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stages.asJava)).asJava,
      "stages" -> Trace.stages.values().asScala.toSeq.sortBy(_.stage).map(a => jmap(
        "id" -> a.stage, "completed" -> a.completed, "tasks" -> a.tasks,
        "cpu_ns" -> a.cpuNs, "run_ms" -> a.runMs, "shuffle_write" -> a.shuffleWrite,
        "shuffle_read" -> a.shuffleRead, "spill" -> a.spill)).asJava)
    mapper.writeValue(new java.io.File(s"$work/result.json"), out)
    val w = new java.io.PrintWriter(s"$work/rows.jsonl", "UTF-8")
    try rows.foreach(r => w.println(mapper.writeValueAsString(r))) finally w.close()
    spark.stop()
  }
}

/** How each kind of call is built and consumed. */
final class Calls(spark: SparkSession, data: String, work: String) {
  import Relational._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  def build(r: JsonNode): DataFrame = {
    def str(k: String) = r.get(k).asText
    def int(k: String) = r.get(k).asInt
    def dbl(k: String) = r.get(k).asDouble
    r.get("shape").asText match {
      case "filterEq" =>
        filterEq(Tables.customer(spark, data),
          Map("c_mktsegment" -> str("segment"), "c_nationkey" -> int("nation")))
          .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      case "filterRange" =>
        filterRange(
          filterRange(Tables.orders(spark, data), "o_totalprice", Some(dbl("lo")), Some(dbl("hi"))),
          "o_orderdate", Some(ts(str("from"))), Some(ts(str("to"))))
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      case "searchParsed" =>
        searchParsed(Tables.part(spark, data), Seq("p_name", "p_brand", "p_type"), str("search"))
          .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
      case "orderPage" =>
        orderPage(Tables.orders(spark, data).select("o_orderkey", "o_totalprice", "o_orderdate"),
          str("order_by"), r.get("asc").asBoolean, "o_orderkey", int("page"), int("per_page"))
      case "orderPageEnvelope" =>
        orderPageEnvelope(
          filterEq(Tables.orders(spark, data), Map("o_orderpriority" -> str("priority")))
            .select("o_orderkey", "o_totalprice", "o_orderdate"),
          str("order_by"), r.get("asc").asBoolean, "o_orderkey", int("page"), int("per_page"))
      case "groupOptions" =>
        groupOptions(Tables.load(spark, data, str("table")), str("field"), str("prefix"), int("limit"))
      case "recoverLinks" =>
        recoverLinks(
          filterRange(Tables.orders(spark, data).select("o_orderkey", "o_custkey", "o_totalprice"),
            "o_custkey", Some(r.get("lo").asLong), Some(r.get("hi").asLong)),
          Tables.customer(spark, data), "o_custkey", "c_custkey", Seq("c_name", "c_mktsegment"))
      case "recent" =>
        Events.recent(Tables.events(spark, data),
          col("event_type") === str("event_type") && col("user_id") < int("max_user"),
          "ts", "event_id", int("n"))
          .select("event_id", "ts", "user_id", "event_type", "value")
      case "query" => SparkEntry.queries(str("name"))(spark, data)
    }
  }

  /** Runs the call to its end. AutoAPI calls collect the page to the
    * client and return it (column names, rows) for the oracle check,
    * which renders it after the call's timing ends; ETL calls commit
    * parquet through `Io.atomicParquetArtifact` into a fresh directory
    * per pass, which the oracle check reads. */
  def consume(r: JsonNode, df: DataFrame): Option[(Seq[String], Seq[Row])] =
    r.get("sink").asText match {
      case "collect" =>
        val got = df.collect()
        Some((df.columns.toSeq, got.toSeq))
      case "parquet_commit" =>
        Io.atomicParquetArtifact(spark, s"$work/out/p${r.get("pass").asInt}/${r.get("name").asText}")(df)
        None
    }
}

/** Canonical text of a result value, identical to `oracle.py`'s rendering
  * of the DuckDB answer: doubles to 6 decimals (half-even on the exact
  * binary value), timestamps as UTC `yyyy-MM-dd HH:mm:ss.ffffff`. */
object Render {
  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  def value(v: Any): String = v match {
    case null => "\\N"
    case d: Double => fixed(d)
    case f: Float => fixed(f.toDouble)
    case t: java.sql.Timestamp => tsFmt.format(t.toInstant)
    case t: java.time.Instant => tsFmt.format(t)
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  private def fixed(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else new java.math.BigDecimal(d).setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString

  def row(r: Row): Seq[String] = (0 until r.length).map(i => value(r.get(i)))
}
