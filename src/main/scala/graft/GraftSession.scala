package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory for the graft engine.
  *
  * Local-mode defaults that mirror what we'd set cluster-side: AQE on
  * (runtime re-planning, skew-join handling), shuffle partitions sized to
  * the parallelism actually available rather than the 200 default, UTC so
  * timestamp semantics match the DuckDB oracle.
  */
object GraftSession {

  /** GRAFT_MASTER env overrides the caller's master so the IDENTICAL
    * suite/bench/verify surface can run through a real serialized
    * exchange path (`local-cluster[2,16,4096]`: in-JVM standalone
    * master + 2 workers, executors as SEPARATE processes — closures,
    * custom expressions, broadcasts and shuffle blocks all cross a real
    * serializer, which plain local[*] never exercises). */
  def effectiveMaster(default: String): String =
    sys.env.getOrElse("GRAFT_MASTER", default)

  /** Executor-process config for local-cluster mode. The forked driver
    * JVM already holds the full application classpath (graft classes +
    * test classes + scalatest), so the executor JVMs — launched by the
    * in-process Worker via $SPARK_HOME/bin/spark-class — inherit exactly
    * that via extraClassPath; the JDK17 --add-opens set matches
    * build.sbt's driver-side list (Spark needs them wherever rows are
    * manipulated off-heap, i.e. on executors too). */
  def clusterConfigs(b: SparkSession.Builder): SparkSession.Builder = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
    b.config("spark.executor.memory", sys.env.getOrElse("GRAFT_EXECUTOR_MEM", "3g"))
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens)
  }

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder = {
    val m = effectiveMaster(master)
    val base = SparkSession.builder()
      .master(m)
      .appName("graft")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // test tables carry TIMESTAMP(NANOS) which the vectorized reader
      // rejects; read as long and convert in Tables.events (μs-lossless)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // generator emits TIMESTAMP(μs) without isAdjustedToUTC; with the
      // session pinned to UTC the LTZ reading is value-identical to NTZ
      // and matches DuckDB's naive-timestamp reading of the same files
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // the default 100-entry generated-class cache thrashes once ~60
      // distinct queries (some with large literal-array expressions) run
      // in one JVM: re-Janino-compiling the biggest classes cost seconds
      // PER EXECUTION (dedup_embedding 7.2s -> 1.9s warm). Static conf —
      // must be set before the first session is created.
      // r15 recalibration: the 259-query surface generates >2000 distinct
      // codegen units, so the r5-era 2000 was evicting BETWEEN the
      // bench's interleaved visits — every pass re-Janino-compiled
      // (measured: link_candidates 1.21s warm vs 2.41s with a 5-entry
      // cache; full suite 177.7s -> 154.3s back-to-back same-window when
      // raised, median per-query 0.845x). 20000 = "never evict": the
      // cache only grows to the workload's true working set, and the
      // cost is driver metaspace for classes that would have been
      // compiled anyway. Not a local-mode tune — any driver serving this
      // query surface pays the same recompilation tax. Caveat (r16,
      // ADVICE): 20000 ≈ "never evict" pins generated Janino classes in
      // driver metaspace for the JVM's lifetime — right for a bounded
      // query surface like this one, but a long-lived multi-tenant
      // driver with UNBOUNDED codegen variety should lower it via
      // SPARK_GRAFT_CONF (spark.sql.codegen.cache.maxEntries=N; static
      // conf, takes effect on a fresh JVM) and size driver metaspace
      // with that headroom in mind. Request values do not count towards
      // that variety: graft.functions.ParamLiterals keeps filter bounds
      // and projected constants out of the generated source, so the
      // cache holds query SHAPES and a request with new values reuses
      // its shape's compiled class.
      .config("spark.sql.codegen.cache.maxEntries", "20000")
      // ObjectHashAggregate (collect_set/collect_list/percentile/sketches)
      // falls back to SORT-BASED aggregation once its hash map passes 128
      // rows. MEASURED at sf0.1 (etl_dedup_merge, 150k groups of
      // min(struct)+collect_set): raising the threshold to 128k made the
      // query 1.6x SLOWER (1.02s -> 1.63s median-of-5) — a hash map of
      // 150k object agg buffers loses to the Tungsten binary sort on
      // locality and GC. The conservative default stays; if anything, the
      // sort fallback IS the scale path here.
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_CONF="k=v;k2=v2" — deployment/experiment overrides
    // applied LAST so any default above can be re-pointed without a
    // rebuild (cluster-side the same keys arrive via --conf; this keeps
    // the local surface parameterised the same way). Static SQL confs
    // (codegen cache size etc.) still require a fresh JVM to take.
    val withEnv = sys.env.get("SPARK_GRAFT_CONF").iterator
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foldLeft(base) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k.trim, v.trim)
      }
    if (m.startsWith("local-cluster")) clusterConfigs(withEnv) else withEnv
  }

  /** Stops `spark`; under local-cluster it then deletes the executor
    * work dir of THIS application. The in-process workers put it under
    * `$SPARK_HOME/work` (SPARK_WORKER_DIR is not honored there), named
    * after the application id — siblings belong to other applications,
    * possibly still running, and are left alone.
    */
  def stop(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val (appId, master) = (sc.applicationId, sc.master)
    spark.stop()
    if (master.startsWith("local-cluster"))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(new java.io.File(sys.env.getOrElse("SPARK_HOME", "."), "work"), appId))
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", math.max(cores, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
