package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named loaders for the driver-generated test tables (TESTDATA.md).
  *
  * One parquet file per table under an sf dir. Scans stay lazy so
  * Catalyst can push filters and prune columns into the parquet reader.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-scoped RELATION cache — catalog semantics, not result
    * caching: `spark.read.parquet` re-lists the path and re-reads the
    * footer schema on EVERY call, which is pure per-query driver
    * overhead once the same ten tables back a 259-query surface
    * (measured r15: 50-80 ms per table per query build; q_join_multi's
    * five loads alone cost 0.25 s of its 0.84 s). A registered catalog
    * table resolves this once per session — this map is exactly that
    * (the DataFrame is a lazy plan; every execution still scans the
    * parquet files). Keyed by (session, path) so Verify's local-cluster
    * session and a tool's local session never share; entries are a few
    * plan objects, lifetime = session. Regeneration under a cached path
    * is detected by the table directory's mtime in the key (one ~µs
    * stat per load vs the ~50 ms listing+schema it replaces) — the
    * auto-refresh analog of `REFRESH TABLE`, pinned by IoSpec's
    * staleness contract. [[IndexCache]] keys indexes on the same stat.
    */
  private val rel =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Long), DataFrame]()

  private def path(dir: String, name: String): String = s"$dir/$name.parquet"
  private def mtime(path: String): Long = new java.io.File(path).lastModified

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val p = path(dir, name)
    rel.computeIfAbsent((spark, p, mtime(p)), k => k._1.read.parquet(k._2))
  }

  /** The data version of `dir`: each table's mtime, as `load` reads it.
    * Rewriting any table under `dir` moves it. */
  def version(dir: String): Seq[Long] = names.map(n => mtime(path(dir, n)))

  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  /** events.ts is parquet TIMESTAMP(NANOS); with
    * spark.sql.legacy.parquet.nanosAsLong=true it scans as long-nanos and we
    * convert to a μs timestamp here (the generator emits μs granularity, so
    * this is lossless and matches DuckDB's own ns→μs TIMESTAMP coercion).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      // a session without inferTimestampNTZ=false still lands here; with
      // the UTC session TZ the cast is a value-identical re-tag
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
