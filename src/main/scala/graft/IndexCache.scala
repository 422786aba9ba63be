package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session store for corpus INDEX artifacts: the ANN list/code
  * tables, centroids and codebooks (Similarity), the dedup reps and
  * components tables (Dedup), the bloom sketch words (Relational), the
  * fixture tables (Mm) and the BPE merge table (TextOps) — deterministic
  * corpus-level constructions a deployment builds once and serves every
  * query from.
  *
  * Entries are keyed on (session, data dir, key) and carry the dir's
  * data version ([[Tables.version]], the mtime stat `Tables.load` keys
  * relations on). A lookup whose version has changed rebuilds the entry
  * and REPLACES the old one — the index analog of `REFRESH TABLE`, so a
  * corpus rewritten under a warm session never serves a stale index.
  * There is at most one entry per (session, dir, key).
  *
  * [[of]] holds DataFrames: checkpointed ([[CacheScope.unscoped]]) so
  * consumers read materialized blocks, accounted in [[totalBytes]], and
  * deliberately NOT swept with the invocation — indexes survive for
  * the session while per-invocation intermediates inside the builders
  * still sweep normally. A replaced DataFrame entry is freed. [[value]] holds
  * driver-side artifacts (centroids, codebooks, ranges, sketch words).
  *
  * Builders run outside any map lock, so a builder may itself call
  * `of`/`value` for the indexes it depends on. If two threads build
  * the same entry at once, one result is kept and the other is freed.
  */
object IndexCache {
  private final class Entry(val version: Seq[Long], val value: Any,
                            val bytes: Long, val free: () => Unit)

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Entry]()

  /** Soft session budget for index artifacts (r16, VERDICT #2/#7):
    * `localCheckpoint` persists MEMORY_AND_DISK (LocalRDDCheckpointData
    * forces the disk bit), so memory pressure SPILLS an index block to
    * local disk rather than evicting it — loss requires executor death
    * (CacheScope documents that trade). The unbounded hazard is GROWTH:
    * nothing evicts a live entry for the session's lifetime. The cache
    * therefore ACCOUNTS every entry's persisted bytes and logs a loud
    * warning past the budget — the deployment-side relief valves are
    * `spark.graft.index.maxBytes` (budget; default 8 GiB) and keying
    * corpus-scale artifacts to the persisted-parquet twins
    * (atomicParquetArtifact) instead of session memory. Fixture-scale
    * entries (the mm synthesis tables, at most a few MB each) never
    * approach it.
    */
  private def maxBytes(s: SparkSession): Long =
    s.conf.get("spark.graft.index.maxBytes", (8L << 30).toString).toLong

  /** Accounted storage of the live entries (bytes, mem + disk), for the
    * bound above and for `graft.Probe`, which reports it per pass. */
  def totalBytes: Long = {
    var t = 0L
    entries.values().forEach(e => t += e.bytes)
    t
  }

  /** The checkpointed index table `key` over the data in `d`. */
  def of(s: SparkSession, d: String, key: String)(build: => DataFrame): DataFrame =
    lookup(s, d, key) { v =>
      val df = CacheScope.unscoped(build)
      val ids = org.apache.spark.sql.graftbridge.GraftBridge
        .checkpointRdds(df).map(_.id).toSet
      val bytes = s.sparkContext.getRDDStorageInfo
        .filter(i => ids.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
      val total = totalBytes + bytes
      if (total > maxBytes(s))
        System.err.println(
          s"[indexcache] WARNING: session index storage $total B exceeds " +
          s"spark.graft.index.maxBytes=${maxBytes(s)} B after '$d|$key' — " +
          "corpus-scale artifacts should move to persisted parquet twins")
      new Entry(v, df, bytes, () => CacheScope.free(df))
    }.asInstanceOf[DataFrame]

  /** The driver-side index artifact `key` over the data in `d`. */
  def value[T](s: SparkSession, d: String, key: String)(build: => T): T =
    lookup(s, d, key)(v => new Entry(v, build, 0L, () => ())).asInstanceOf[T]

  /** The live entry's value, built (or rebuilt) when the dir's data
    * version has moved since it was stored. */
  @annotation.tailrec
  private def lookup(s: SparkSession, d: String, key: String)(
      make: Seq[Long] => Entry): Any = {
    val k = (s, d, key)
    val v = Tables.version(d)
    val cur = entries.get(k)
    if (cur != null && cur.version == v) cur.value
    else {
      val fresh = make(v)
      val kept =
        if (cur == null) entries.putIfAbsent(k, fresh) == null
        else entries.replace(k, cur, fresh)
      if (kept) {
        if (cur != null) cur.free()
        fresh.value
      } else {
        fresh.free()
        lookup(s, d, key)(make)
      }
    }
  }
}
