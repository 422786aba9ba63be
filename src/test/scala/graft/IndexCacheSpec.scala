package graft

/** r16 (VERDICT #7): pins IndexCache's eviction-safety and accounting.
  * localCheckpoint blocks are NOT recomputable, so an entry must carry
  * a disk fallback (memory pressure spills instead of evicting) and the
  * cache must account its growth against the documented budget. The
  * store is versioned: an entry is keyed on (session, dir, key) and a
  * rewrite under the dir replaces it instead of adding a second one.
  */
class IndexCacheSpec extends SparkSpec {

  test("index entries persist with a disk fallback and are size-accounted") {
    val df = IndexCache.of(spark, sfDir, "spec|tiny") {
      spark.range(1000).selectExpr("id", "id*2 as v")
    }
    assert(df.count() == 1000)
    val rdds = org.apache.spark.sql.graftbridge.GraftBridge.checkpointRdds(df)
    assert(rdds.nonEmpty, "cached entry should be a materialized checkpoint")
    rdds.foreach { r =>
      val lvl = r.getStorageLevel
      assert(lvl.useDisk,
        s"eviction-unsafe storage $lvl: localCheckpoint blocks have no recompute path")
    }
    assert(IndexCache.totalBytes > 0, "entry bytes must be accounted")
  }

  test("a builder may resolve another index inside its own build") {
    val outer = IndexCache.of(spark, sfDir, "spec|outer") {
      val inner = IndexCache.of(spark, sfDir, "spec|inner")(spark.range(10).toDF("id"))
      inner.selectExpr("id * 3 as id")
    }
    assert(outer.collect().map(_.getLong(0)).sorted.toSeq == (0L until 30L by 3L))
    // the inner entry is live and served as stored
    val again = IndexCache.of(spark, sfDir, "spec|inner")(
      throw new AssertionError("inner index rebuilt on an unchanged dir"))
    assert(again.count() == 10)
  }

  test("rewriting the dir replaces the entry: one live entry, bytes do not grow") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_indexcache").toString
    // same row count each time, new content: entry sizes stay comparable
    def rewrite(base: Int): Unit =
      (base until base + 100).toDF("r_regionkey").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/region.parquet")
    def build(): org.apache.spark.sql.DataFrame =
      IndexCache.of(spark, dir, "spec|rows")(Tables.region(spark, dir))
    def liveBytes(df: org.apache.spark.sql.DataFrame): Long = {
      val ids = org.apache.spark.sql.graftbridge.GraftBridge
        .checkpointRdds(df).map(_.id).toSet
      spark.sparkContext.getRDDStorageInfo.filter(i => ids.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
    }
    val before = IndexCache.totalBytes
    rewrite(0)
    val first = build()
    val firstIds = org.apache.spark.sql.graftbridge.GraftBridge
      .checkpointRdds(first).map(_.id).toSet
    val afterFirst = IndexCache.totalBytes
    def minKey(df: org.apache.spark.sql.DataFrame): Int =
      df.agg(org.apache.spark.sql.functions.min("r_regionkey")).head().getInt(0)
    rewrite(1000)
    assert(minKey(build()) == 1000, "rewritten dir served the stale entry")
    rewrite(2000)
    val live = build()
    assert(minKey(live) == 2000, "rewritten dir served the stale entry")
    val afterThird = IndexCache.totalBytes
    assert(afterThird - before == liveBytes(live),
      s"totalBytes holds more than the live entry: $before -> $afterThird, " +
        s"live ${liveBytes(live)}")
    assert(afterThird - before < 2 * (afterFirst - before),
      s"totalBytes grew across rewrites: $afterFirst -> $afterThird")
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    assert((firstIds & persisted).isEmpty, "replaced entry's blocks were not freed")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
