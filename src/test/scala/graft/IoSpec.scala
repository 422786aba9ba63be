package graft

import org.apache.spark.sql.functions._

/** Sources/sinks: the round-trip queries prove writer+reader losslessness
  * against the original tables; partitioned layout is checked on disk.
  */
class IoSpec extends SparkSpec {

  test("jsonlines write/read round-trip is lossless") {
    val got = run("src_jsonlines_file")
    val n = Tables.events(spark, sfDir).count()
    assert(got.count() == n)
    assert(got.schema.fieldNames.sameElements(Array("event_id", "event_type", "value")))
  }

  test("csv write/read round-trip is lossless") {
    val got = run("src_csv_roundtrip").collect()
    val src = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .orderBy("c_custkey").collect()
    assert(got.length == src.length)
    got.zip(src).foreach { case (g, s) => assert(g == s) }
  }

  /** The dir a round-trip query wrote and read back, `depth` levels
    * above a file its result reads. */
  private def scratchOf(query: String, depth: Int): java.io.File = {
    val got = run(query)
    got.collect()
    val file = new java.io.File(new java.net.URI(got.inputFiles.head))
    Iterator.iterate(file)(_.getParentFile).drop(depth).next()
  }

  test("partitioned write produces hive-style partition dirs") {
    val dirs = scratchOf("sink_partitioned", depth = 2).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("o_orderpriority=")))
  }

  test("merge-schema read: old-era rows read the evolved column as NULL") {
    val rows = run("src_parquet_merge_schema").collect()
    assert(rows.length == Tables.orders(spark, sfDir).count())
    rows.foreach { r =>
      if (r.getLong(0) % 2 == 0) assert(r.isNullAt(2), s"era-0 row ${r.getLong(0)}")
      else assert(!r.isNullAt(2), s"era-1 row ${r.getLong(0)}")
    }
  }

  test("binaryFile blob read-back: every exported doc arrives byte-complete") {
    val got = run("src_binary_files").collect()
    val src = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 10 === 0)
      .select(concat(lit("doc_"), col("doc_id"), lit(".txt")).as("file_name"), col("text"))
      .orderBy("file_name").collect()
    assert(got.length == src.length && got.nonEmpty)
    got.zip(src).foreach { case (g, s) =>
      assert(g.getString(0) == s.getString(0))
      assert(g.getLong(1) == s.getString(1).getBytes("UTF-8").length.toLong)
      assert(g.getString(2) == s.getString(1))
    }
  }

  test("wholetext read: one row per file, content identical to the export") {
    val got = run("src_text_files").collect()
    val bin = run("src_binary_files").collect()
    assert(got.length == bin.length)
    got.zip(bin).foreach { case (t, b) =>
      assert(t.getString(0) == b.getString(0) && t.getString(1) == b.getString(2))
    }
  }

  test("binaryFile pathGlobFilter prunes non-matching files at listing time") {
    // the query's own scratch dir: the next query's sweep deletes it
    // with the planted file
    val blobDir = scratchOf("src_binary_files", depth = 1).getPath
    java.nio.file.Files.write(
      java.nio.file.Paths.get(blobDir, "ignore.bin"), "not a doc".getBytes("UTF-8"))
    val got = graft.sources.Io.readBinaryFiles(spark, blobDir, "*.txt")
    assert(!got.select("path").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().exists(_.endsWith("ignore.bin")))
  }

  test("atomicParquetArtifact: a crashed half-write is swept and rebuilt") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("atomic_artifact")
    val path = s"$root/atomic_artifact_test"
    val dir = new java.io.File(path)
    // simulate a builder that died mid-write: directory present, one
    // stale/partial part file, NO _SUCCESS commit marker
    Seq((99L, "stale")).toDF("id", "v")
      .write.mode("overwrite").parquet(path)
    new java.io.File(dir, "_SUCCESS").delete()
    assert(dir.exists() && !new java.io.File(dir, "_SUCCESS").exists())
    var built = 0
    def fresh = { built += 1; Seq((1L, "good"), (2L, "good")).toDF("id", "v") }
    val got = graft.sources.Io.atomicParquetArtifact(s, path)(fresh)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // the partial artifact was NOT trusted: rebuilt, committed, correct
    assert(built == 1)
    assert(got == Set((1L, "good"), (2L, "good")))
    assert(new java.io.File(dir, "_SUCCESS").exists())
    // a second reader serves the committed artifact without rebuilding
    val again = graft.sources.Io.atomicParquetArtifact(s, path)(fresh)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(built == 1 && again == got)
    // no temp-dir litter left behind
    val litter = dir.getParentFile.listFiles()
      .filter(_.getName.startsWith(dir.getName + ".tmp-"))
    assert(litter.isEmpty, litter.mkString(","))
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  test("unordered strips both presentation sorts, and the commit keeps every row") {
    import graft.sources.Io
    // etl_sanitize is corpus-grain (range sort); q1_agg is answer-sized
    // (answerSort's one-task local sort over Repartition(1))
    Seq("etl_sanitize" -> "rangepartitioning", "q1_agg" -> "SinglePartition").foreach {
      case (q, exchange) =>
        val sorted = run(q)
        assert(plan(sorted).contains(exchange), s"$q:\n${plan(sorted).take(1500)}")
        val bare = Io.unordered(sorted)
        Seq("rangepartitioning", "SinglePartition").foreach { e =>
          assert(!plan(bare).contains(e), s"$q keeps $e:\n${plan(bare).take(1500)}")
        }
        val path = s"${Io.scratch}/unordered_$q"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
        val got = Io.atomicParquetArtifact(spark, path)(sorted)
        assert(!got.isEmpty && got.exceptAll(sorted).isEmpty && sorted.exceptAll(got).isEmpty, q)
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
  }

  test("unordered leaves sorts that are not presentation as they are") {
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_totalprice")
    Seq(o.orderBy(col("o_totalprice").desc).limit(5),
      o.sortWithinPartitions("o_orderkey"), o).foreach { df =>
      assert(graft.sources.Io.unordered(df) eq df, df.queryExecution.logical.toString)
    }
  }

  test("overwritePartitions backfills ONE partition, leaves the rest untouched") {
    val s = spark
    import s.implicits._
    val dir = "/tmp/graft_dyn_overwrite"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val base = Seq((1L, "d1", 10.0), (2L, "d2", 20.0), (3L, "d3", 30.0))
      .toDF("id", "day", "v")
    graft.sources.Io.writePartitioned(base, dir, Seq("day"))
    // backfill d2 only, with corrected values and a new row
    val fix = Seq((2L, "d2", 21.0), (4L, "d2", 40.0)).toDF("id", "day", "v")
    graft.sources.Io.overwritePartitions(fix, dir, Seq("day"))
    val got = s.read.parquet(dir).select("id", "day", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    // d1/d3 survive; d2 fully replaced (old row 2@20.0 gone)
    assert(got == Set((1L, "d1", 10.0), (3L, "d3", 30.0),
      (2L, "d2", 21.0), (4L, "d2", 40.0)))
  }

  test("contentFingerprint: order-free, but any content change re-keys") {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val s = spark
    import s.implicits._
    def fp(rows: Seq[(Long, String)]): String =
      graft.sources.Io.contentFingerprint(rows.toDF("id", "t"),
        Seq(col("id").cast("string"), coalesce(col("t"), lit("~null~"))))
    val base = Seq(1L -> "alpha", 2L -> "beta", 3L -> "gamma")
    // row ORDER must not matter (partitioned scans have none)
    assert(fp(base) == fp(base.reverse))
    // a changed row, an added row, a dropped row, and — the xor trap —
    // a content SWAP between two rows must all produce a different key
    assert(fp(base) != fp(Seq(1L -> "alpha", 2L -> "beta", 3L -> "gamma2")))
    assert(fp(base) != fp(base :+ (4L -> "delta")))
    assert(fp(base) != fp(base.take(2)))
    assert(fp(base) != fp(Seq(1L -> "beta", 2L -> "alpha", 3L -> "gamma")))
    // null and empty are distinct contents
    assert(fp(Seq(1L -> null)) != fp(Seq(1L -> "")))
  }

  test("persisted artifact names are not hidden from Spark's file listing") {
    // a data dir's leading '/' must not become the name's leading '_'
    import graft.operators.{Dedup, Link, Similarity}
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val paths = Seq(
      Dedup.componentsArtifactPath(spark, sfDir),
      Dedup.bloomArtifactPath(docs.filter(col("doc_id") < 20), sfDir),
      Similarity.ivfPqArtifactPath(
        Tables.embeddings(spark, sfDir).select("vec_id", "embedding"), sfDir),
      Link.linkIndexArtifactPath(spark,
        Link.cleanEntities(Tables.customer(spark, sfDir), "c_custkey"), sfDir))
    paths.foreach { p =>
      val name = new java.io.File(p).getName
      assert(!name.startsWith("_") && !name.startsWith("."), p)
    }
  }

  test("persisted artifacts re-key on regenerated inputs (staleness contract)") {
    // The decon_bloom_persisted contract applied to the other two
    // persisted families: the on-disk key carries a corpus content
    // fingerprint, so REGENERATING the input at the same path yields a
    // NEW artifact path and atomicParquetArtifact rebuilds — a fresh
    // session can never serve an index of vanished data. Within one
    // session, IndexCache entries carry the dir's data version, so the
    // in-memory indexes rebuild too: dedup_components (a checkpointed
    // table) and q_join_bloom (a driver-side sketch) warmed before the
    // rewrite must answer like a fresh dir holding the new data.
    import org.apache.spark.sql.functions.{col, lit}
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stale").toString
    val fresh = java.nio.file.Files.createTempDirectory("graft_fresh").toString
    def writeTo(at: String, name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$at/$name.parquet")
    def writeDocs(texts: Seq[String], at: String = dir): Unit =
      writeTo(at, "documents",
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
    def writeEmb(shift: Double): Unit =
      writeTo(dir, "embeddings",
        (0L until 40L).map(i => (i, Array.tabulate(8)(j => (i * 7 + j + shift).toFloat)))
          .toDF("vec_id", "embedding"))
    val cust = Tables.customer(spark, sfDir).filter(col("c_custkey") <= 30)
      .select("c_custkey", "c_name", "c_nationkey")
    // the rewrite moves every customer into nation 3, q_join_bloom's key
    val custMoved = cust.withColumn("c_nationkey", col("c_nationkey") * 0 + lit(3))
    val ords = Tables.orders(spark, sfDir).filter(col("o_custkey") <= 30)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    def answer(name: String, at: String) = run(name, at).collect().toSeq
    writeDocs(Seq("aa bb cc", "aa bb cc", "dd ee ff"))
    writeEmb(0.0)
    writeTo(dir, "customer", cust)
    writeTo(dir, "orders", ords)
    val compPath1 = graft.operators.Dedup.componentsArtifactPath(spark, dir)
    val ivfPath1 = graft.operators.Similarity.ivfPqArtifactPath(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), dir)
    // warm the session indexes over the old data
    answer("dedup_components", dir)
    answer("q_join_bloom", dir)
    // regenerate the inputs at the SAME dir, and the new data at a fresh one
    writeDocs(Seq("aa bb cc", "zz yy xx", "dd ee ff"))
    writeEmb(0.5)
    writeTo(dir, "customer", custMoved)
    writeDocs(Seq("aa bb cc", "zz yy xx", "dd ee ff"), fresh)
    writeTo(fresh, "customer", custMoved)
    writeTo(fresh, "orders", ords)
    assert(answer("dedup_components", dir) == answer("dedup_components", fresh),
      "dedup_components served a stale index after the rewrite")
    val joined = answer("q_join_bloom", dir)
    assert(joined == answer("q_join_bloom", fresh),
      "q_join_bloom served a stale sketch after the rewrite")
    assert(joined.length == ords.count(), "every order now joins a nation-3 customer")
    val compPath2 = graft.operators.Dedup.componentsArtifactPath(spark, dir)
    val ivfPath2 = graft.operators.Similarity.ivfPqArtifactPath(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), dir)
    assert(compPath1 != compPath2, "components artifact did not re-key")
    assert(ivfPath1 != ivfPath2, "ivfpq artifact did not re-key")
    // and the rebuild actually happens at the new key: the artifact
    // committed under key 1 is untouched, key 2 builds fresh content
    val a1 = graft.sources.Io.atomicParquetArtifact(spark, compPath1)(
      Tables.documents(spark, dir).select("doc_id", "text")).count()
    val a2 = graft.sources.Io.atomicParquetArtifact(spark, compPath2)(
      Tables.documents(spark, dir).filter(col("doc_id") < 2)
        .select("doc_id", "text")).count()
    assert(a1 == 3 && a2 == 2, s"expected fresh builds per key, got $a1/$a2")
    assert(new java.io.File(compPath1, "_SUCCESS").exists())
    assert(new java.io.File(compPath2, "_SUCCESS").exists())
    Seq(dir, fresh).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }
}
