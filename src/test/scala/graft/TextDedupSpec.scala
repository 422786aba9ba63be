package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextOps}

/** Text analysis + near-dup families: value invariants on sf0.001 plus the
  * plan-shape guard that candidate generation is bucketed (no cartesian).
  */
class TextDedupSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sfDir).select("doc_id", "text")

  test("text_tokencount matches a manual count") {
    val row = run("text_tokencount").filter(col("doc_id") === 0).collect().head
    val text = docs.filter(col("doc_id") === 0).collect().head.getString(1)
    assert(row.getLong(1) == text.trim.split("\\s+").length.toLong)
  }

  test("text_quality ratios are in [0,1] and score is consistent") {
    val rows = run("text_quality").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (alpha, punct, stop) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(alpha >= 0 && alpha <= 1)
      assert(punct >= 0 && punct <= 1)
      assert(stop >= 0 && stop <= 1)
    }
  }

  test("text_langid votes deterministically") {
    val rows = run("text_langid").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (en, es, fr, lang) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      if (en == 0 && es == 0 && fr == 0) assert(lang == "und")
      else if (lang == "en") assert(en >= es && en >= fr)
    }
  }

  test("text_fingerprint is invariant under token permutation") {
    val s = spark
    import s.implicits._
    val two = Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta")).toDF("doc_id", "text")
    val fps = TextOps.fingerprint(two, "text").select("fp").collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("winnowing fingerprints: identical docs match, local edits overlap") {
    val s = spark
    import s.implicits._
    import graft.operators.TextOps.winnowFingerprint
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val edited = base.replace("lazy", "very lazy")
    val df = Seq((1L, base), (2L, base), (3L, edited)).toDF("doc_id", "text")
    val rows = winnowFingerprint(df, "doc_id", "text", 8, 4)
      .select("doc_id", "doc_fp", "n_fps").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(rows(1L) == rows(2L))          // identical content -> same fingerprint
    assert(rows(1L)._1 != rows(3L)._1)    // edit changes the set
    assert(rows(3L)._2 > 0)
    // a doc shorter than k yields the empty fingerprint set
    val tiny = winnowFingerprint(Seq((9L, "short")).toDF("doc_id", "text"),
      "doc_id", "text", 8, 4)
      .select("n_fps").collect().head
    assert(tiny.getLong(0) == 0L)
  }

  test("text_repetition: looped text scores high, distinct text scores zero") {
    val s = spark
    import s.implicits._
    import graft.operators.TextOps.repetition
    val df = Seq(
      (1L, "spam ham spam ham spam ham spam ham"), // one distinct 2-gram pair
      (2L, "all tokens here are fully distinct words"),
      (3L, "one"), (4L, "")
    ).toDF("doc_id", "text")
    val out = repetition(df, "text")
      .select("doc_id", "n_tokens", "dup_2gram_frac", "dup_3gram_frac")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // doc 1: 7 2-gram slots, 2 distinct -> 5/7; 6 3-gram slots, 2 distinct -> 4/6
    assert(out(1L) == ((8L, 0.7143, 0.6667)))
    assert(out(2L) == ((7L, 0.0, 0.0)))
    assert(out(3L) == ((1L, 0.0, 0.0))) // no slots -> 0.0, not null
    assert(out(4L) == ((0L, 0.0, 0.0)))
  }

  test("text_ngram_counts: document frequency (repeats in a doc count once), top-k plan") {
    val s = spark
    import s.implicits._
    import graft.operators.TextOps.ngramCounts
    val df = Seq(
      (1L, "a b a b"),      // "a b" twice in one doc: df contribution 1
      (2L, "a b c"),
      (3L, "x y")
    ).toDF("doc_id", "text")
    val out = ngramCounts(df, "text", n = 2, topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a b" -> 2L, "b a" -> 1L, "b c" -> 1L, "x y" -> 1L))
    // global top-k is a TakeOrdered, not a full sort
    val p = ngramCounts(df, "text", 2, 10).queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("text_chunks: full coverage, exact overlap, lossless reconstruction") {
    val s = spark
    import s.implicits._
    import graft.operators.TextOps.tokenChunks
    val docs = Seq(
      (1L, (1 to 40).map(i => s"t$i").mkString(" ")), // multiple chunks
      (2L, (1 to 16).map(i => s"t$i").mkString(" ")), // exactly one chunk
      (3L, "a b c"),                                   // short doc: one chunk
      (4L, ""),                                        // empty: no chunks
      (5L, null.asInstanceOf[String])                  // NULL text: no chunks
    ).toDF("doc_id", "text")
    val out = tokenChunks(docs, "doc_id", "text", chunkTokens = 16, overlap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(!out.exists(r => r._1 == 4L || r._1 == 5L))
    assert(out.count(_._1 == 2L) == 1 && out.count(_._1 == 3L) == 1)
    // doc 1 (40 tokens): starts 0,12,24 — a start at 36 would add no new
    // tokens (t37..t40 are already covered), which the nc formula excludes.
    // Reconstruct by dropping the 4 overlapped tokens after the first chunk.
    val c1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(c1.map(_._2).toSeq == Seq(0L, 1L, 2L))
    val rebuilt = c1.head._4 +: c1.tail.map(_._4.split(" ").drop(4).mkString(" "))
    assert(rebuilt.mkString(" ") == (1 to 40).map(i => s"t$i").mkString(" "))
    // consecutive chunks share exactly the overlap
    c1.sliding(2).foreach { case Array(a, b) =>
      assert(a._4.split(" ").takeRight(4).sameElements(b._4.split(" ").take(4)))
    case _ => }
  }

  test("dedup_exact groups exact duplicates, keeps first") {
    val s = spark
    import s.implicits._
    val d = Seq((10L, "same text"), (3L, "same text"), (7L, "other")).toDF("doc_id", "text")
    val out = TextOps.dedupExact(d, "doc_id", "text").collect()
    assert(out.length == 2)
    val dupGroup = out.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) == 3L) // keep-first = min id
  }

  test("unicode normalization: NFC==NFD collapse through dedup_normalized, NFKC folds") {
    val s = spark
    import s.implicits._
    // the same word in composed (NFC) and decomposed (NFD) codepoints —
    // different byte strings, one document to a reader
    val composed = "caf\u00e9 menu"
    val decomposed = "cafe\u0301 menu"
    assert(composed != decomposed, "fixture must differ at the byte level")
    val d = Seq((1L, composed), (2L, decomposed), (3L, "other")).toDF("doc_id", "text")
    val out = TextOps.dedupNormalized(d, "doc_id", "text").collect()
    assert(out.length == 2, s"NFC and NFD forms must land in ONE group: ${out.mkString}")
    val merged = out.find(_.getLong(2) == 2L).get
    assert(merged.getLong(1) == 1L)          // keep-first = min id
    assert(merged.getLong(3) == 2L)          // two raw byte variants merged
    // the expression itself: decomposed accent, fi-ligature, fullwidth G,
    // hangul jamo — all four forms behave per UAX #15
    import graft.functions.GraftFunctions.unicodeNormalize
    val mixed = "cafe\u0301 \ufb01le \uff27 \u1112\u1161\u11ab"
    val r = Seq(Tuple1(mixed)).toDF("t")
      .select(
        unicodeNormalize(col("t"), "NFC").as("nfc"),
        unicodeNormalize(col("t"), "NFD").as("nfd"),
        unicodeNormalize(col("t"), "NFKC").as("nfkc"))
      .collect().head
    assert(r.getString(0) == "caf\u00e9 \ufb01le \uff27 \ud55c",
      "NFC composes accents and jamo, leaves compatibility chars alone")
    assert(r.getString(1) == mixed, "NFD keeps decomposed forms")
    assert(r.getString(2) == "caf\u00e9 file G \ud55c",
      "NFKC additionally folds ligature fi and fullwidth G")
    // idempotence + ASCII passthrough (the 100 TB fast path)
    val ascii = Seq(Tuple1("plain ascii text 123")).toDF("t")
      .select(unicodeNormalize(unicodeNormalize(col("t"), "NFC"), "NFC"))
      .collect().head.getString(0)
    assert(ascii == "plain ascii text 123")
  }

  test("dedup_minhash finds planted near-dups, same-token-set docs score 1.0") {
    val pairs = run("dedup_minhash").collect()
    assert(pairs.nonEmpty)
    assert(pairs.exists(_.getDouble(2) >= 0.75)) // planted near-dups surface
    val s = spark
    import s.implicits._
    // trailing space: distinct content hash (so the exact pre-pass keeps
    // both) but identical token runs -> identical signatures
    val twins = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j "))
      .toDF("doc_id", "text")
    val p = Dedup.minhashPairs(twins, "doc_id", "text", 3, 8, 2).collect()
    assert(p.length == 1 && p.head.getDouble(2) == 1.0)
  }

  test("exact duplicates collapse in the pre-pass: a 20k-copy flood yields one pair, fast") {
    val s = spark
    import s.implicits._
    // the canonical dedup input: one viral doc with 20k exact copies.
    // Without the representatives pre-pass every copy lands in the same
    // band buckets -> ~2*10^8 bucket pairs; with it the flood is ONE rep.
    val viral = "the viral document that everyone copied verbatim today ok"
    val nearDup = "the viral document that everyone copied verbatim yesterday ok"
    val flood = (0 until 20000).map(i => (100L + i, viral)) :+ ((5L, nearDup))
    val t0 = System.nanoTime()
    val p = Dedup.minhashPairs(flood.toDF("doc_id", "text"), "doc_id", "text", 3, 8, 2)
      .collect()
    val secs = (System.nanoTime() - t0) / 1e9
    // pairs are between representatives only: (nearDup, flood-rep) at most
    assert(p.length <= 1, s"flood produced ${p.length} pairs")
    assert(p.forall(r => r.getLong(0) == 5L && r.getLong(1) == 100L))
    // generous bound: the quadratic shape takes minutes (~2*10^8 pairs);
    // the host's documented contention windows can stretch a clean run
    assert(secs < 120, s"flood took ${secs}s — quadratic bucket pairing is back")
    // representatives carries the collapse count
    val reps = Dedup.representatives(flood.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(reps(100L) == 20000L && reps(5L) == 1L)
  }

  test("bucket cap bounds near-dup floods deterministically") {
    val s = spark
    import s.implicits._
    // 200 DISTINCT texts (trailing spaces) with identical token sets: the
    // pre-pass keeps all 200 and every doc shares every band bucket — the
    // worst near-dup flood. The cap keeps the 64 lowest ids per bucket.
    val docs = (0 until 200).map(i => (i.toLong, "a b c d e f g h i j" + " " * i))
      .toDF("doc_id", "text")
    val capped = Dedup.minhashPairs(docs, "doc_id", "text", 3, 8, 2).collect()
    assert(capped.length == 64 * 63 / 2, s"got ${capped.length} pairs")
    assert(capped.forall(r => r.getLong(0) < 64 && r.getLong(1) < 64))
    val uncapped = Dedup.minhashPairs(docs, "doc_id", "text", 3, 8, 2,
      bucketCap = Int.MaxValue).collect()
    assert(uncapped.length == 200 * 199 / 2)
  }

  test("dedup_ngram_jaccard verified pairs clear the threshold") {
    val pairs = run("dedup_ngram_jaccard").collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getDouble(2) >= 0.5))
  }

  test("dedup_simhash: same-token-set docs at hamming 0; results within radius") {
    val pairs = run("dedup_simhash").collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getLong(2) <= 3))
    val s = spark
    import s.implicits._
    val twins = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j "))
      .toDF("doc_id", "text")
    val p = Dedup.simhashPairs(twins, "doc_id", "text", 3, 3).collect()
    assert(p.length == 1 && p.head.getLong(2) == 0L)
  }

  test("text_tfidf_top: terms come from the doc, ranks bounded, scores positive") {
    val rows = run("text_tfidf_top").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 3))
    assert(rows.forall(_.getDouble(2) > 0))
    val textOf = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(30).foreach { r =>
      assert(textOf(r.getLong(0)).split("\\s+").contains(r.getString(1)))
    }
  }

  test("text_pack_sequences: offsets stay in budget, packs advance monotonically per shard") {
    val rows = run("text_pack_sequences").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, pid, off) =>
      assert(off >= 0 && off < 2048)
      assert(pid >= 0)
    }
    rows.groupBy(_._2).foreach { case (_, shardRows) =>
      val ordered = shardRows.sortBy(_._1)
      // first doc of each shard starts pack 0 at offset 0
      assert(ordered.head._4 == 0L && ordered.head._5 == 0L)
      // exclusive prefix sums reconstruct (pack, offset) exactly
      var cum = 0L
      ordered.foreach { case (_, _, tok, pid, off) =>
        assert(pid == cum / 2048 && off == cum % 2048)
        cum += tok
      }
    }
  }

  test("sample_stratified: at most k per stratum, deterministic across runs") {
    val a = run("sample_stratified").collect().map(_.toString)
    val b = run("sample_stratified").collect().map(_.toString)
    assert(a.nonEmpty && a.sameElements(b))
    val perLang = run("sample_stratified").collect()
      .groupBy(r => Option(r.getString(1)))
    assert(perLang.forall(_._2.length <= 50))
  }

  test("text_quality_band trims both tails") {
    val kept = run("text_quality_band").collect()
    val total = docs.count()
    assert(kept.nonEmpty)
    kept.foreach { r => val pr = r.getDouble(2); assert(pr >= 0.05 && pr <= 0.95) }
    // strictly trims (some tail mass removed) but keeps the bulk
    assert(kept.length < total)
    assert(kept.length > total * 7 / 10)
  }

  test("connectedComponents: chains converge across rounds, singletons keep themselves") {
    val s = spark
    import s.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    // a 4-chain (needs multiple propagation rounds), a pair, a singleton
    val edges = Seq((2L, 3L), (3L, 4L), (4L, 7L), (5L, 6L)).toDF("a", "b")
    val out = Dedup.connectedComponents(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 2L, 7L -> 2L,
      5L -> 5L, 6L -> 5L))
    // edge endpoints missing from `nodes` are seeded too — a bridge node
    // absent from the node list must not split its component
    val bridged = Dedup.connectedComponents(
      Seq(1L, 3L).toDF("id"), "id", Seq((1L, 2L), (2L, 3L)).toDF("a", "b"),
      "a", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bridged == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // the registered query clusters the planted near-dups: every pair's
    // two sides share a cluster
    val pairs = run("dedup_minhash").collect().map(r => (r.getLong(0), r.getLong(1)))
    val comp = run("dedup_components").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(comp(a) == comp(b), s"pair ($a,$b) split") }
    // every cluster label is its own minimum member
    comp.groupBy(_._2).foreach { case (c, members) => assert(members.keys.min == c) }
  }

  test("training_data_e2e: stage invariants compose") {
    val rows = run("training_data_e2e").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    // splits are exactly the three labels; shards in range
    assert(rows.forall(r => Set("train", "val", "test")(r._3)))
    assert(rows.forall(r => r._4 >= 0 && r._4 < 8))
    // the kept set is deduped: every doc is its own cluster minimum, so
    // it must be a subset of the standalone dedup pipeline's keepers
    // over the SAME corpus filtered to the band — weaker but meaningful
    // cross-check: no doc kept here was removed as a near-dup there
    val cleanCorpus = run("dedup_pipeline_e2e").collect().map(_.getLong(0)).toSet
    val bandOnly = run("text_quality_band").collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      assert(bandOnly(r._1), s"doc ${r._1} escaped the quality band")
    }
    // packing: within each (split, shard), offsets chain as a prefix sum
    rows.groupBy(r => (r._3, r._4)).foreach { case (_, g) =>
      var expect = 0L
      g.sortBy(_._1).foreach { r =>
        assert(r._7 == expect % 2048 && r._6 == expect / 2048,
          s"pack chain broken at doc ${r._1}")
        expect += r._5
      }
    }
    assert(cleanCorpus.nonEmpty) // the cross-referenced query stays alive
  }

  test("training_data_decon_e2e: eval docs and 5-gram overlaps are gone") {
    val base = run("training_data_e2e").collect().map(_.getLong(0)).toSet
    val rows = run("training_data_decon_e2e").collect().map(_.getLong(0))
    assert(rows.nonEmpty)
    val got = rows.toSet
    // the decon variant only REMOVES: survivors are a subset of the base
    // flagship, and no eval doc (doc_id < 20) survives
    assert(got.subsetOf(base), s"decon added docs: ${(got -- base).take(5)}")
    assert(got.forall(_ >= 20L))
    // ground truth: no surviving doc shares a 5-gram shingle with bench
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val benchSh = docs.filter(col("doc_id") < 20)
      .select(explode(Dedup.shingles(col("text"), 5)).as("s"))
      .collect().map(_.getString(0)).toSet
    val survivors = docs.filter(col("doc_id").isInCollection(got.toSeq))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    survivors.foreach { case (id, text) =>
      val sh = text.trim.split("\\s+").filter(_.nonEmpty).sliding(5)
        .filter(_.length == 5).map(_.mkString(" ")).toSet
      assert((sh & benchSh).isEmpty, s"doc $id still shares a 5-gram with bench")
    }
  }

  test("CacheScope bounds checkpoint-block growth across invocations") {
    // Regression guard for the r4 bench pass-5 spikes: operators that
    // localCheckpoint intermediates their returned plan references
    // (components edges/snapshot, dedup reps, quality-band scores) leaked
    // blocks for the session lifetime. The SparkEntry wrapper sweeps the
    // previous invocation's registrations, so repeated invocations must
    // NOT grow the persisted-RDD set, nor the scratch dirs the sinks write.
    def persisted = spark.sparkContext.getPersistentRDDs
    def scratchDirs = CacheScope.scratchRoot.toFile.listFiles().count(_.isDirectory)
    def cycle(): Unit =
      Seq("dedup_components", "text_quality_band", "dedup_pipeline_e2e",
        "etl_pipeline_e2e", "src_csv_roundtrip", "sink_partitioned")
        .foreach(n => run(n).count())
    cycle()
    val afterOne = persisted
    val dirsAfterOne = scratchDirs
    (1 to 3).foreach(_ => cycle())
    val afterFour = persisted
    assert(scratchDirs <= dirsAfterOne,
      s"scratch dirs accreted across invocations: $dirsAfterOne -> $scratchDirs")
    assert(afterFour.size <= afterOne.size,
      s"checkpoint blocks accreted across invocations: ${afterOne.size} -> ${afterFour.size}\n" +
        s"afterOne: ${afterOne.map { case (k, v) => s"$k=${v.name}:${v.getStorageLevel}" }.mkString("; ")}\n" +
        s"afterFour: ${afterFour.map { case (k, v) => s"$k=${v.name}:${v.getStorageLevel}" }.mkString("; ")}")
  }

  test("star contraction: pathological chain beyond the propagation budget") {
    val s = spark
    import s.implicits._
    // a 400-node path has diameter 399 — label propagation at 2 steps ×
    // 20 rounds covers 40, so this graph forces the star-contraction
    // fallback; star converges in O(log² n) rounds regardless of diameter
    val n = 400
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val viaFallback = Dedup.connectedComponents(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFallback.size == n && viaFallback.values.forall(_ == 0L))
    val direct = Dedup.connectedComponentsStar(nodes, "id", edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(direct == viaFallback)
    // convergence needs two rounds with equal signatures, so a one-round
    // budget on a chain fails loudly and names the operator
    val err = intercept[IllegalArgumentException](
      Dedup.connectedComponentsStar(nodes, "id", edges, "a", "b", maxRounds = 1))
    assert(err.getMessage.contains("connectedComponentsStar did not converge in 1 rounds"))
  }

  test("star contraction == union-find on random graphs (+ singletons, dup edges)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 120
      val m = 90 + trial * 30
      val raw = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val edges = raw.toDF("a", "b")
      val nodes = (0L until n.toLong).toDF("id")
      // Scala union-find oracle with min-label normalization
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      raw.foreach { case (x, y) =>
        val (rx, ry) = (find(x.toInt), find(y.toInt))
        if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
      val expect = (0 until n).map { i =>
        var r = find(i) // normalize to the component MIN: union by min above
        i.toLong -> r.toLong
      }.toMap
      val got = Dedup.connectedComponentsStar(nodes, "id", edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"trial $trial mismatch")
    }
  }

  test("dedup_pipeline_e2e keeps exactly the cluster minima") {
    val kept = run("dedup_pipeline_e2e").collect().map(_.getLong(0)).toSet
    val clusters = run("dedup_components").collect().map(_.getLong(1)).toSet
    assert(kept == clusters)
  }

  test("mix_token_budget: targets, epochs and cap flags match brute-force sums") {
    val rows = run("mix_token_budget").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5))).toMap
    assert(rows.keySet == Set("src0", "src1", "src2"), "only configured sources")
    val avail = Tables.documents(spark, sfDir).select("source", "text").collect()
      .filter(r => rows.contains(r.getString(0)))
      .groupBy(_.getString(0))
      .map { case (src, rs) =>
        src -> rs.map(_.getString(1).trim.split("\\s+").length.toLong).sum
      }
    val weights = Map("src0" -> 60L, "src1" -> 30L, "src2" -> 10L)
    rows.foreach { case (src, (pct, av, target, epochs, overCap)) =>
      assert(pct == weights(src))
      assert(av == avail(src))
      assert(target == 10000000L * pct / 100)
      assert(math.abs(epochs - target.toDouble / av) < 1e-4)
      assert(overCap == (epochs > 4.0))
    }
    // the 10M budget over this corpus forces repetition somewhere
    assert(rows.values.exists(_._5), "some source should exceed the cap")
  }

  test("mix_sources: deterministic, rates order the per-source keep fractions") {
    val a = run("mix_sources").collect().map(_.getLong(0))
    val b = run("mix_sources").collect().map(_.getLong(0))
    assert(a.nonEmpty && a.sameElements(b))
    val keptBySource = run("mix_sources").collect()
      .groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val totalBySource = Tables.documents(spark, sfDir).select("source").collect()
      .groupBy(_.getString(0)).view.mapValues(_.length).toMap
    def frac(s: String) =
      keptBySource.getOrElse(s, 0).toDouble / totalBySource(s)
    // 0.9-rate source keeps a larger fraction than the 0.1-rate source
    if (totalBySource.contains("src0") && totalBySource.contains("src1"))
      assert(frac("src0") > frac("src1"))
  }

  test("decon_overlap: only benchmark partners, fraction clears threshold") {
    val rows = run("decon_overlap").collect()
    rows.foreach { r =>
      assert(r.getLong(1) < 20)          // bench_id in the benchmark set
      assert(r.getLong(0) != r.getLong(1))
      assert(r.getDouble(3) >= 0.2)
    }
  }

  test("candidate generation is bucketed: no cartesian product in any dedup plan") {
    Seq("dedup_minhash", "dedup_ngram_jaccard", "dedup_simhash").foreach { q =>
      val p = plan(run(q))
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("text_dup_spans matches a brute-force fingerprint df count") {
    val rows = run("text_dup_spans").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // brute force: per-doc fingerprint sets straight from the kernel
    val fps = Tables.documents(spark, sfDir).select(col("doc_id"),
        graft.functions.GraftFunctions.winnowFingerprints(col("text"), 8, 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val dfCount = fps.values.toSeq.flatMap(_.toSeq).groupBy(x => x)
      .map { case (k, v) => k -> v.size }
    assert(rows.keySet == fps.keySet, "every doc must surface, even unfingerprintable ones")
    fps.foreach { case (id, set) =>
      val (nFps, nShared, frac) = rows(id)
      assert(nFps == set.size)
      assert(nShared == set.count(dfCount(_) >= 2))
      assert(frac >= 0.0 && frac <= 1.0)
      if (nFps > 0)
        assert(math.abs(frac - nShared.toDouble / nFps) < 1e-4)
      else assert(frac == 0.0)
    }
    // the corpus plants near-dups: some doc must show real span sharing
    assert(rows.values.exists(_._3 > 0.5), "planted near-dups should share spans")
  }

  test("text_dedup_sentences: repeated sentences survive only in their first doc") {
    // the split + sentence exchange materialize ONCE (checkpointed):
    // the query plan must read the cached relation, never re-run the
    // corpus-wide split per branch (measured 1.7s -> 0.9s at sf0.1)
    val df = run("text_dedup_sentences")
    val p0 = plan(df)
    assert(!p0.contains("posexplode"),
      s"split re-executes inside the query plan:\n${p0.take(2000)}")
    val rows = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // brute-force replay of the split + keep-first rule
    val split = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map { r =>
        val sents = r.getString(1).replace(" table ", " table. ")
          .split("[.!?]+(\\s+|$)").map(_.trim).filter(_.nonEmpty).toSeq
        r.getLong(0) -> sents
      }.toMap
    val firstDoc = split.toSeq.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).min }
    val docsPer = split.toSeq.flatMap { case (id, ss) => ss.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).distinct.size }
    assert(rows.keySet == split.keySet)
    split.foreach { case (id, ss) =>
      val kept = ss.filter(s => docsPer(s) < 2 || firstDoc(s) == id)
      val (nSents, nKept, clean) = rows(id)
      assert(nSents == ss.size, s"doc $id n_sents")
      assert(nKept == kept.size, s"doc $id n_kept")
      assert(clean == kept.mkString(". "), s"doc $id clean_text")
    }
    // the corpus plants duplicates: something must actually be removed,
    // and every removed sentence's canonical copy must survive somewhere
    assert(rows.values.exists { case (n, k, _) => k < n }, "nothing was removed")
    val allKept = rows.toSeq.flatMap { case (id, (_, _, c)) =>
      c.split("\\. ").filter(_.nonEmpty) }.toSet
    docsPer.filter(_._2 >= 2).keys.foreach { s =>
      assert(allKept.exists(_.contains(s.take(40))), s"canonical copy of '$s' lost")
    }
  }

  test("decon_spans == brute-force bench-fp collisions, bench side broadcast") {
    val df = run("decon_spans")
    val rows = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val fps = Tables.documents(spark, sfDir).select(col("doc_id"),
        graft.functions.GraftFunctions.winnowFingerprints(col("text"), 8, 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val benchSet = fps.filter(_._1 < 20).values.flatten.toSet
    val corpus = fps.filter(_._1 >= 20)
    assert(rows.keySet == corpus.keySet, "every corpus doc must surface")
    corpus.foreach { case (id, set) =>
      val (nFps, nHits, frac) = rows(id)
      assert(nFps == set.size)
      assert(nHits == set.count(benchSet.contains))
      if (nFps > 0) assert(math.abs(frac - nHits.toDouble / nFps) < 1e-4)
      else assert(frac == 0.0)
    }
    // benchmark fingerprints ride a broadcast — the corpus side never
    // shuffles for the join (the only exchange is the doc-grain re-agg)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), "bench fp set must broadcast")
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for the join")
  }

  test("sample_hash_split: stable under corpus growth, rates near weights") {
    val full = run("sample_hash_split").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // stability: the same doc keeps its split when computed over a subset
    import graft.operators.TextOps.hashSplit
    val subset = hashSplit(
      Tables.documents(spark, sfDir).select("doc_id", "source")
        .filter(col("doc_id") % 3 === 0),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .collect().map(r => r.getLong(0) -> r.getString(2))
    subset.foreach { case (id, s) => assert(full(id) == s, s"doc $id flipped split") }
    // rates: a uniform draw at n=500 stays within generous binomial bounds
    val n = full.size.toDouble
    val trainFrac = full.values.count(_ == "train") / n
    assert(math.abs(trainFrac - 0.8) < 0.08, s"train fraction $trainFrac")
    assert(full.values.toSet.subsetOf(Set("train", "val", "test")))
  }

  test("sample_weighted: monotone in weight, boundary weights exact") {
    import graft.operators.Dedup.sampleWeighted
    val docs = Tables.documents(spark, sfDir).select("doc_id", "n_chars")
    val total = docs.count()
    // weight 1 keeps everything, weight 0 keeps nothing
    assert(sampleWeighted(docs, "doc_id", lit(1.0)).count() == total)
    assert(sampleWeighted(docs, "doc_id", lit(0.0)).count() == 0)
    // the draw is fixed per id, so a higher weight keeps a SUPERSET
    val lo = sampleWeighted(docs, "doc_id", lit(0.3)).collect().map(_.getLong(0)).toSet
    val hi = sampleWeighted(docs, "doc_id", lit(0.7)).collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi))
    // and the registered query keeps long docs at a higher rate
    val kept = run("sample_weighted").collect().map(_.getLong(0)).toSet
    val byLen = docs.collect().map(r => r.getLong(0) -> r.getLong(1))
    val (long, short) = byLen.partition(_._2 >= 2000)
    if (long.nonEmpty && short.nonEmpty) {
      def frac(xs: Array[(Long, Long)]) = xs.count(x => kept(x._1)).toDouble / xs.length
      assert(frac(long) >= frac(short),
        s"long-doc keep ${frac(long)} < short-doc keep ${frac(short)}")
    }
  }

  test("corpus_report: margins reconcile with the per-doc projections") {
    val rows = run("corpus_report").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5))).toMap
    assert(rows.nonEmpty)
    val totalDocs = Tables.documents(spark, sfDir).count()
    assert(rows.values.map(_._1).sum == totalDocs, "every doc lands in one cell")
    rows.values.foreach { case (nDocs, totTok, avgQ, nPass) =>
      assert(nPass <= nDocs && totTok >= 0)
      assert(avgQ >= -1.0 && avgQ <= 1.5)
    }
    // token margin agrees with the standalone tokencount operator
    val wsTotal = run("text_tokencount").collect().map(_.getLong(1)).sum
    assert(rows.values.map(_._2).sum == wsTotal)
  }

  test("mix_temperature: keep rates flatten the head, smallest lang keeps all") {
    val all = Tables.documents(spark, sfDir).select("doc_id", "lang")
    val total = all.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = run("mix_temperature").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val keptBy = kept.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    // every row of the smallest language survives (its rate is exactly 1)
    val smallest = total.minBy(t => (t._2, t._1))._1
    assert(keptBy(smallest) == total(smallest))
    // exact brute-force replication of the draw: md5 first-4-nibble
    // integer under sqrt(nmin/n) * 65536 (the realized FRACTIONS carry
    // binomial noise at this sf, so assert the decision rule itself)
    val nmin = total.values.min
    def draw(id: Long): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(dig.take(2).map("%02x".format(_)).mkString, 16)
    }
    val expect = all.collect().map(r => (r.getLong(0), r.getString(1)))
      .filter { case (id, l) =>
        draw(id) < math.sqrt(nmin.toDouble / total(l).toDouble) * 65536
      }.toSet
    assert(kept.toSet == expect)
    // deterministic: the md5 draw has no RNG state
    assert(run("mix_temperature").collect().map(r =>
      (r.getLong(0), r.getString(1))).sameElements(kept))
    // NULL sources form their own group (rate from their own count)
    // instead of silently dropping while still setting the minimum
    val s2 = spark
    import s2.implicits._
    val withNull = Seq((1L, null.asInstanceOf[String]), (2L, "en"),
      (3L, "en"), (4L, "en")).toDF("doc_id", "lang")
    val gotNull = Dedup.mixTemperatureHalf(withNull, "lang", "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(gotNull.contains(1L)) // the singleton NULL group keeps its row
  }

  test("sample_soft_dedup == exact draw replay over the operator's own clusters") {
    val rows = run("sample_soft_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // replay: reps -> minhash pairs -> union-find min labels -> cluster
    // doc counts -> the md5 draw under 1/size, all in plain Scala
    val reps = Dedup.representatives(docs, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[Long]("n_dupes")))
    val pairs = Dedup.minhashPairsOfReps(
      Dedup.representatives(docs, "doc_id", "text").select("doc_id", "text"),
      "doc_id", "text", n = 3, k = 8, rowsPerBand = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val clusterOfRep = reps.map { case (rid, _, _) => rid -> find(rid) }.toMap
    val clusterDocs = reps.groupBy(r => clusterOfRep(r._1))
      .view.mapValues(_.map(_._3).sum).toMap
    val repOfText = reps.map { case (rid, t, _) => t -> rid }.toMap
    // WIDE 32-bit draw (8 md5 nibbles): rates of 1/cluster_docs must not
    // floor at 1/65536 for huge clusters
    def draw(id: Long): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(dig.take(4).map("%02x".format(_)).mkString, 16)
    }
    val expect = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .flatMap { case (id, t) =>
        val c = clusterOfRep(repOfText(t))
        val n = clusterDocs(c)
        if (draw(id) < 4294967296.0 / n) Some((id, c, n)) else None
      }
    assert(rows.toSet == expect.toSet && rows.nonEmpty)
    // singleton clusters have rate exactly 1: every one survives
    assert(clusterDocs.values.exists(_ == 1L))
    // stateless draw: identical output on re-run
    assert(run("sample_soft_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sameElements(rows))
  }

  test("text_classifier_gate: logit threshold == sigmoid threshold, zero shuffle") {
    val df = run("text_classifier_gate")
    val rows = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.nonEmpty && rows.values.forall(_ >= 1.7))
    // replay the linear head over the quality features
    val feats = TextOps.quality(docs, "text")
      .select("doc_id", "alpha_ratio", "punct_ratio", "stop_ratio", "n_tokens")
      .collect().map(r => (r.getLong(0),
        r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    val expect = feats.flatMap { case (id, a, p, st, n) =>
      val logit = -0.5 + 2.0 * a + (-3.0) * p + 1.5 * st +
        0.8 * math.min(n.toDouble / 100.0, 1.0)
      if (logit >= 1.7) Some(id -> logit) else None
    }.toMap
    assert(rows == expect)
    // the gate must really discriminate on this corpus
    assert(rows.size < feats.length)
    // classifier inference is a projection: no wide exchange (the only
    // Exchange is the single-partition one under the trailing answer sort)
    assert(!plan(df).contains("hashpartitioning"))
  }

  test("text_classifier_train_k: 5-feature Gauss solve distills the gate; k=2 agrees with Cramer") {
    val s = spark
    import s.implicits._
    val r = run("text_classifier_train_k").collect().head
    val n = r.getLong(0); val nPos = r.getLong(1)
    val acc = r.getDouble(8)
    assert(n == Tables.documents(spark, sfDir).count())
    assert(nPos > 0 && nPos < n, "degenerate teacher labels")
    // the 5-feature student sees every teacher feature family (alpha /
    // punct / stop / capped length) plus digits — it must distill the
    // linear teacher nearly perfectly (measured 1.0 at sf0.001)
    assert(acc >= 0.9, s"k-feature distillation accuracy $acc below floor")
    (2 to 7).foreach(i => assert(!r.getDouble(i).isNaN, s"beta ${i - 2} NaN"))
    // CONSISTENCY with the hand-rolled Cramer path: on the same two
    // features the generated Gauss elimination must reproduce
    // logitTrain's betas (different but equivalent double trees — equal
    // to well under the 4dp output rounding)
    val feats = (0 until 300).map { i =>
      (if (i % 3 == 0) 1L else 0L, (i % 50) * 200L, ((i * 7) % 100) * 100L)
    }.toDF("y", "x1", "x2")
    val viaCramer = TextOps.logitTrain(feats, col("y"), col("x1"), col("x2"))
      .collect().head
    val viaGauss = TextOps.logitTrainK(feats, col("y"), Seq(col("x1"), col("x2")))
      .collect().head
    (2 to 4).foreach { i =>
      assert(math.abs(viaCramer.getDouble(i) - viaGauss.getDouble(i)) <= 1e-3,
        s"beta ${i - 2} diverged: cramer=${viaCramer.getDouble(i)} gauss=${viaGauss.getDouble(i)}")
    }
    assert(viaCramer.getDouble(5) == viaGauss.getDouble(5), "train_acc diverged")
    // separable fixture stays finite under the ridge (the IRLS guard)
    val sep = (0 until 200).map { i =>
      val y = i % 2
      (y.toLong, if (y == 1) 9000L + (i % 7) else 1000L + (i % 7), 5000L)
    }.toDF("y", "x1", "x2")
    val fit = TextOps.logitTrainK(sep, col("y"), Seq(col("x1"), col("x2")))
      .collect().head
    assert(!fit.getDouble(2).isNaN && math.abs(fit.getDouble(3)) < 1e6,
      "separable k-fit diverged")
    assert(fit.getDouble(5) == 1.0, "separable fixture not fully classified")
  }

  test("text_classifier_train: distilled gate clears the accuracy floor; ridge keeps separable fits finite") {
    val s = spark
    import s.implicits._
    // registered query: 2-step ridge-IRLS distillation of the committed
    // gate — the student must reproduce most of the teacher from the
    // cheap feature subset, with a meaningful positive class
    val r = run("text_classifier_train").collect().head
    val (n, nPos, b0, b1, b2, acc) = (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(n == docs.count())
    assert(nPos > 0 && nPos < n, "degenerate teacher labels")
    assert(acc >= 0.85, s"distilled gate accuracy $acc below floor")
    // the gate's decision is length-driven on this corpus: the length
    // coefficient must be positive and dominant
    assert(b2 > 0, s"length coefficient $b2 not positive")
    assert(math.abs(b2) > math.abs(b1), s"unexpected dominance: b1=$b1 b2=$b2")
    assert(b0 < 0, s"intercept $b0 should gate short docs out")
    // PERFECTLY SEPARABLE fixture: unregularized IRLS diverges (weights
    // -> infinity, singular A); the ridge term must keep the fit finite
    // and still classify the fixture perfectly
    val sep = (0 until 200).map { i =>
      val y = i % 2
      (y.toLong, if (y == 1) 9000L + (i % 7) else 1000L + (i % 7), 5000L)
    }.toDF("y", "x1", "x2")
    val fit = TextOps.logitTrain(sep, col("y"), col("x1"), col("x2")).collect().head
    val (fb0, fb1, facc) = (fit.getDouble(2), fit.getDouble(3), fit.getDouble(5))
    assert(!fb0.isNaN && !fb1.isNaN && math.abs(fb1) < 1e6,
      s"separable fit diverged: b0=$fb0 b1=$fb1")
    assert(facc == 1.0, s"separable fixture not fully classified: $facc")
  }

  test("dedup_scoped: pairs never cross the scope boundary, per-scope reps") {
    val rows = run("dedup_scoped").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // every pair's endpoints share the source (by construction of the
    // output, but assert against the raw table to close the loop)
    val srcOf = Tables.documents(spark, sfDir).select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (s, a, b) =>
      assert(srcOf(a) == s && srcOf(b) == s)
    }
    // synthetic: near-dup pairs inside each source surface; identical
    // content ACROSS sources neither pairs nor collapses
    val s2 = spark
    import s2.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val near = base + " iota"
    val syn = Seq(
      (1L, base, "s1"), (2L, near, "s1"),   // near-dups within s1
      (3L, base, "s2"), (4L, near, "s2"),   // same pair within s2
      (5L, base, "s3")                      // identical to 1/3, alone in s3
    ).toDF("doc_id", "text", "source")
    val got = graft.operators.Dedup.minhashPairsScoped(
      syn, "doc_id", "text", "source", n = 3, k = 8, rowsPerBand = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("s1", 1L, 2L), ("s2", 3L, 4L)))
  }

  test("dedup_components_persisted == the in-session index, narrow scan") {
    val persisted = run("dedup_components_persisted").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val live = run("dedup_components").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(persisted.sameElements(live) && persisted.nonEmpty)
    // the read-back is a plain two-column parquet scan
    val p = plan(run("dedup_components_persisted"))
    assert(p.contains("Scan parquet") &&
      p.contains("ReadSchema: struct<doc_id:bigint,cluster:bigint>"))
  }

  test("dedup_size_hist: histogram margins reconcile with the corpus") {
    val rows = run("dedup_size_hist").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.nonEmpty)
    // Σ size × count == corpus docs; Σ count == number of clusters
    val total = rows.map { case (s, n) => s * n }.sum
    assert(total == docs.count())
    // reconciles with the e2e keeper table (one keeper per cluster)
    val keepers = run("dedup_pipeline_e2e").count()
    assert(rows.map(_._2).sum == keepers)
  }

  test("sample_upsample: contiguous epochs, exact draw replay, no shuffle") {
    val df = run("sample_upsample")
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty)
    // epochs are contiguous 1..copies per doc
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.sameElements(1L to rs.length))
    }
    // exact replay of floor + fractional-draw semantics
    def draw(id: Long): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(dig.take(2).map("%02x".format(_)).mkString, 16)
    }
    val expect = Tables.documents(spark, sfDir).select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .flatMap { case (id, src) =>
        val w = src match { case "src0" => 2.3; case "src1" => 1.0; case _ => 0.5 }
        val copies = w.toLong + (if (draw(id) < (w - w.toLong) * 65536) 1L else 0L)
        (1L to copies).map(e => (id, src, e))
      }
    assert(rows.toSet == expect.toSet)
    // replication happens where the row is read: no wide exchange
    assert(!plan(df).contains("hashpartitioning"))
  }

  test("decon_exact == brute-force phrase containment, bench side broadcast") {
    val df = run("decon_exact")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val phrases = all.filter(_._1 < 20).flatMap { case (id, t) =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      if (toks.length >= 5) Some(id -> toks.take(5).mkString(" ")) else None
    }
    val expect = (for {
      (did, text) <- all
      (bid, ph) <- phrases
      if did != bid && text.replaceAll("\\s+", " ").contains(ph)
    } yield (did, bid)).toSet
    assert(got == expect)
    // the scan side normalises whitespace: a re-wrapped copy still matches
    val s2 = spark
    import s2.implicits._
    val wrapped = Seq((900L, phrases.head._2.replace(" ", "\n")),
      (901L, "nothing shared here")).toDF("doc_id", "text")
    val hits = graft.operators.Dedup.exactContamination(
      wrapped, docs.filter(col("doc_id") < 20), "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.contains((900L, phrases.head._1)) && !hits.exists(_._1 == 901L))
    // the bench side must broadcast — corpus side never shuffles
    assert(plan(df).contains("BroadcastNestedLoopJoin"))
  }

  test("text_bpe_pairs matches a hand-counted vocabulary") {
    val s = spark
    import s.implicits._
    // wc: ab->2, abc->1, cd->1 (x is 1 char, contributes no pair)
    val two = Seq((1L, "ab ab abc"), (2L, "x cd")).toDF("doc_id", "text")
    val got = TextOps.bpePairCounts(two, "text", topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("ab" -> 3L, "bc" -> 1L, "cd" -> 1L))
  }

  test("text_oov_rate: top-k vocab coverage, zero OOV under a full vocab") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "aa aa bb"), (2L, "aa zz")).toDF("doc_id", "text")
    // vocabK=1 -> vocab={aa} (tf 3); doc1 flags bb, doc2 flags zz
    val tight = TextOps.oovRate(df, "doc_id", "text", vocabK = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(tight(1L) == ((3L, 1L, 0.3333)))
    assert(tight(2L) == ((2L, 1L, 0.5)))
    // a vocab bigger than the term universe covers everything
    val full = TextOps.oovRate(df, "doc_id", "text", vocabK = 100)
      .collect().map(_.getLong(2))
    assert(full.forall(_ == 0L))
  }

  test("dedup_incremental: pairs cross the boundary only, batch side broadcast") {
    val s = spark
    import s.implicits._
    val t1 = "the quick brown fox jumps over the lazy dog tonight"
    val t2 = "completely unrelated content about spark physical plans here"
    val corpus = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
    val batch = Seq((10L, t1), (11L, "third text sharing nothing with either corpus doc")).toDF("doc_id", "text")
    val df = Dedup.incrementalPairs(corpus, batch, "doc_id", "text",
      n = 3, k = 8, rowsPerBand = 2)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the exact copy is found with full signature agreement
    assert(rows.contains((10L, 1L, 1.0)))
    // ids never come from the same side
    assert(rows.forall { case (b, c, _) => Set(10L, 11L)(b) && Set(1L, 2L)(c) })
    // the increment is the broadcast side — the corpus takes no join shuffle
    assert(plan(df).contains("BroadcastHashJoin"))
  }

  test("dedup_normalized merges case/punct/whitespace variants, counts raw kinds") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "Hello, World!"), (2L, "hello   world"), (3L, "HELLO-world"),
      (4L, "something else")
    ).toDF("doc_id", "text")
    val got = TextOps.dedupNormalized(df, "doc_id", "text")
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    // three trivially-distinct variants collapse to one canonical group
    assert(got(1L) == ((3L, 3L)))
    assert(got(4L) == ((1L, 1L)))
    // the normalization is a projection: no join, exactly one wide agg
    val df2 = TextOps.dedupNormalized(df, "doc_id", "text")
    assert(!plan(df2).contains("Join"))
  }

  test("text_collocations: dice over hand-counted margins, floor respected") {
    val s = spark
    import s.implicits._
    // c(a)=5, c(b)=5, c(a,b)=5 -> dice = 10/10 = 1.0; (b,c) appears twice
    // -> below the floor of 5 and must not surface
    val df = Seq(
      (1L, "a b c a b"), (2L, "a b c a b"), (3L, "a b")
    ).toDF("doc_id", "text")
    val got = TextOps.collocations(df, "text", minCount = 5L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("a", "b", 5L, 1.0)))
    // margins joined broadcast: the corpus-sized pass is only the two aggs
    val lowFloor = TextOps.collocations(df, "text", minCount = 1L, topK = 10)
    assert(plan(lowFloor).contains("BroadcastHashJoin"))
    val all = lowFloor.collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    // c(b,c)=2, c(b)=5, c(c)=2 -> 4/7 = 0.5714...
    assert(all(("b", "c")) == 0.5714)
  }

  test("dedup_edit_verify: bounded levenshtein on LSH candidates only") {
    val s = spark
    import s.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again tonight"
    val typo = base.replace("quick", "quikc") // in-word mutation, 2 edits
    val far = "completely different content with no overlap at all whatsoever here now"
    val df = Seq((1L, base), (2L, typo), (3L, far)).toDF("doc_id", "text")
    val got = Dedup.editVerify(df, "doc_id", "text", n = 3, k = 8,
      rowsPerBand = 2, maxDist = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == 1)
    val (a, b, d, sim) = got.head
    assert(a == 1L && b == 2L && d == 2L)
    val ml = math.max(base.length, typo.length)
    val expected = math.floor((2e4 * (ml - 2) + ml) / (2.0 * ml)) / 1e4
    assert(sim == expected)
  }

  test("sample_leakage_split: a cluster never straddles the split boundary") {
    val rows = run("sample_leakage_split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty && rows.length == rows.map(_._1).distinct.length)
    // structural guarantee: one split value per cluster
    val byCluster = rows.groupBy(_._2).view.mapValues(_.map(_._3).distinct.size)
    assert(byCluster.values.forall(_ == 1))
    // and specifically: every near-dup candidate pair lands on one side
    val splits = rows.map(r => r._1 -> r._3).toMap
    val pairs = run("dedup_minhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(splits(a) == splits(b), s"($a,$b)") }
  }

  test("text_sentences: terminator runs, empty fragments dropped, indexed") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "First one. Second!! Third?  "),
      (2L, "No terminator at all"),
      (3L, "...")
    ).toDF("doc_id", "text")
    val got = TextOps.sentences(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.filter(_._1 == 1L).toSeq == Seq(
      (1L, 0L, "First one", 2L), (1L, 1L, "Second", 1L), (1L, 2L, "Third", 1L)))
    assert(got.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "No terminator at all", 4L)))
    // a doc that is ONLY terminators contributes no sentences
    assert(!got.exists(_._1 == 3L))
  }

  test("text_boilerplate: document frequency, in-doc repeats count once") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "All rights reserved. Unique alpha. All rights reserved."),
      (2L, "All rights reserved. Unique beta."),
      (3L, "Nothing shared here.")
    ).toDF("doc_id", "text")
    val got = TextOps.boilerplate(df, "doc_id", "text", minDocs = 2L, topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // doc 1 repeats the blurb internally but contributes ONE doc
    assert(got.toSeq == Seq("All rights reserved" -> 2L))
  }

  test("text_lm_score: add-one bigram log-probs, quantized and exact") {
    val s = spark
    import s.implicits._
    // uni: a=3 b=3, V=2; every bigram has c12=2 -> p = 3/5
    // floor(ln(0.6) * 1e4) = floor(-5108.256) = -5109
    val df = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val got = TextOps.lmScore(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((-15327L, 3L, -0.5109)))
    assert(got(2L) == ((-5109L, 1L, -0.5109)))
    // the model tables broadcast; the corpus side never shuffles for them
    val df2 = TextOps.lmScore(df, "doc_id", "text")
    assert(plan(df2).contains("BroadcastHashJoin"))
  }

  test("text_bpe_merges: greedy merge loop, hand-computed") {
    val s = spark
    import s.implicits._
    // vocab: ab(wn=2), abc(wn=1)
    // round 1 pairs: (a,b)=3, (b,c)=1 -> merge (a,b) freq 3
    // round 2 pairs: (ab,c)=1       -> merge (ab,c) freq 1
    // round 3: no pairs left        -> loop stops early (k=5)
    val df = Seq((1L, "ab ab abc")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(df, "text", k = 5)
      .orderBy("merge_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "a", "b", "ab", 3L),
      (2L, "ab", "c", "abc", 1L)))
  }

  test("text_bpe_merges: overlapping runs merge greedily left-to-right") {
    val s = spark
    import s.implicits._
    // "aaa": round-1 pairs (a,a)=2 -> merge; greedy application leaves
    // "aa a" (the merged symbol does NOT cascade within the round)
    val df = Seq((1L, "aaa")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(df, "text", k = 2)
      .orderBy("merge_rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "a", "a", "aa", 2L),
      (2L, "aa", "a", "aaa", 1L)))
  }

  test("text_html_extract: real-page fixture — boilerplate drops, prose survives") {
    val s = spark
    import s.implicits._
    val html =
      """<html><head><title>My page</title>
        |<style type="text/css">body { color: red; } .nav { display: none }</style>
        |<script>if (a < b && c > d) { track("page"); }</script>
        |</head><body>
        |<div class="nav"><ul><li><a href="/">Home</a></li><li><a href="/x">Products</a></li></ul></div>
        |<h1>A headline that is long enough to keep around</h1>
        |<p>The first paragraph of real body prose, with an &amp; ampersand and a &quot;quoted&quot; phrase, long enough to pass the density gate.</p>
        |<p>Second paragraph   with   odd
        |whitespace that should collapse to single spaces and still be kept.</p>
        |<table><tr><td>a</td><td>b</td></tr></table>
        |<br><footer>&copy; 2026</footer>
        |</body></html>""".stripMargin
    val got = TextOps.htmlExtract(
      Seq((1L, html)).toDF("doc_id", "html"), "doc_id", "html").collect()(0)
    val lines = got.getString(1).split("\n").toSeq
    // body prose and the headline survive; script contents (with their
    // bare < > operators), nav anchors, cell soup and footer all drop
    assert(lines == Seq(
      "A headline that is long enough to keep around",
      "The first paragraph of real body prose, with an & ampersand and a \"quoted\" phrase, long enough to pass the density gate.",
      "Second paragraph with odd whitespace that should collapse to single spaces and still be kept."))
    assert(!got.getString(1).contains("track") && !got.getString(1).contains("Home"))
    assert(got.getLong(2) == 3L)       // n_kept
    assert(got.getLong(3) > got.getLong(2)) // short boilerplate lines counted, dropped
  }

  test("text_html_pipeline: extraction feeds the gate and dedup — copies collapse, low quality drops") {
    val s = spark
    import s.implicits._
    val good = "the quick brown fox jumps over the lazy dog and the small cat with a very long tail today"
    val bad = ";;;; ---- !!!! @@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( )))) ===="
    val docs = Seq((1L, good), (2L, good), (3L, bad)).toDF("doc_id", "text")
    val got = SparkEntry.queries("text_html_pipeline")(spark, sfDir)
    assert(got.columns.toSeq == Seq("doc_id", "quality_score", "n_dupes"))
    // fixture run through the same operators directly
    val ext = TextOps.htmlExtract(
      docs.withColumn("html", concat(lit("<html><body><div><a href=\"/\">Home</a></div><p>"),
        col("text"), lit("</p><footer>&copy; x</footer></body></html>"))),
      "doc_id", "html")
    val scored = TextOps.quality(ext.select(col("doc_id"), col("main_text")), "main_text")
    val kept = scored.filter(col("quality_score") >= 0.9)
      .groupBy(col("main_text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dupes"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(kept == Map(1L -> 2L)) // copies collapsed to doc 1; punct soup gated out
  }

  test("text_bpe_merges_local == distributed trainer on fixtures") {
    val s = spark
    import s.implicits._
    for (corpus <- Seq(Seq((1L, "ab ab abc")), Seq((1L, "aaa")),
      Seq((1L, "ab ab abc"), (2L, "abc abd d")))) {
      val df = corpus.toDF("doc_id", "text")
      val dist = TextOps.bpeMerges(df, "text", k = 5).collect().map(_.toString).sorted
      val local = TextOps.bpeMergesLocal(df, "text", k = 5).collect().map(_.toString).sorted
      assert(dist.sameElements(local), s"trainers diverge on $corpus")
    }
  }

  test("text_bpe_encode: encoding matches hand-applied merges") {
    val s = spark
    import s.implicits._
    // vocab: ab(2) abc(2) abd(1) d(1)
    // r1 pairs: (a,b)=5 (b,c)=2 (b,d)=1 -> merge (a,b)
    // r2 pairs: (ab,c)=2 (ab,d)=1      -> merge (ab,c); k=2 stops
    // encodings: ab->[ab] abc->[abc] abd->[ab,d] d->[d]
    val df = Seq((1L, "ab ab abc"), (2L, "abc abd d")).toDF("doc_id", "text")
    val merges = TextOps.bpeMerges(df, "text", k = 2)
    val words = TextOps.bpeEncodeWords(df, "text", merges)
      .select("w", "bpe_repr", "n_bpe").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(words("ab") == ((" ab ", 1L)))
    assert(words("abc") == ((" abc ", 1L)))
    assert(words("abd") == ((" ab d ", 2L)))
    assert(words("d") == ((" d ", 1L)))
    val perDoc = TextOps.bpeEncode(df, "doc_id", "text", merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(perDoc(1L) == ((3L, 3L))) // ab ab abc -> 3 words, 3 bpe tokens
    assert(perDoc(2L) == ((3L, 4L))) // abc abd d -> 3 words, 4 bpe tokens
  }

  test("text_lm_score: BOTH n-gram joins are size-decided, not pinned broadcast") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // -1 models "n-gram tables over any broadcast budget" (the 100 TB
      // case — a multilingual vocabulary is easily 1e8 rows): both the
      // bigram AND the unigram-margin join must flip to shuffle joins;
      // only the pinned 1-row vocab count may stay broadcast (as a
      // nested-loop, not a hash join)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val scored = TextOps.lmScore(df, "doc_id", "text")
      val p = plan(scored)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"n-gram joins should shuffle when over-threshold:\n${p.take(1200)}")
      assert(!p.contains("BroadcastHashJoin"),
        s"no equi-join may carry a broadcast pin:\n${p.take(1200)}")
      // and the answer is identical under either join strategy
      val got = scored.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got(1L) == ((-15327L, 3L)) && got(2L) == ((-5109L, 1L)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // at the default threshold the same tiny tables broadcast by SIZE
    // (engine-chosen, no hint) — the small-corpus fast path survives
    val p2 = plan(TextOps.lmScore(df, "doc_id", "text"))
    assert(p2.contains("BroadcastHashJoin"),
      s"size-decided broadcast should kick in for tiny margins:\n${p2.take(1200)}")
  }

  test("mix_anneal: epoch 1 keeps all; per-band survival anneals; zero-shuffle plan") {
    val rows = run("mix_anneal").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, sfDir).count()
    // epoch 1 rates are all 1.0 — the draw (< 65536) can never fail
    assert(rows.count(_._2 == 1L).toLong == nDocs)
    // high band survives every epoch in full; low band thins monotonically
    val byEpochBand = rows.groupBy(t => (t._2, t._3)).view.mapValues(_.length).toMap
    val high1 = byEpochBand.getOrElse((1L, "high"), 0)
    assert(Seq(2L, 3L).forall(e => byEpochBand.getOrElse((e, "high"), 0) == high1))
    val lows = Seq(1L, 2L, 3L).map(e => byEpochBand.getOrElse((e, "low"), 0))
    assert(lows(0) > lows(1) && lows(1) > lows(2),
      s"low band must thin across epochs, got $lows")
    // the operator is a filtered projection: no Exchange anywhere
    val p = plan(graft.operators.TextOps.mixAnneal(
      Tables.documents(spark, sfDir).select("doc_id", "text"), "doc_id", "text",
      2.0, -3.0, 1.5, 0.8, -0.5, 1.55, 1.8,
      Seq((1L, 1.0, 1.0, 1.0), (2L, 0.5, 1.0, 1.0), (3L, 0.1, 0.5, 1.0))))
    assert(!p.contains("Exchange"), s"anneal must not shuffle:\n${p.take(800)}")
  }

  test("text_bm25_search: ranked desc, and a term-bearing doc beats a term-free one") {
    val s = spark
    import s.implicits._
    val rows = run("text_bm25_search").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getLong(2))
    assert(scores.sameElements(scores.sorted.reverse), "must rank by bm25_q4 desc")
    // direct semantics on a 3-doc corpus: only docs containing a query
    // term appear, and the doc with more hits outranks the one with fewer
    val tiny = Seq(
      (1L, "spark merge window extra pad pad"),
      (2L, "spark pad pad pad pad pad"),
      (3L, "pad pad pad pad pad pad")).toDF("doc_id", "text")
    val r = TextOps.bm25Search(tiny, "doc_id", "text",
      Seq("spark", "merge", "window"), topK = 10)
      .select("doc_id", "bm25_q4").collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(r.map(_._1).toSet == Set(1L, 2L), "term-free doc must not appear")
    assert(r.head._1 == 1L && r.head._2 > r(1)._2, "3-hit doc must outrank 1-hit doc")
  }

  test("dedup_keep_best: exactly one keeper per cluster, argmax by (quality, -id)") {
    val s = spark
    import s.implicits._
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 9L), (10L, 9L))
      .toDF("doc_id", "cluster")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (7L, 0.1), (9L, 0.4), (10L, 0.4))
      .toDF("doc_id", "quality_score")
    val got = Dedup.keepBest(comp, scores, "doc_id", "quality_score")
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(1L)._1 == 2L && !got(1L)._2)  // 0.9 beats 0.5; tie 2<3
    assert(got(2L) == ((2L, true)) && got(3L) == ((2L, false)))
    assert(got(7L) == ((7L, true)))          // singleton keeps itself
    assert(got(9L) == ((9L, true)) && got(10L)._1 == 9L) // tie -> min id
    // the registered query: one kept doc per cluster, keeper in-cluster
    val rows = run("dedup_keep_best").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, ms) =>
      assert(ms.count(_._4) == 1, s"cluster $c must keep exactly one")
      val keep = ms.map(_._3).distinct
      assert(keep.length == 1 && ms.exists(_._1 == keep.head),
        s"cluster $c keeper must be a member")
    }
  }

  test("decon_bloom_screen: sound (never misses), contaminated docs flagged") {
    val rows = run("decon_bloom_screen").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nSh, bloom, exact, fp, flagged) =>
      assert(bloom >= exact, s"doc $id: bloom screen missed a true hit")
      assert(fp == bloom - exact && fp >= 0)
      assert(bloom <= nSh)
      assert(flagged == (bloom > 0))
    }
    // every doc with a true shared shingle must be flagged (no misses)
    assert(rows.filter(_._4 > 0).forall(_._6))
  }

  test("decon_bloom_persisted: read-back artifact answers like the in-session build") {
    val dir = new java.io.File(s"${graft.sources.Io.scratch}/decon_bloom")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val fresh = run("decon_bloom_persisted").collect().map(_.toSeq)
    // the artifact committed atomically (behind a _SUCCESS marker)...
    val committed = dir.listFiles()
    assert(committed != null && committed.nonEmpty)
    assert(new java.io.File(committed.head, "_SUCCESS").exists())
    // ...and a second run served FROM it matches both the first run and
    // the in-session screen exactly
    assert(run("decon_bloom_persisted").collect().map(_.toSeq).toSeq == fresh.toSeq)
    assert(run("decon_bloom_screen").collect().map(_.toSeq).toSeq == fresh.toSeq)
  }

  test("text_langid_eval: diagonal-dominant confusion matrix with the designed flips") {
    val cells = run("text_langid_eval").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val langs = Seq("en", "es", "fr", "und")
    // diagonal floor: >= 80% of each true lang predicts itself (the
    // contamination classes are 1/60 for es/fr and 1/20 for und by
    // construction — a classifier regression moves this)
    langs.foreach { l =>
      val row = cells.collect { case ((t, _), n) if t == l => n }.sum
      val diag = cells.getOrElse((l, l), 0L)
      assert(row > 0, s"no rows for true lang $l")
      assert(diag.toDouble / row >= 0.8, s"$l diagonal ${diag}/${row} < 0.8")
    }
    // en never confuses (it wins every tie); the flips land exactly on
    // the tie-designed cells
    assert(!cells.keys.exists { case (t, p) => t == "en" && p != "en" })
    assert(cells.contains(("es", "en")) && cells.contains(("fr", "es")) &&
      cells.contains(("und", "en")), s"designed off-diagonal cells missing: $cells")
  }

  test("text_dedup_spans_removal: keep-first, span union, sub-k docs untouched") {
    val s = spark
    import s.implicits._
    val k = 4
    // doc 0: the original. doc 1: exact copy (every token covered by a
    // duplicated k-gram -> fully removed). doc 2: shares a 5-token span
    // (= 2 overlapping 4-grams whose covers must UNION to 5 tokens, not
    // 8). doc 3: unique but shorter than k (no k-gram -> kept verbatim).
    // doc 4: an internal repeat of a 4-token run (second occurrence
    // removed, first kept).
    val corpus = Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b c d e f g h"),
      (2L, "x1 x2 c d e f g y1 y2"),
      (3L, "u v w"),
      (4L, "p q r s m1 m2 p q r s")).toDF("doc_id", "text")
    val out = TextOps.dedupSpansRemoval(corpus, "doc_id", "text", k = k)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // keep-first: doc 0 is untouched (lossless whitespace-normalized)
    assert(out(0) == ((0L, 8L, 0L, "a b c d e f g h")))
    // exact copy: fully removed
    assert(out(1) == ((1L, 8L, 8L, "")))
    // overlapping duplicated 4-grams (c d e f), (d e f g) union to the
    // 5-token span c..g; the doc-unique flanks survive
    assert(out(2) == ((2L, 9L, 5L, "x1 x2 y1 y2")))
    // shorter than k: no k-gram, kept verbatim
    assert(out(3) == ((3L, 3L, 0L, "u v w")))
    // within-doc repeat: first occurrence of (p q r s) kept, second removed
    assert(out(4) == ((4L, 10L, 4L, "p q r s m1 m2")))
  }

  test("text_dedup_spans_removal: duplicate-free corpus reassembles losslessly") {
    val s = spark
    import s.implicits._
    // every 8-gram unique corpus-wide -> nothing removed anywhere and
    // clean_text equals the whitespace-normalized original
    val corpus = Seq(
      (0L, "  t00 t01   t02 t03 t04 t05 t06 t07 t08 t09 "),
      (1L, "t10 t11 t12 t13 t14 t15 t16 t17"),
      (2L, "t20 t21")).toDF("doc_id", "text")
    val out = TextOps.dedupSpansRemoval(corpus, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect()
    out.foreach { r => assert(r.getLong(2) == 0L, s"spurious removal: $r") }
    assert(out.map(_.getString(3)).toSeq == Seq(
      (0 to 9).map(i => f"t0$i").mkString(" "),
      (0 to 7).map(i => f"t1$i").mkString(" "),
      "t20 t21"))
  }

  test("text_dedup_spans_removal: single-hot-gram flood — no gram-partitioned window, first kept") {
    val s = spark
    import s.implicits._
    // ONE 8-gram boilerplate in 50% of a 40k-doc corpus — the exact
    // case ExactSubstr exists for. The first-occurrence reduction must
    // be a map-side-combinable grouped min + join-back: a window
    // partitioned by gram would sort the hot gram's entire occurrence
    // list (20k rows here, corpus-scale in production) in ONE task.
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val corpus = (0 until 40000).map { i =>
      if (i % 2 == 0) (i.toLong, s"$boiler u${i}x u${i}y")
      else (i.toLong, (0 to 9).map(j => s"q${i}t$j").mkString(" "))
    }.toDF("doc_id", "text")
    val out = TextOps.dedupSpansRemoval(corpus, "doc_id", "text", k = 8)
    // plan shape: the only Window nodes are the per-doc interval-union
    // lag — nothing partitions by the gram column
    val p = plan(out)
    assert(!p.contains("windowspecdefinition(g#") &&
      !p.contains("windowspecdefinition(g,"),
      s"first-occurrence pass regressed to a gram-partitioned window")
    val t0 = System.nanoTime()
    val rows = out.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 120, s"hot-gram flood took ${secs}s")
    assert(rows.length == 40000)
    val byId = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // keep-first: doc 0 holds the boilerplate verbatim
    assert(byId(0L) == ((10L, 0L, s"$boiler u0x u0y")))
    // every later flooded doc loses exactly the 8 boilerplate tokens
    (2 until 40000 by 2).take(50).foreach { i =>
      assert(byId(i.toLong) == ((10L, 8L, s"u${i}x u${i}y")), s"doc $i")
    }
    // unique docs untouched
    (1 until 40000 by 2).take(50).foreach { i =>
      assert(byId(i.toLong)._2 == 0L, s"unique doc $i lost tokens")
    }
  }

  test("text_dedup_spans_removal: registered query is non-empty and consistent") {
    val rows = run("text_dedup_spans_removal").collect()
    assert(rows.length == docs.count())
    rows.foreach { r =>
      val (n, rem, clean) = (r.getLong(1), r.getLong(2), r.getString(3))
      assert(rem >= 0 && rem <= n)
      val keptTokens =
        if (clean.isEmpty) 0 else clean.split(" ", -1).length
      assert(keptTokens == n - rem,
        s"clean_text token count ${keptTokens} != n_tokens - n_removed (${n - rem}) for $r")
    }
    // the sf0.001 corpus carries exact duplicates: something must be removed
    assert(rows.map(_.getLong(2)).sum > 0, "corpus has dupes but nothing was removed")
  }
}
