package graft

import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {

  test("q1_agg groups and sums") {
    val rows = run("q1_agg").collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val flags = rows.map(_.getString(0)).distinct
    assert(flags.forall(Set("A", "N", "R")))
    assert(rows.forall(_.getLong(7) > 0)) // count_order
  }

  test("q_filter_eq only keeps the segment") {
    val rows = run("q_filter_eq").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(4) == "BUILDING"))
  }

  test("q_filter_range bounds hold") {
    val rows = run("q_filter_range").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r => val p = r.getDouble(2); p >= 10000.0 && p <= 200000.0 })
  }

  test("q_search_tags is tag AND substring") {
    val rows = run("q_search_tags").collect()
    assert(rows.forall(_.getString(2) == "Brand#13"))
    assert(rows.forall { r =>
      Seq(r.getString(1), r.getString(2), r.getString(3)).exists(_.toLowerCase.contains("pro"))
    })
  }

  test("q_orderby_page returns one page, sorted desc") {
    val rows = run("q_orderby_page").collect()
    assert(rows.length == 25)
    val prices = rows.map(_.getDouble(1))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q_group_options distinct prefix-filtered") {
    val rows = run("q_group_options").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(0).toLowerCase.startsWith("pro")))
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
  }

  test("parseSearch: quoted phrases, bare tags, residual free text") {
    import graft.operators.Relational.parseSearch
    // the reference regex: (\w+):("[^"]+"|\S+) — quotes stripped,
    // keys and values lowercased, matched text removed from the residue
    assert(parseSearch("""Name:"Two Words" other:plain  free text""") ==
      (Map("name" -> "two words", "other" -> "plain"), "free text"))
    assert(parseSearch("no tags at all") == (Map.empty[String, String], "no tags at all"))
    assert(parseSearch("""k:"a b"""") == (Map("k" -> "a b"), ""))
  }

  test("q_search_tags_quoted: quoted tag exact-matches, free text filters") {
    val rows = run("q_search_tags_quoted").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(1).toLowerCase == "small ring")
      assert(Seq(1, 2, 3).exists(i => r.getString(i).toLowerCase.contains("brand#1")))
    }
  }

  test("q_join_links keeps every order and is a broadcast join") {
    val df = run("q_join_links")
    val nOrders = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(df.count() == nOrders)
    assert(plan(df).contains("BroadcastHashJoin"))
  }

  test("q_join_multi broadcasts dims and aggregates") {
    val df = run("q_join_multi")
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(plan(df).contains("BroadcastHashJoin"))
  }

  test("q_topk_group caps k per group") {
    val rows = run("q_topk_group").collect()
    val byGroup = rows.groupBy(_.getString(0))
    assert(byGroup.forall(_._2.length <= 3))
    assert(rows.forall(_.getLong(3) <= 3))
  }

  test("q_distinct is small and unique") {
    val rows = run("q_distinct").collect()
    assert(rows.length == rows.distinct.length && rows.nonEmpty)
  }

  test("q_agg_stats sane") {
    val rows = run("q_agg_stats").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(3) <= r.getDouble(4))) // min<=max
  }

  test("q_groupby_having enforces threshold") {
    val rows = run("q_groupby_having").collect()
    assert(rows.forall(_.getLong(1) >= 3))
  }

  test("filter pushdown reaches the parquet scan") {
    val df = run("q_filter_eq")
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("c_mktsegment"))
  }

  test("q_agg_rollup: subtotals and grand total are consistent, one Expand agg") {
    val rows = run("q_agg_rollup").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val leaf = rows.filter { case ((s, p), _) => s != "ALL" && p != "ALL" }
    val sub = rows.filter { case ((s, p), _) => s != "ALL" && p == "ALL" }
    val grand = rows(("ALL", "ALL"))
    assert(leaf.nonEmpty && sub.nonEmpty)
    assert(leaf.values.sum == grand)
    for (((s, _), n) <- sub)
      assert(leaf.collect { case ((`s`, _), c) => c }.sum == n)
    // one Expand feeding one aggregation — not a re-scan per level
    val p = plan(run("q_agg_rollup"))
    assert("Expand".r.findAllIn(p).size >= 1)
    assert(!p.contains("Union"))
    // a genuine NULL group value must not collapse into the subtotal rows
    // (grouping() discriminates; literal "ALL" in the data remains a
    // documented domain contract of the sentinel)
    val s = spark
    import s.implicits._
    import graft.operators.Relational.rollupAgg
    val withNull = Seq((null.asInstanceOf[String], "x", 1.0), ("q", "x", 2.0))
      .toDF("g1", "g2", "m")
    val keys = rollupAgg(withNull, "g1", "g2", "m").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(keys.contains(("(null)", "x", 1L)))   // data NULL, not a subtotal
    assert(keys.contains(("(null)", "ALL", 1L))) // its own subtotal row
    assert(keys.contains(("ALL", "ALL", 2L)))    // grand total over both rows
  }

  test("q_window_running: running totals accumulate, moving window bounded") {
    val rows = run("q_window_running").collect()
    assert(rows.nonEmpty)
    // within a customer, running_n counts up 1..k and running_total is
    // non-decreasing for positive prices
    rows.groupBy(_.getLong(1)).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getLong(3)) // running_n is the partition position
      assert(sorted.map(_.getLong(3)).toSeq == (1L to sorted.size).toSeq)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a.getDouble(2) <= b.getDouble(2); case _ => true
      })
    }
    // all frames share one partition spec: a single Exchange+Sort pass
    val p = plan(run("q_window_running"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_percentile_group: pinned discrete ranks on a known distribution") {
    val s = spark
    import s.implicits._
    import graft.operators.Relational.percentileGroup
    // group g: values 1..20 -> p50 = ceil(0.5*20)=rank 10 -> 10.0;
    // p95 = ceil(0.95*20)=rank 19 -> 19.0
    val df = (1 to 20).map(i => ("g", i.toDouble, i.toLong)).toDF("g", "v", "id")
    val r = percentileGroup(df, "g", "v", "id", Seq("p50" -> 0.5, "p95" -> 0.95))
      .collect().head
    assert(r.getLong(1) == 20L && r.getDouble(2) == 10.0 && r.getDouble(3) == 19.0)
    val rows = run("q_percentile_group").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) <= r.getDouble(3))) // p50 <= p95
  }

  test("q_join_anti is a real anti join and complements the semi join") {
    val anti = run("q_join_anti").collect().map(_.getLong(0)).toSet
    val all = Tables.customer(spark, sfDir).select("c_custkey")
      .collect().map(_.getLong(0)).toSet
    import graft.operators.Relational.semiJoin
    val semi = semiJoin(Tables.customer(spark, sfDir),
      Tables.orders(spark, sfDir).filter(col("o_orderpriority") === "1-URGENT"),
      "c_custkey", "o_custkey").collect().map(_.getLong(0)).toSet
    assert((anti intersect semi).isEmpty && (anti union semi) == all)
    val p = plan(run("q_join_anti"))
    assert(p.contains("LeftAnti"), p)
  }

  test("q_not_in_subquery: three-valued NOT IN drops NULL probes, plans NAAJ") {
    val s = spark
    import s.implicits._
    Seq((1L, java.lang.Long.valueOf(10L)), (2L, java.lang.Long.valueOf(20L)),
      (3L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "k").createOrReplaceTempView("nin_probe")
    Seq(Tuple1(10L)).toDF("k2").createOrReplaceTempView("nin_list")
    // non-empty list: k=20 survives, k=10 matches out, NULL k is UNKNOWN
    val got = s.sql(
      "SELECT id FROM nin_probe WHERE k NOT IN (SELECT k2 FROM nin_list)")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L))
    // the benchmark query must take Catalyst's null-aware anti join path
    // (the NAAJ flag prints as the bare trailing boolean in Spark 4)
    val p = plan(run("q_not_in_subquery"))
    assert(p.contains("LeftAnti, BuildRight, true"), p)
    assert(run("q_not_in_subquery").collect().nonEmpty)
  }

  test("q_join_bloom: sketch pre-filter never loses rows and really prunes") {
    val dim = Tables.customer(spark, sfDir).filter(col("c_nationkey") === 3)
      .select("c_custkey", "c_name")
    val fact = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    // exactness: identical rows to the plain join (false positives are
    // filtered by the join; false negatives must be impossible)
    val bloomed = run("q_join_bloom").collect().map(_.toString).sorted
    val plain = fact.join(dim, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_custkey", "o_totalprice", "c_name")
      .collect().map(_.toString).sorted
    assert(bloomed.sameElements(plain))
    // pruning: the sketch filter alone keeps far fewer fact rows than the
    // table (nation 3 holds ~4% of customers; fp rate at 16k bits ~1e-3),
    // while keeping every genuinely matching row (no false negatives)
    import graft.operators.Relational.{bloomOf, bloomMightContain}
    val words = bloomOf(dim, "c_custkey", 1 << 14, 4)
    val kept = fact.filter(bloomMightContain(col("o_custkey"), words, 4)).count()
    val dimKeys = dim.collect().map(_.getLong(0)).toSet
    val matching = fact.collect().count(r => dimKeys(r.getLong(1)))
    val total = fact.count()
    assert(kept >= matching, s"bloom lost rows: kept=$kept matching=$matching")
    assert(kept < total / 4, s"bloom failed to prune: kept=$kept of $total")
  }

  test("q_pivot: per-row counts sum to the group size, no discovery job") {
    val s = spark
    import s.implicits._
    val byDay = run("q_pivot").collect()
    assert(byDay.nonEmpty)
    // events carry exactly the five declared types, so the wide counts sum
    // back to the raw per-day count
    val raw = Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("day")).count()
      .as[(java.sql.Timestamp, Long)].collect().toMap
    byDay.foreach { r =>
      val total = (1 to 5).map(r.getLong).sum
      assert(total == raw(r.getTimestamp(0)))
    }
  }

  test("q_agg_cube: margins agree with the cells and contain the rollup") {
    val cube = run("q_agg_cube").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val cells = cube.filter { case ((a, b), _) => a != "ALL" && b != "ALL" }
    assert(cells.nonEmpty)
    // grand total = sum of cells; each one-dim margin = sum of its row/col
    assert(cube(("ALL", "ALL"))._1 == cells.values.map(_._1).sum)
    cube.keys.collect { case (a, "ALL") if a != "ALL" => a }.foreach { a =>
      assert(cube((a, "ALL"))._1 ==
        cells.collect { case ((`a`, _), (n, _)) => n }.sum)
    }
    cube.keys.collect { case ("ALL", b) if b != "ALL" => b }.foreach { b =>
      assert(cube(("ALL", b))._1 ==
        cells.collect { case ((_, `b`), (n, _)) => n }.sum)
    }
    // CUBE ⊇ ROLLUP: every rollup row appears with identical values
    run("q_agg_rollup").collect().foreach { r =>
      assert(cube((r.getString(0), r.getString(1))) == ((r.getLong(2), r.getDouble(3))))
    }
  }

  test("q_window_ntile: equal-frequency bands, ordered and tight") {
    val rows = run("q_window_ntile").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    rows.groupBy(_._1).foreach { case (_, bands) =>
      val sorted = bands.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      // NTILE: band sizes differ by at most one, larger bands first
      val sizes = sorted.map(_._3)
      assert(sizes.max - sizes.min <= 1)
      assert(sizes.sorted.reverse.toSeq == sizes.toSeq)
      // value ranges are ordered and non-overlapping across bands
      sorted.foreach { case (_, _, _, lo, hi) => assert(lo <= hi) }
      sorted.toSeq.sliding(2).foreach {
        case Seq((_, _, _, _, hi1), (_, _, _, lo2, _)) => assert(hi1 <= lo2)
        case _ =>
      }
    }
  }

  test("GroupIndex.merge: incremental delta == full rebuild") {
    import graft.plans.GroupIndex
    val part = Tables.part(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("gidx_merge")
    val idx = s"$root/gidx_merge_test"
    // build from half the table, merge the other half as a delta batch
    GroupIndex.build(part.filter(col("p_partkey") % 2 === 0), "p_type", idx)
    GroupIndex.merge(part.filter(col("p_partkey") % 2 === 1), "p_type", idx)
    val merged = GroupIndex.options(spark, idx, "p_type", "", 10000)
      .collect().map(_.getString(0)).toSeq
    val full = s"$root/gidx_merge_full"
    GroupIndex.build(part, "p_type", full)
    val rebuilt = GroupIndex.options(spark, full, "p_type", "", 10000)
      .collect().map(_.getString(0)).toSeq
    assert(merged == rebuilt && merged.nonEmpty)
    // idempotent: re-merging the same delta changes nothing
    GroupIndex.merge(part.filter(col("p_partkey") % 2 === 1), "p_type", idx)
    val again = GroupIndex.options(spark, idx, "p_type", "", 10000)
      .collect().map(_.getString(0)).toSeq
    assert(again == rebuilt)
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  test("q_above_custavg == brute-force per-customer threshold") {
    val got = run("q_above_custavg").collect().map(_.getLong(0)).toSet
    val all = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getLong(1), BigDecimal(r.getDouble(2))))
    val byCust = all.groupBy(_._2)
    val want = all.filter { case (_, c, p) =>
      val g = byCust(c)
      p * g.length * 2 > g.map(_._3).sum * 3
    }.map(_._1).toSet
    assert(got == want && got.nonEmpty && got.size < all.length)
  }

  test("q_join_full_outer: one-sided days survive with zero counts") {
    val rows = run("q_join_full_outer").collect()
      .map(r => r.getTimestamp(0).getTime -> ((r.getLong(1), r.getLong(2)))).toMap
    val ev = Tables.events(spark, sfDir)
      .select(date_trunc("day", col("ts")).as("day"), col("event_type")).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)))
    def daily(t: String) = ev.filter(_._2 == t).groupBy(_._1)
      .map { case (d, v) => d -> v.size.toLong }
    val (clicks, purchases) = (daily("click"), daily("purchase"))
    assert(rows.keySet == clicks.keySet ++ purchases.keySet)
    rows.foreach { case (d, (nc, np)) =>
      assert(nc == clicks.getOrElse(d, 0L) && np == purchases.getOrElse(d, 0L))
    }
  }

  test("q_tpch_pricing: top-10 unshipped revenue, no global sort") {
    val df = run("q_tpch_pricing")
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 10)
    val revs = rows.map(_.getDouble(1))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
    // instant compare, not Timestamp.valueOf: the latter parses in the
    // JVM default TZ while collected values are UTC instants
    val cutoff = java.time.Instant.parse("1995-03-15T00:00:00Z")
    assert(rows.forall(_.getTimestamp(2).toInstant.isBefore(cutoff)))
    // the final top-10 must be a per-partition heap, not a range sort
    assert(plan(df).contains("TakeOrderedAndProject"))
  }

  test("q_unpivot: melt inverts the pivot, zero cells explicit, Expand not join") {
    val long = run("q_unpivot").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val days = long.keys.map(_._1).toSet
    val types = Seq("click", "view", "purchase", "error", "signup")
    // complete grid: every (day, declared type) cell exists
    assert(long.size == days.size * types.size)
    // counts agree with the raw aggregation; absent combos are explicit 0s
    val direct = Tables.events(spark, sfDir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type")).count()
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    long.foreach { case (k, n) => assert(n == direct.getOrElse(k, 0L)) }
    // the melt is an Expand projection — no join against a names table
    assert(plan(run("q_unpivot")).contains("Expand"))
  }

  test("q_grouping_sets: declared margins only (no grand total), one Expand agg") {
    val rows = run("q_grouping_sets").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val leaf = rows.filter { case ((s, p), _) => s != "ALL" && p != "ALL" }
    val m1 = rows.filter { case ((s, p), _) => s != "ALL" && p == "ALL" }
    val m2 = rows.filter { case ((s, p), _) => s == "ALL" && p != "ALL" }
    assert(leaf.nonEmpty && m1.nonEmpty && m2.nonEmpty)
    // the grand total set was NOT declared, so it must not appear
    assert(!rows.contains(("ALL", "ALL")))
    // each declared margin reconciles with its cells
    for (((s, _), n) <- m1)
      assert(leaf.collect { case ((`s`, _), c) => c }.sum == n)
    for (((_, p), n) <- m2)
      assert(leaf.collect { case ((_, `p`), c) => c }.sum == n)
    // still ONE Expand + agg pass, not a union of re-aggregations
    val p = plan(run("q_grouping_sets"))
    assert("Expand".r.findAllIn(p).size >= 1 && !p.contains("Union"))
  }

  test("q_set_ops == brute-force set algebra, planned as semi/anti joins") {
    val li = Tables.lineitem(spark, sfDir)
    def keys(pred: org.apache.spark.sql.Column) =
      li.filter(pred).select("l_partkey").collect().map(_.getLong(0)).toSet
    val expect = (keys(col("l_returnflag") === "R") &
      keys(col("l_returnflag") === "A")) --
      keys(col("l_quantity") >= 48)
    val df = run("q_set_ops")
    val got = df.collect().map(_.getLong(0))
    assert(got.toSet == expect && got.length == expect.size) // distinct semantics
    assert(got.sorted.sameElements(got))
    // Catalyst rewrites INTERSECT/EXCEPT to key-only semi/anti joins —
    // no payload columns ever shuffle
    val p = plan(df)
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"))
  }

  test("pageRank: exact integer ranks match a hand-computed path graph") {
    val s = spark
    import s.implicits._
    import graft.operators.Graph
    // undirected path 1—2—3, symmetrized; S = 1e12, N = 3:
    // r0 = 333333333333 each; deg 1,2,1; base = 15S/300 = 50000000000;
    // c(1)=c(3)=r0·85 div 100 = 283333333333, c(2)=r0·85 div 200 =
    // 141666666666 → r1 = (191666666666, 616666666666, 191666666666)
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val r1 = Graph.pageRank(e, "src", "dst", iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L -> 191666666666L, 2L -> 616666666666L,
      3L -> 191666666666L), s"got $r1")
    // after more rounds: the hub keeps the top rank, everything stays
    // positive, and total mass stays within the per-edge floor loss
    val r3 = Graph.pageRank(e, "src", "dst", iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3(2L) > r3(1L) && r3(1L) == r3(3L) && r3.values.forall(_ > 0))
    assert(math.abs(r3.values.sum - 1000000000000L) < 100L,
      s"mass drifted: ${r3.values.sum}")
  }

  test("stat_corr/stat_regr agree with Spark's own moment aggregates") {
    // the exact-sum formulation must compute the SAME statistic Spark's
    // streaming-moment corr/regr aggregates estimate — equal to ~1e-9,
    // where the built-ins' partial-merge order starts to perturb bits
    val got = graft.SparkEntry.queries("stat_corr")(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val ref = Tables.lineitem(spark, sfDir)
      .groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        expr("regr_slope(l_extendedprice, l_quantity)").as("sl"),
        expr("regr_intercept(l_extendedprice, l_quantity)").as("ic"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val regr = graft.SparkEntry.queries("stat_regr")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    for ((k, (c, sl, ic)) <- ref) {
      assert(math.abs(got(k) - c) < 1e-6, s"corr($k): ${got(k)} vs $c")
      val (s2, i2, r2) = regr(k)
      assert(math.abs(s2 - sl) < 1e-6, s"slope($k): $s2 vs $sl")
      assert(math.abs(i2 - ic) < 1e-4, s"intercept($k): $i2 vs $ic")
      assert(math.abs(r2 - c * c) < 1e-6, s"r2($k): $r2 vs ${c * c}")
    }
  }
}
