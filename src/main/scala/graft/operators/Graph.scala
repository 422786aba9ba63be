package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Grain.{Answer, Corpus}
import graft.{Fixpoint, Query}
import graft.Tables

/** Graph analytics over relational link structure. Connected components
  * already live in the dedup family ([[Dedup.connectedComponents]] —
  * min-label propagation with the alternating-star fallback); this adds
  * rank propagation.
  *
  * Reference tie: the reference's data model is an entity graph
  * (ProtoModel relations; protolib/src/bundles/flow wires object
  * references), and link-analysis over entity graphs (importance
  * ranking, influence propagation) is the standard analytics ask a
  * relational engine can't express in one query. Spark-first shape:
  * bounded-iteration joins + aggregations — the PREGEL recipe without
  * the framework.
  */
object Graph {

  /** Broadcast-hint gate for the node-grain sides of both graph
    * operators: above this many broadcast-resident longs (64 M ≈
    * 0.5–1 GB with array/row overhead — the practical executor
    * broadcast ceiling), the hints are DROPPED and the planner falls
    * back to shuffle joins instead of failing outright on an
    * over-limit broadcast build. Both call sites already know the
    * relevant cardinality from a checkpointed table, so the gate
    * costs at most one count over local checkpoint blocks. The
    * durable 100 TB analog past the gate is the bucketed-table shape
    * documented at each call site.
    */
  private[operators] val broadcastLongLimit = 64L << 20

  private def hintIf(small: Boolean)(df: DataFrame): DataFrame =
    if (small) broadcast(df) else df

  /** PageRank with EXACT integer arithmetic: ranks live at a fixed
    * scale (default 1e12) and every division floors, so the result is
    * bit-identical across engines and partitionings — no float
    * summation-order drift — while agreeing with float PageRank to
    * ~12 significant digits. Per iteration: one join of the edge list
    * against the current ranks (AQE-sized; the rank side is
    * node-grain, typically broadcastable against a fact-grain edge
    * list) and one hash agg on dst — the Pregel step as plain
    * DataFrame ops. `iters` is bounded metadata, so the lineage stays
    * a k-deep chain; an unbounded fixpoint would checkpoint per round
    * like the components loop.
    *
    * Nodes are DEFINED by edge endpoints (the usual link-graph
    * contract); pass a symmetrized edge list for undirected semantics
    * — then no node dangles and the 0.85 mass conserves exactly up to
    * the per-edge floor.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, scale: Long = 1000000000000L): DataFrame = {
    // The edge list is CHECKPOINTED once. r9's lazy version recomputed
    // the upstream join+distinct per round because caching + the then-
    // current per-round sort-merge join + repartition aggs starved an
    // 8g heap at sf10 (UNABLE_TO_ACQUIRE_MEMORY); the r10 rounds
    // broadcast the node-grain side instead, so the edge blocks no
    // longer compete with per-round sort buffers and the checkpoint
    // wins (sf0.1: 2.6 s vs 3.2 s lazy; sf1 11.4 s — 4.4× at 10×
    // data). On a real cluster the durable analog is a bucketed edge
    // TABLE (write once, zero-exchange reads per iteration).
    val e = graft.CacheScope.checkpoint(
      edges.select(col(srcCol).cast("bigint").as("src"),
        col(dstCol).cast("bigint").as("dst")))
    // deg is NODE-grain (|nodes| rows of two longs) — checkpoint it once
    // so the per-round weight join never re-scans the fact-grain edge
    // list to recount degrees, and derive nodes/N from it (symmetrized
    // edges put every node in the src column) instead of paying a
    // separate distinct scan.
    val deg = graft.CacheScope.checkpoint(e.groupBy("src").agg(count(lit(1)).as("d")))
    // N is ONE driver-side long (the formula constant), not a collect
    val n = deg.count()
    require(n > 0, "pageRank over an empty edge list")
    val base = scale * 15 / (100 * n)
    var r = deg.select(col("src").as("node")).withColumn("r", lit(scale / n))
    (1 to iters).foreach { _ =>
      // per-src weight at NODE grain first (one narrow broadcast join),
      // then the fact-grain edge join with the node-grain weight table
      // BROADCAST — the edge list is never exchanged, and the dst agg
      // partial-aggregates map-side before its one (node-grain) shuffle.
      // At a node count past driver memory the broadcast hint would be
      // replaced by a bucketed edge TABLE co-partitioned with the rank
      // table (the durable analog already described above); |nodes| ≪
      // |edges| by the fan-out of any real link graph, so broadcast is
      // the right default shape.
      val bc = hintIf(n <= broadcastLongLimit) _
      val w = r.join(bc(deg), col("node") === col("src"))
        .select(col("src"), expr("(r * 85) div (100 * d)").as("c"))
      r = e.join(bc(w), "src")
        .select(col("dst"), col("c"))
        .groupBy(col("dst").as("node"))
        .agg((sum(col("c")) + base).as("r"))
        .select(col("node"), col("r"))
    }
    r.withColumnRenamed("r", "rank")
  }

  /** Exact triangle counting with DEGREE ORIENTATION — the standard
    * skew bound. Input: canonical undirected edges (a < b, distinct).
    *
    * Naive wedge enumeration pays Σ deg(v)² — a power-law heavy hitter
    * (the supplier in every order) alone generates a quadratic wedge
    * set. Orienting every edge from the (degree, id)-SMALLER endpoint
    * to the larger makes the graph a DAG whose out-degrees are capped
    * at O(√(2m)) (a node with out-degree k has k neighbors of degree
    * ≥ its own, so k² ≤ 2m): wedges become Σ outdeg(v)² = O(m^1.5)
    * WORST-case, independent of skew — the heavy hitter RECEIVES its
    * edges and emits no wedge pairs. Each triangle then appears exactly
    * once, as (u → lo, u → hi) closed by the oriented edge lo → hi.
    *
    * Shape: two node-grain joins to attach degrees (broadcastable —
    * node grain vs edge grain), one edge×edge self-join on src (the
    * bounded wedge set), one semi-shaped equi-join against the edge
    * list to close, then a node-grain agg. No iteration, no driver
    * state. Output: every node with its degree and triangle count.
    */
  def triangleCounts(edges: DataFrame,
                     mapAggMaxNodes: Long = broadcastLongLimit / 8): DataFrame = {
    // The canonical edge list is typically the output of an expensive
    // upstream projection (coSupplyEdges: a distinct'd self-join over
    // lineitem) and is referenced by deg + the orientation + the final
    // join — checkpoint it ONCE. It is edge-grain and two-long narrow
    // (~16 B/row), so the blocks are tiny relative to the wedge work.
    val e = graft.CacheScope.checkpoint(
      edges.select(col("a").cast("bigint").as("a"),
        col("b").cast("bigint").as("b")))
    // deg is NODE-grain (two longs/row) and referenced FOUR times (both
    // degree-attach joins, the map-agg gate count, the final join) —
    // lazy, each reference re-ran the union + hash agg over the edge
    // blocks; checkpoint once (r15)
    val deg = graft.CacheScope.checkpoint(
      e.select(col("a").as("node"))
        .unionByName(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree")))
    // attach both endpoint degrees, then orient by (degree, id).
    // deg is NODE-grain (two longs/row) while e is EDGE-grain: under the
    // family's byte-modeled gate, broadcasting deg removes BOTH
    // edge-grain exchanges of e (and both node-grain exchanges of deg)
    // from the orientation — the edges flow scan→orient with no shuffle
    // at all (r16; guide §3.1). The count is one agg over the deg
    // checkpoint blocks and is reused by the map-agg gate below. Past
    // the gate the unhinted joins keep the durable shuffle shape.
    val degCount = deg.count()
    val bcDeg = hintIf(degCount * 2 <= broadcastLongLimit) _
    val withDeg = e
      .join(bcDeg(deg.select(col("node").as("a"), col("degree").as("da"))), "a")
      .join(bcDeg(deg.select(col("node").as("b"), col("degree").as("db"))), "b")
    // `oriented` is the (degree, id)-DAG: every edge points from the
    // smaller endpoint to the larger under the total order, so each
    // triangle is the unique acyclic tournament a→b, a→c, b→c.
    // Checkpointed: edge-grain, two longs (~16 B/row) — the r9 lazy
    // version recomputed these node-grain joins per consumer (75 s
    // median, 24—142 s pass variance at sf0.1).
    val oriented = graft.CacheScope.checkpoint(withDeg.select(
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst")))
      .otherwise(
        struct(col("b").as("src"), col("a").as("dst")))
      .as("o")).select(col("o.src"), col("o.dst")))
    // COMPACT-FORWARD closing: each triangle is found exactly once, on
    // its a→b edge, as c ∈ N⁺(a) ∩ N⁺(b) (b→c can't yield it — a ∉
    // N⁺(b); a→c can't — b ∉ N⁺(c)). The r9→r10.0 wedge SELF-JOIN
    // materialized Σ outdeg² wedge ROWS (205 M at sf0.1) through join
    // machinery and then exploded 3 corners per triangle (373 M more);
    // here the whole wedge set collapses into one codegen'd
    // array_intersect per EDGE (453 k rows at sf0.1), and corner
    // attribution is a single explode of |triangles| + 2·|E| struct
    // rows. Out-degrees are orientation-capped at O(√(2m)), so each
    // adjacency array — and each per-edge intersect — is skew-bounded.
    val adj = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    // adj totals |E| longs (MBs while edges fit an executor — true for
    // any node-grain² projection like co-supply). Broadcast beats
    // exchanging the edge list twice; past the GATE (|E| >
    // broadcastLongLimit, one count over the checkpoint) the hints
    // drop and this degrades to two edge-grain shuffle joins instead
    // of failing on an over-limit broadcast build — still the right
    // 100 TB shape. Inner joins: src always has out-edges (its own),
    // and a sink dst means an empty intersection = zero contribution,
    // so dropped rows are exactly the zero rows.
    val bc = hintIf(e.count() <= broadcastLongLimit) _
    // native merge intersect: both adjacency arrays are sort_array'd and
    // duplicate-free (distinct canonical edges), so the per-edge closing
    // is a single allocation-free merge pass instead of array_intersect's
    // per-row hash set — measured 2-3× on the intersect half at sf0.1
    val withT = oriented
      .join(bc(adj.select(col("src"), col("nbrs").as("na"))), Seq("src"))
      .join(bc(adj.select(col("src").as("dst"), col("nbrs").as("nb"))), Seq("dst"))
      .select(col("src"), col("dst"),
        graft.functions.GraftFunctions.sortedIntersect(col("na"), col("nb")).as("i"))
    // one pass: a and b each earn |I| triangles, every c ∈ I earns 1.
    // TWO shapes behind a node-count gate:
    //  - map-agg (default): TriangleContribs accumulates every
    //    contribution inside the aggregate's update loop — one buffer
    //    per partition instead of one Spark row per triangle (the r10
    //    explode shape pushed 124 M struct rows through explode + hash
    //    agg at sf0.1, half the query's cost). Per-task memory is the
    //    same node-grain map the hash agg kept; only the FINAL merged
    //    map is node-grain in one task, hence the gate.
    //  - explode (past the gate): the r10 shape, where the node-grain
    //    result must stay distributed end to end.
    val perNode =
      if (degCount <= mapAggMaxNodes)
        withT.agg(graft.functions.GraftFunctions.triangleContribs(
            col("src"), col("dst"), col("i")).as("m"))
          .select(explode(col("m")))
          .toDF("node", "triangles")
      else
        withT.select(explode(concat(
            array(struct(col("src").as("node"), size(col("i")).cast("long").as("w")),
                  struct(col("dst").as("node"), size(col("i")).cast("long").as("w"))),
            transform(col("i"), c => struct(c.as("node"), lit(1L).as("w"))))).as("x"))
          .groupBy(col("x.node").as("node"))
          .agg(sum(col("x.w")).as("triangles"))
    // perNode is at most node-grain — same gate as deg: broadcasting it
    // makes the final attach exchange-free too (left-outer build-right)
    deg.join(bcDeg(perNode), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Supplier co-occurrence edges: two suppliers are linked when they
    * ship lineitems of the SAME order — the co-supply projection of the
    * order↔supplier bipartite graph (the trade graph itself is
    * bipartite and triangle-free). Canonical a < b, distinct; the
    * projection is sparse because order groups are small (a handful of
    * lineitems each), so the pair fan-out is a bounded per-order
    * combination, not a cross join.
    *
    * r16 NEGATIVE RESULT (kept for the record): a per-order
    * `collect_set` + i<j combination-explode shape (one exchange fewer,
    * no join machinery) was measured SLOWER at sf0.1 — bench median
    * 4.76 s vs 3.3-3.4 s back-to-back for graph_triangles; the
    * ObjectHashAggregate set-building (sort-fallback past 128 groups)
    * plus the nested transform/flatten/explode codegen costs more than
    * the exchange it saves. The join shape stays. */
  def coSupplyEdges(s: SparkSession, d: String): DataFrame = {
    val sl = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("sk"))
      .distinct()
    sl.as("x").join(sl.as("y"),
        col("x.o") === col("y.o") && col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("a"), col("y.sk").as("b"))
      .distinct()
  }

  /** The customer↔supplier trade graph: who transacted with whom, one
    * (distinct) edge per trading pair, symmetrized. Even node ids =
    * customers (custkey·2), odd = suppliers (suppkey·2+1).
    *
    * The canonical pair list is CHECKPOINTED before the symmetrize
    * union (r15): Spark does not share common subexpressions across
    * union branches, so the lazy shape executed the fact-grain
    * orders⋈lineitem + distinct TWICE — once per direction — in every
    * consumer (graph_degree_dist, and graph_pagerank's edge checkpoint
    * job). Same blocks, two lazy views — the graph_bfs shape. */
  def tradeGraph(s: SparkSession, d: String): DataFrame = {
    val pairs = graft.CacheScope.checkpoint(tradePairs(s, d))
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
  }

  /** The trade graph at CANONICAL grain: one row per undirected edge
    * (a = customer node, b = supplier node — the bipartite sides, so
    * the pair is already an unordered-edge key). Undirected-edge
    * consumers (k-core) take this directly: symmetrizing and then
    * keeping one direction (`tradeGraph.filter(src < dst)`) would
    * materialize 2× the rows into the iteration checkpoint only to
    * throw half away — at sf10 that is 117M rows checkpointed vs 59M
    * (the pair distinct barely compresses this data: ~59M distinct
    * pairs out of 60M lineitems — the edge list IS fact-grain). */
  def tradePairs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()

  /** The SAME-NATION restriction of the trade graph, canonical one-
    * direction (a = customer node, b = supplier node): an edge only
    * where customer and supplier share a nation. Unlike the full trade
    * graph (one giant component — every hub supplier glues the whole
    * bipartite graph together, measured diameter ≤ 4 at sf0.1), the
    * nation predicate makes the component structure REAL: nations never
    * link, so the graph fragments into per-nation regional trade
    * networks (25 at sf0.01+) and min-label propagation has to earn its
    * answer inside each fragment.
    *
    * Plan shape: the DISTINCT collapses the fact-grain order×lineitem
    * stream to PAIR grain BEFORE the nation dims join — the nation
    * predicate reads only (custkey, suppkey), so dedup-first is
    * semantics-preserving and the dim joins touch |pairs| rows (~1% of
    * the fact stream), not |lineitem|. The first cut joined dims at
    * fact grain; the sf10 probe (BASELINE.md) measured the dim joins
    * at fact grain dominating the 290 s+ derivation. */
  def nationTradeEdges(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey"))
      .distinct()
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))

  private def nodeType(c: Column): Column =
    when(c % 2 === 0, lit("customer")).otherwise(lit("supplier"))

  /** Single-source BFS hop distances, bounded at `maxHops` — the
    * reachability/traversal primitive (impact radius of one entity
    * across the relation graph). FRONTIER-style Pregel expansion: only
    * the nodes first reached LAST round send messages (the BFS
    * invariant — a node's first reach is its final hop count — makes
    * re-sending from settled nodes pure waste), so every frontier row
    * carries the same hop and the per-round agg is a plain distinct on
    * the frontier's out-neighbors, anti-joined against the settled
    * set. One checkpoint per round (the settled table; the frontier is
    * a FILTER over the same blocks — hops = this round — so it costs
    * no extra job), with the fresh-node count riding the checkpoint
    * job via observe(): an empty frontier exits early, the bounded
    * variant of components' changed==0 fixpoint test. Node-grain
    * sides broadcast below the gate, so the fact-grain edge list is
    * never exchanged. The first cut kept the WHOLE distance table as
    * the message source and re-min-agged it every round; an sf10
    * probe measured frontier messaging equal-or-better per round,
    * with the tail rounds collapsing to ~0.4 s once
    * the shell is exhausted (diameter 4 < maxHops 6 on this graph).
    *
    * `maxHops` is bounded metadata (the oracle unrolls the same bound),
    * so unreached nodes are absent rather than ∞ — the output is the
    * ≤ maxHops reachability shell, exactly what "blast radius" asks.
    *
    * `edges` is NOT materialized here: it is scanned once per round
    * (plus one count+min pass), so an expensive derivation must arrive
    * checkpointed — or as a cheap view over checkpointed blocks, the
    * shape graph_bfs uses (a lazy symmetrize union over the canonical
    * pair checkpoint: materializing the symmetrized list doubles the
    * block bytes for zero information — the sf10 smoke priced that
    * double at ~50 s of the 209 s query).
    */
  def bfsLayers(edges: DataFrame, srcCol: String, dstCol: String,
                maxHops: Int): DataFrame = {
    val e = edges.select(col(srcCol).cast("bigint").as("src"),
      col(dstCol).cast("bigint").as("dst"))
    // one pass for the size gate and the deterministic seed (minimum
    // node id — the oracle replays the same scalar subquery)
    val head = e.agg(count(lit(1)).as("n"), min(col("src")).as("mn")).head()
    val eCnt = head.getLong(0)
    require(eCnt > 0, "bfsLayers over an empty edge list")
    val bc = hintIf(eCnt <= broadcastLongLimit) _
    val seed = head.getLong(1)
    Fixpoint.iterate("bfsLayers",
      e.sparkSession.range(0, 1).select(lit(seed).as("node"), lit(0L).as("hops")),
      maxHops) { (settled, round, _) =>
      val hop = round.toLong
      // every frontier node sits at hop-1, so the message hop is a
      // literal and dedup within the round is a distinct, not a min-agg.
      // Round 1's frontier is the whole seed: unfiltered, its broadcast
      // is reused by the settled side's (one job fewer per query)
      val frontier = if (hop == 1) settled else settled.filter(col("hops") === hop - 1)
      val msgs = e.join(bc(frontier.select(col("node").as("_fr"))),
          e("src") === col("_fr"))
        .select(col("dst").as("node")).distinct()
        .join(bc(settled.select(col("node").as("_kn"))),
          col("node") === col("_kn"), "leftanti")
        .select(col("node"), lit(hop).as("hops"))
      (settled.unionByName(msgs),
        Seq(count(when(col("hops") === hop, lit(1))).as("fresh")))
    } { (_, m) => m("fresh") == 0L }.state
  }

  /** Exact k-core: iteratively peel nodes of degree < k until the edge
    * set is stable — the standard dense-subgraph extraction (who stays
    * engaged when fair-weather participants are removed). Each round is
    * one degree agg (map-side partial) + two semi-joins of the
    * (shrinking, checkpointed) edge list against the node-grain
    * survivor set — broadcast below the gate, so the edge list is never
    * exchanged; the convergence count rides the checkpoint job via
    * observe(), no extra pass. The edge set only shrinks, so per-round
    * cost is monotonically non-increasing; dense graphs converge in a
    * couple of peels (measured: 2 rounds at sf0.001–0.1). Throws past
    * `maxRounds` — an honest failure beats a silently-partial core.
    * Returns surviving nodes with their IN-CORE degree (≥ k by
    * definition); an empty result is a legitimate answer (no k-core).
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int = 40): DataFrame = {
    // DISK_ONLY checkpoints: the peel holds TWO edge-list generations
    // live at once (current + next-under-construction) while running a
    // node-grain hash agg and two join builds — at sf10/8g the
    // MEMORY_AND_DISK default crowded the protected storage pool until
    // the degree agg died with AGGREGATE_OUT_OF_MEMORY (local[32]
    // smoke; pagerank hit the same class in its cached-edge variants).
    // Scanning the blocks from local disk costs one sequential read
    // per round; the iteration's memory then belongs to the agg + joins.
    // Each state's edge count `n` rides its checkpoint job (the seed's
    // too): the next round's broadcast gate reads it, and an unchanged
    // count is the fixpoint.
    val e = Fixpoint.iterate("kCore",
      edges.select(col(aCol).cast("bigint").as("a"), col(bCol).cast("bigint").as("b")),
      maxRounds, org.apache.spark.storage.StorageLevel.DISK_ONLY,
      seedMetrics = Seq(count(lit(1)).as("n"))) { (e, _, m) =>
      val deg = e.select(col("a").as("node"))
        .unionByName(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("d"))
      val surv = deg.filter(col("d") >= k).select("node")
      val bc = hintIf(m("n").asInstanceOf[Long] <= broadcastLongLimit) _
      (e.join(bc(surv), e("a") === surv("node"), "leftsemi")
        .join(bc(surv), e("b") === surv("node"), "leftsemi"),
        Seq(count(lit(1)).as("n")))
    } (_ == _).required
    e.select(col("a").as("node")).unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("core_degree"))
  }

  val registry: Seq[Query] = Seq(
    // 3 exact-integer PageRank rounds over the trade graph — influence
    // ranking over the entity graph, the Pregel step as join+agg
    Query("graph_pagerank", Corpus,
      // the same 3 rounds unrolled; integer floors make summation order
      // irrelevant, so the replay is exact with no float detour
      {
        val scale = "1000000000000"
        // ::BIGINT per round: DuckDB's sum(BIGINT) widens to HUGEINT,
        // which the compare would read as float
        def round(prev: String, out: String): String =
          s"""$out AS (SELECT e.dst AS node, ((SELECT ($scale * 15) // (100 * count(*)) FROM n) + sum(($prev.r * 85) // (100 * deg.d)))::BIGINT AS r FROM e JOIN $prev ON e.src = $prev.node JOIN deg ON e.src = deg.src GROUP BY e.dst)"""
        s"""WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b AS src, a AS dst FROM e0), n AS (SELECT DISTINCT src AS node FROM e), deg AS (SELECT src, count(*) AS d FROM e GROUP BY src), r0 AS (SELECT node, $scale // (SELECT count(*) FROM n) AS r FROM n), ${round("r0", "r1")}, ${round("r1", "r2")}, ${round("r2", "r3")} SELECT node, CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type, r AS rank FROM r3 ORDER BY node"""
      },
      (s, d) =>
        pageRank(tradeGraph(s, d), "src", "dst", iters = 3)
          .withColumn("node_type",
            when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier")))
          .select("node", "node_type", "rank")
          .orderBy("node")),

    // exact per-supplier triangle census over the co-supply graph —
    // local clustering structure (degree + closed wedges) with the
    // orientation bound doing the 100 TB work
    Query("graph_triangles", Corpus,
      // GROUND-TRUTH triangle semantics — the definitional a<b<c triple
      // enumeration over canonical edges, NOT a replay of the engine's
      // degree orientation: if the oriented wedge algebra over- or
      // under-counts anywhere, the hash fails
      """WITH sl AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk FROM lineitem),
        |e AS (SELECT DISTINCT x.sk AS a, y.sk AS b FROM sl x JOIN sl y ON x.o = y.o AND x.sk < y.sk),
        |deg AS (SELECT node, count(*) AS degree FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY node),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |tn AS (SELECT node, count(*) AS triangles FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) GROUP BY node)
        |SELECT d.node AS suppkey, d.degree, CAST(COALESCE(tn.triangles, 0) AS BIGINT) AS triangles
        |FROM deg d LEFT JOIN tn ON tn.node = d.node ORDER BY suppkey""".stripMargin,
      (s, d) =>
        triangleCounts(coSupplyEdges(s, d))
          .withColumnRenamed("node", "suppkey")
          .orderBy("suppkey")),

    // connected components over the same-nation trade graph — the
    // fragmented regime (per-nation regional networks) the dedup
    // family's shallow near-dup clusters never exercise; same min-label
    // machinery (checkpointed rounds, alternating-star fallback)
    Query("graph_components", Corpus,
      // 12 unrolled min-label rounds — measured convergence ≤ 7 at sf0.1
      // (the engine iterates to the exact fixpoint, so the unroll only
      // has to REACH it; the margin covers a rounds-regression).
      // MATERIALIZED per round: each round references its predecessor
      // twice, and DuckDB inlines plain CTEs — 2^12 copies of the scan
      // (the mm_decode_meta 2^k lesson, DuckDB edition; observed as an
      // fd-exhaustion error before the hint)
      {
        def round(prev: String, out: String): String =
          s"""$out AS MATERIALIZED (SELECT node, min(lbl) AS lbl FROM (SELECT node, lbl FROM $prev UNION ALL SELECT e.dst AS node, p.lbl FROM e JOIN $prev p ON e.src = p.node) t GROUP BY node)"""
        val rounds = (1 to 12).map(i => round(s"l${i - 1}", s"l$i")).mkString(", ")
        // convergence sentinel: the engine iterates to the true fixpoint,
        // so at an untested SF an under-iterated unroll must FAIL LOUDLY —
        // a NOT_CONVERGED row (present iff l12 <> l11) breaks the hash
        // with a self-describing marker instead of a silent divergence
        s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey JOIN customer c ON o.o_custkey = c.c_custkey JOIN supplier s ON l.l_suppkey = s.s_suppkey WHERE c.c_nationkey = s.s_nationkey), e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b AS src, a AS dst FROM e0), l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl FROM e), $rounds, sz AS (SELECT lbl, count(*) AS c FROM l12 GROUP BY lbl) SELECT node, CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type, lbl AS cluster, c::BIGINT AS comp_size FROM l12 JOIN sz USING (lbl) UNION ALL SELECT -1::BIGINT, 'NOT_CONVERGED', -1::BIGINT, -1::BIGINT WHERE (SELECT count(*) FROM (SELECT * FROM l12 EXCEPT SELECT * FROM l11) x) > 0 ORDER BY node"""
      },
      (s, d) => {
        // checkpoint the derivation ONCE: the plan below references e0
        // four times (nodes union ×2, symmetrize union ×2 inside
        // connectedComponents) and each reference would re-run the
        // fact-grain join — the sf10 smoke measured the un-cut shape at
        // 530 s with propagation itself only 8 s (BASELINE.md)
        val e0 = graft.CacheScope.checkpoint(nationTradeEdges(s, d))
        val nodes = e0.select(col("a").as("node"))
          .unionByName(e0.select(col("b").as("node"))).distinct()
        val comp = Dedup.connectedComponents(nodes, "node", e0, "a", "b")
        // cluster-grain size table (≤ #components rows) — broadcast back
        val sizes = comp.groupBy("cluster").agg(count(lit(1)).as("comp_size"))
        comp.join(broadcast(sizes), "cluster")
          .select(col("node"), nodeType(col("node")).as("node_type"),
            col("cluster"), col("comp_size"))
          .orderBy("node")
      }),

    // 6-hop BFS shell from the minimum node — reachability blast radius
    // over the full trade graph (measured eccentricity ≤ 4 at sf0.1,
    // so the shell is the whole component and the bound is slack).
    // BFS is MULTIPLICITY-INVARIANT, so the fact-grain pair DISTINCT
    // (a full shuffle the other graph queries need for degree/weight
    // semantics) is dropped, and only the canonical one-direction pair
    // list is checkpointed — the symmetrized view the rounds join is a
    // lazy union over the same blocks
    Query("graph_bfs", Corpus,
      // recursive frontier with set-UNION dedup on (node, hops): every
      // (node, d ≤ 6) pair reachable in exactly d steps appears once, and
      // min(d) per node is the hop distance — bounded by |nodes| × 7 rows
      """WITH RECURSIVE e0 AS (SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b AS src, a AS dst FROM e0),
        |b(node, d) AS (SELECT (SELECT min(src) FROM e), 0 UNION SELECT e.dst, b.d + 1 FROM b JOIN e ON e.src = b.node WHERE b.d < 6)
        |SELECT node, CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type, min(d)::BIGINT AS hops
        |FROM b GROUP BY node ORDER BY node""".stripMargin,
      (s, d) => {
        val pairs = graft.CacheScope.checkpoint(
          Tables.orders(s, d).select("o_orderkey", "o_custkey")
            .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
              col("o_orderkey") === col("l_orderkey"))
            .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b")))
        val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
          .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
        bfsLayers(edges, "src", "dst", maxHops = 6)
          .select(col("node"), nodeType(col("node")).as("node_type"),
            col("hops"))
          .orderBy("node")
      }),

    // 8-core of the trade graph: who keeps trading when thin
    // relationships are peeled away — dense-subgraph extraction with
    // the iterative peel doing one degree agg + two broadcast
    // semi-joins per (shrinking) round
    Query("graph_kcore", Corpus,
      // 8 unrolled peel rounds (measured fixpoint in 2): degree per
      // round, survivors with degree ≥ 8, edges restricted to survivor
      // endpoints — the definitional peel, stable rounds are no-ops.
      // MATERIALIZED for the same inlining reason as graph_components
      // (each e_i references e_{i-1} three times → 3^8 inlined scans)
      {
        def peel(prev: String, i: Int): String =
          s"""d$i AS MATERIALIZED (SELECT node, count(*) AS c FROM (SELECT a AS node FROM $prev UNION ALL SELECT b AS node FROM $prev) t GROUP BY node), e$i AS MATERIALIZED (SELECT a, b FROM $prev WHERE a IN (SELECT node FROM d$i WHERE c >= 8) AND b IN (SELECT node FROM d$i WHERE c >= 8))"""
        val rounds = (1 to 8).map(i => peel(s"e${i - 1}", i)).mkString(", ")
        // convergence sentinel (same contract as graph_components): the
        // peel is monotone so e8 ⊆ e7; a NOT_CONVERGED row fires iff the
        // 8-round unroll stopped short of the fixpoint at this SF
        s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), $rounds SELECT node, CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type, count(*)::BIGINT AS core_degree FROM (SELECT a AS node FROM e8 UNION ALL SELECT b AS node FROM e8) t GROUP BY node UNION ALL SELECT -1::BIGINT, 'NOT_CONVERGED', -1::BIGINT WHERE (SELECT count(*) FROM (SELECT * FROM e7 EXCEPT SELECT * FROM e8) x) > 0 ORDER BY node"""
      },
      (s, d) =>
        kCore(tradePairs(s, d), "a", "b", k = 8)
          .select(col("node"), nodeType(col("node")).as("node_type"),
            col("core_degree"))
          .orderBy("node")),

    // power-of-2 degree histogram by node type — the graph-shaped
    // sibling of data_skew_report (hub structure at a glance); the
    // bucket is an exact integer when-ladder, not a float log2 (ln x /
    // ln 2 can land 2.9999… at exact powers and flip a bucket)
    Query("graph_degree_dist", Answer,
      // the same exact integer bucket ladder (largest power of 2 ≤ degree)
      {
        val ladder = (30 to 1 by -1)
          .map(k => s"WHEN degree >= ${1L << k} THEN ${1L << k}")
          .mkString("CASE ", " ", " ELSE 1 END")
        s"""WITH e0 AS (SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), e AS (SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b AS src, a AS dst FROM e0), deg AS (SELECT src AS node, count(*) AS degree FROM e GROUP BY src) SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type, ($ladder)::BIGINT AS degree_bucket, count(*)::BIGINT AS nodes, min(degree)::BIGINT AS min_degree, max(degree)::BIGINT AS max_degree FROM deg GROUP BY 1, 2 ORDER BY node_type, degree_bucket"""
      },
      (s, d) => {
        val deg = tradeGraph(s, d).groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("degree"))
        var ladder = when(col("degree") >= (1L << 30), lit(1L << 30))
        (29 to 1 by -1).foreach { k =>
          ladder = ladder.when(col("degree") >= (1L << k), lit(1L << k))
        }
        deg.groupBy(nodeType(col("node")).as("node_type"),
            ladder.otherwise(lit(1L)).as("degree_bucket"))
          .agg(count(lit(1)).as("nodes"), min(col("degree")).as("min_degree"),
            max(col("degree")).as("max_degree"))
          .orderBy("node_type", "degree_bucket")
      })
  )
}
