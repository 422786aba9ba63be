package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Relational / query core: the Spark-first re-expression of the reference's
  * auto-CRUD query engine.
  *
  * Reference semantics (cited file:line are in /root/reference):
  *  - equality + from/to range filters: packages/protobase/src/ProtoModel.ts:173-191
  *  - `key:value` tag + free-text search: packages/protobase/src/ProtoModel.ts:10-28,195-218
  *  - orderBy/orderDirection + page/itemsPerPage: packages/protonode/src/lib/generateApi.ts:180-202
  *  - group-index distinct options (prefix + limit): packages/protonode/src/lib/generateApi.ts:215-227
  *  - FK link recovery (dimension join): packages/protonode/src/lib/generateApi.ts:168-178
  *
  * The reference evaluates these per-row in Node over full in-memory arrays;
  * here each becomes a declarative Spark plan: filters/projections push into
  * the parquet scan, pagination becomes a global sort + limit/offset
  * (TakeOrderedAndProject — no full materialisation), link recovery is a
  * broadcast hash join, group-options is a partial-agg distinct.
  */
object Relational {

  /** AutoAPI `filter[k]=v` — equality conjunction. */
  def filterEq(df: DataFrame, eq: Map[String, Any]): DataFrame =
    eq.foldLeft(df) { case (d, (k, v)) => d.filter(col(k) === lit(v)) }

  /** AutoAPI `filter[k][from]/[to]` — inclusive range (ProtoModel.ts:176-185). */
  def filterRange(df: DataFrame, field: String, from: Option[Any], to: Option[Any]): DataFrame = {
    val lo = from.map(v => col(field) >= lit(v))
    val hi = to.map(v => col(field) <= lit(v))
    (lo ++ hi).foldLeft(df)(_ filter _)
  }

  /** ProtoModel search: `key:value` tags are exact matches; remaining free
    * text is a case-insensitive substring match over any searchable field
    * (ProtoModel.ts:195-218). `searchFields` = the string-typed columns.
    */
  def search(df: DataFrame, searchFields: Seq[String], tags: Map[String, String], freeText: String): DataFrame = {
    val tagged = filterEq(df, tags)
    if (freeText.isEmpty) tagged
    else {
      val needle = freeText.toLowerCase
      val anyField = searchFields
        .map(f => lower(col(f)).contains(needle))
        .reduce(_ || _)
      tagged.filter(anyField)
    }
  }

  /** The reference's parseSearch (ProtoModel.ts:10-29) re-expressed:
    * extract `key:value` and `key:"two words"` tags from a raw search
    * string — keys lowercased, values quote-stripped and lowercased —
    * leaving the residual free text trimmed. Driver-side string work:
    * the search string is request-sized, never data-sized; only the
    * predicates it compiles to touch the cluster.
    */
  def parseSearch(searchStr: String): (Map[String, String], String) = {
    val tagRe = """(\w+):("[^"]+"|\S+)""".r
    val tags = tagRe.findAllMatchIn(searchStr).map { m =>
      m.group(1).toLowerCase -> m.group(2).replace("\"", "").toLowerCase
    }.toMap
    (tags, tagRe.replaceAllIn(searchStr, "").trim)
  }

  /** [[search]] driven by a RAW search string: parse, then predicate.
    * Tag equality is case-insensitive (parseSearch lowercases the value,
    * so we compare the lowercased column — the evident intent of
    * ProtoModel.ts:197-202, whose literal lowercased-value-vs-raw-data
    * comparison silently never matches mixed-case rows).
    */
  def searchParsed(df: DataFrame, searchFields: Seq[String], searchStr: String): DataFrame = {
    val (tags, free) = parseSearch(searchStr)
    val tagged = tags.foldLeft(df) { case (d, (k, v)) =>
      d.filter(lower(col(k)) === lit(v))
    }
    if (free.isEmpty) tagged
    else {
      val needle = free.toLowerCase
      tagged.filter(searchFields.map(f => lower(col(f)).contains(needle)).reduce(_ || _))
    }
  }

  /** AutoAPI list pagination: global sort (with deterministic tiebreak) then
    * page window (generateApi.ts:180-202). Sort+limit compiles to
    * TakeOrderedAndProject: each partition keeps only page_end rows, so no
    * global shuffle of the full table happens even at 100 TB.
    */
  def orderPage(df: DataFrame, orderBy: String, asc: Boolean, tiebreak: String,
                page: Int, itemsPerPage: Int): DataFrame = {
    val key = if (asc) col(orderBy).asc else col(orderBy).desc
    df.orderBy(key, col(tiebreak).asc).offset(page * itemsPerPage).limit(itemsPerPage)
  }

  /** The full list-endpoint result envelope: the page plus `total`/`pages`
    * (generateApi.ts:193-200 returns them with every page). Two scans: the
    * count is its own job, which reads only the columns `df`'s filters
    * need (parquet column pruning; Spark's V1 parquet source has no
    * footer-only count), and the page itself is a TakeOrderedAndProject.
    * `total`/`pages` reach the page as projected literals, which
    * `ParamLiterals` keeps out of the generated code.
    */
  def orderPageEnvelope(df: DataFrame, orderBy: String, asc: Boolean, tiebreak: String,
                        page: Int, itemsPerPage: Int): DataFrame = {
    val total = df.count()
    val pages = (total + itemsPerPage - 1) / itemsPerPage
    orderPage(df, orderBy, asc, tiebreak, page, itemsPerPage)
      .withColumn("total", lit(total))
      .withColumn("pages", lit(pages))
  }

  /** Group-index options: distinct values, case-insensitive prefix filter,
    * ordered + limited (generateApi.ts:215-227). Filter-before-distinct so
    * the predicate reaches the scan and the distinct is partial-aggregated.
    */
  def groupOptions(df: DataFrame, field: String, prefix: String, limit: Int): DataFrame =
    df.filter(lower(col(field)).startsWith(prefix.toLowerCase))
      .select(col(field).as("opt")).distinct()
      .orderBy(col("opt")).limit(limit)

  /** FK link recovery = dimension join (generateApi.ts:168-178). The
    * reference collects distinct ids and point-reads them; at scale that is
    * a hash join of the dimension into the fact. The broadcast hint is
    * OPT-IN (`hintBroadcast=true` for genuinely bounded dims like nation/
    * region): a dimension that grows with the data (customer at sf100 is
    * 15M rows) must not be force-broadcast — by default we let AQE /
    * autoBroadcastJoinThreshold pick broadcast vs shuffle from actual sizes.
    */
  def recoverLinks(fact: DataFrame, dim: DataFrame, fk: String, pk: String,
                   dimCols: Seq[String], hintBroadcast: Boolean = false): DataFrame = {
    val dimSel = dim.select((pk +: dimCols).distinct.map(col): _*)
    val maybeHinted = if (hintBroadcast) broadcast(dimSel) else dimSel
    fact.join(maybeHinted, fact(fk) === dimSel(pk), "left").drop(dimSel(pk))
  }

  /** Hot-key-safe equi-join: when one fact key is so frequent that AQE's
    * skew splitting isn't available (or the dim side can't broadcast),
    * replicate each dim row `salts` times and scatter the fact across the
    * replicas — every (key, salt) partition carries ~1/salts of the hot
    * key. Result is exactly the plain inner join (spec-asserted).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, fk: String, pk: String,
                 salts: Int, tiebreak: String): DataFrame = {
    val sf = fact.withColumn("_salt", pmod(hash(col(tiebreak)), lit(salts)))
    val sd = dim.withColumn("_salt", explode(array((0 until salts).map(lit): _*)))
    sf.join(sd, sf(fk) === sd(pk) && sf("_salt") === sd("_salt"))
      .drop(sf("_salt")).drop(sd("_salt"))
  }

  /** Top-k per group, two-phase so no single window partition ever holds a
    * whole group (a low-cardinality group column would otherwise cap
    * parallelism at #groups and sort each group in full — a scale-killer).
    * Phase 1 ranks within (group, salt) — salts x groups parallel partitions,
    * each keeping only k rows; phase 2 re-ranks the <= salts*k survivors per
    * group. Top-k of the union of per-salt top-ks is exactly the global
    * top-k, and the salt (hash of the tiebreak) never affects the result.
    */
  def topKPerGroup(df: DataFrame, groupCol: String, orderCol: String, tiebreak: String,
                   k: Int, salts: Int = 16): DataFrame = {
    val ord: Seq[Column] = Seq(col(orderCol).desc, col(tiebreak).asc)
    val w1 = Window.partitionBy(col(groupCol), pmod(hash(col(tiebreak)), lit(salts)))
      .orderBy(ord: _*)
    val pruned = df.withColumn("_rn1", row_number().over(w1))
      .filter(col("_rn1") <= k).drop("_rn1")
    val w2 = Window.partitionBy(col(groupCol)).orderBy(ord: _*)
    // bigint to match ANSI row_number (oracle schema parity)
    pruned.withColumn("rn", row_number().over(w2).cast("bigint")).filter(col("rn") <= k)
  }

  /** Hierarchical subtotal aggregation (ROLLUP): per-(g1,g2) totals, per-g1
    * subtotals and the grand total in ONE aggregate — the reference's
    * grouped listing plus the "totals row" its UIs compute client-side over
    * the full result (generateApi.ts:193-200 pages carry `total`), pushed
    * into the engine. Catalyst plans rollup as a single Expand + hash
    * aggregate: one scan, one shuffle, no per-level re-aggregation — at
    * 100 TB the 3 grouping levels cost one pass, not three. Rolled-up keys
    * surface as NULL; they're coalesced to a sentinel so the output is a
    * plain (non-null) relation.
    */
  def rollupAgg(df: DataFrame, g1: String, g2: String, measure: String): DataFrame =
    df.rollup(col(g1), col(g2))
      // grouping(), not coalesce: a rolled-up key and a genuine NULL data
      // value must not collapse into the same output key — grouping() is
      // the only bit that tells them apart. (It is only legal inside the
      // agg list of a rollup, hence the _gg columns.) A literal "ALL"
      // data value remains a documented domain contract of the sentinel.
      .agg(count(lit(1)).as("n"), Stable.sumRounded(col(measure), 2).as("sum_val"),
        grouping(col(g1)).as("_gg1"), grouping(col(g2)).as("_gg2"))
      .select(
        when(col("_gg1") === 1, "ALL")
          .otherwise(coalesce(col(g1), lit("(null)"))).as(g1),
        when(col("_gg2") === 1, "ALL")
          .otherwise(coalesce(col(g2), lit("(null)"))).as(g2),
        col("n"), col("sum_val"))

  /** Full cross-tab subtotal aggregation (CUBE): per-(g1,g2) cells plus
    * BOTH one-dimensional margins and the grand total — the report shape
    * behind a two-axis dashboard (every row/column margin precomputed).
    * Like [[rollupAgg]] this is ONE Expand + hash aggregate: 4 grouping
    * sets cost one scan and one shuffle, not four passes; at 100 TB the
    * Expand multiplies rows 4x BEFORE the map-side partial agg collapses
    * them, so the exchange still carries only (cells + margins) rows.
    */
  def cubeAgg(df: DataFrame, g1: String, g2: String, measure: String): DataFrame =
    df.cube(col(g1), col(g2))
      .agg(count(lit(1)).as("n"), Stable.sumRounded(col(measure), 2).as("sum_val"),
        grouping(col(g1)).as("_gg1"), grouping(col(g2)).as("_gg2"))
      .select(
        when(col("_gg1") === 1, "ALL")
          .otherwise(coalesce(col(g1), lit("(null)"))).as(g1),
        when(col("_gg2") === 1, "ALL")
          .otherwise(coalesce(col(g2), lit("(null)"))).as(g2),
        col("n"), col("sum_val"))

  /** Arbitrary GROUPING SETS aggregation — the asymmetric cousin of
    * [[rollupAgg]]/[[cubeAgg]]: the caller picks exactly which subtotal
    * combinations exist (here the cells plus BOTH one-dimensional margins,
    * but NOT the grand total — the shape a report wants when the page
    * already shows a global header). Catalyst plans any grouping-set list
    * as ONE Expand + hash aggregate: the declared sets cost a single scan
    * and a single shuffle regardless of how many sets are listed, and the
    * Expand's row multiplication collapses in the map-side partial agg
    * before the exchange. grouping() bits discriminate subtotal rows from
    * genuine NULL data keys, exactly as in rollup/cube.
    */
  def groupingSetsAgg(df: DataFrame, g1: String, g2: String,
                      measure: String): DataFrame =
    df.groupingSets(
        Seq(Seq(col(g1), col(g2)), Seq(col(g1)), Seq(col(g2))),
        col(g1), col(g2))
      .agg(count(lit(1)).as("n"), Stable.sumRounded(col(measure), 2).as("sum_val"),
        grouping(col(g1)).as("_gg1"), grouping(col(g2)).as("_gg2"))
      .select(
        when(col("_gg1") === 1, "ALL")
          .otherwise(coalesce(col(g1), lit("(null)"))).as(g1),
        when(col("_gg2") === 1, "ALL")
          .otherwise(coalesce(col(g2), lit("(null)"))).as(g2),
        col("n"), col("sum_val"))

  /** Set operations with DISTINCT semantics: INTERSECT and EXCEPT over
    * key projections. Catalyst rewrites Intersect to a left-SEMI join and
    * Except to a left-ANTI join over deduplicated single-column inputs —
    * so at 100 TB each operand reduces to its distinct key set map-side
    * (partial agg) before any exchange, the joins ship key columns only,
    * and no payload ever moves. This is the engine answer to the
    * reference's row-at-a-time "collect ids into JS Sets and diff them"
    * idiom — same algebra, executed as three co-partitioned key streams.
    */
  def intersectExcept(a: DataFrame, b: DataFrame, c: DataFrame): DataFrame =
    a.intersect(b).except(c)

  /** Equal-frequency banding: NTILE(buckets) per group (the "quartile of
    * balance within segment" report), then one aggregate per (group, band)
    * — count + band edges. NTILE's standard definition (first
    * `n mod buckets` bands get the extra row) is deterministic given a
    * total order, so the window carries an explicit tiebreak. One
    * shuffle+sort on the group key serves the window; the banded agg then
    * map-side-combines — output is #groups x buckets rows regardless of
    * input size. (A low-cardinality group column caps window parallelism
    * at #groups; acceptable here because banding is per-GROUP by
    * definition — the sort within each partition is the cost, not a
    * global one.)
    */
  def ntileBands(df: DataFrame, group: String, value: String, tiebreak: String,
                 buckets: Int): DataFrame = {
    val w = Window.partitionBy(col(group)).orderBy(col(value).asc, col(tiebreak).asc)
    df.withColumn("band", ntile(buckets).over(w).cast("bigint"))
      .groupBy(col(group), col("band"))
      .agg(count(lit(1)).as("n"),
        round(min(col(value)), 2).as("lo"),
        round(max(col(value)), 2).as("hi"))
  }

  /** Pivot to a wide conditional-count table over a DECLARED value domain.
    * Spark's `pivot(col)` without values runs a distinct-values discovery
    * job first — a full extra scan of a 100 TB table; with the domain
    * declared the whole pivot is one hash aggregate (the per-value counts
    * are map-side-combined conditional aggs). Absent (row, value) cells
    * come back NULL from pivot-count and are coalesced to 0 to match the
    * relational `count(*) FILTER` shape.
    */
  def pivotCounts(df: DataFrame, rowKey: String, pivotCol: String,
                  values: Seq[String]): DataFrame = {
    val wide = df.groupBy(col(rowKey)).pivot(pivotCol, values).agg(count(lit(1)))
    wide.select(col(rowKey) +:
      values.map(v => coalesce(col(v), lit(0L)).as(v)): _*)
  }

  /** Unpivot (melt): the inverse of [[pivotCounts]] — wide per-value
    * columns back to (key, name, value) long form, the shape feature
    * stores and plotting layers want. Spark plans unpivot as ONE Expand
    * (|valueCols| output rows per input row) — a pure projection, zero
    * shuffle, no join against a names table; at 100 TB the melt is free
    * compared to the upstream aggregation that built the wide table.
    */
  def unpivotCounts(wide: DataFrame, rowKey: String, valueCols: Seq[String],
                    varName: String, valName: String): DataFrame =
    wide.unpivot(Array(col(rowKey)), valueCols.map(col).toArray, varName, valName)

  /** Semi/anti join: EXISTS / NOT EXISTS predicates as their dedicated
    * physical join shapes. A LeftSemi/LeftAnti join ships NO payload from
    * the right side and short-circuits per probe row — at 100 TB the
    * alternative people write (join + distinct, or count subquery per key)
    * shuffles the full right table and re-aggregates it. The right side
    * here reduces to its join key before the exchange (column pruning
    * keeps the shuffle one-column wide).
    */
  def semiJoin(left: DataFrame, right: DataFrame, lk: String, rk: String,
               anti: Boolean = false): DataFrame =
    left.join(right.select(col(rk)), col(lk) === col(rk),
      if (anti) "left_anti" else "left_semi")

  /** Running + moving window aggregates per entity (the time-series view
    * of an account/order stream): running total & count from the start of
    * each partition, moving average over the trailing `movRows` rows. All
    * frames share ONE partition/order spec — a single shuffle and a single
    * sort serve every aggregate. Sums accumulate as exact decimals:
    * windowed DOUBLE sums are engine-dependent (sliding frames may be
    * evaluated as a segment tree — a different association than a running
    * fold), decimals are exact under any association; the moving average
    * applies the scaled-integer half-up rounding to the frame's exact sum.
    */
  def runningWindow(df: DataFrame, part: String, ord: Seq[String],
                    measure: String, movRows: Int): DataFrame = {
    val w = Window.partitionBy(col(part)).orderBy(ord.map(col(_).asc): _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mov = w.rowsBetween(-(movRows - 1), Window.currentRow)
    df.withColumn("running_total",
        round(Stable.sumDecRef(col(measure)).over(run), 2).cast("double"))
      .withColumn("running_n", count(lit(1)).over(run))
      .withColumn("mov_avg",
        Stable.avgRoundedFromSum(Stable.sumDecRef(col(measure)).over(mov),
          count(lit(1)).over(mov), 4))
  }

  /** Exact per-group percentiles with an EXPLICITLY PINNED definition: the
    * value at ascending rank ceil(q·n) (1-based, deterministic tiebreak).
    * Engines disagree on percentile conventions (linear type-7
    * interpolation vs discrete, and their `percentile`/`quantile`
    * built-ins pick different ones) — pinning the discrete rank formula
    * makes both engines replay identical double arithmetic (q·n and ceil
    * are the same IEEE ops) and pick the same row. One window + one
    * conditional agg, shuffled on the group key only; the rank filter
    * stays a projection (no second pass per quantile).
    */
  def percentileGroup(df: DataFrame, group: String, value: String,
                      tiebreak: String, qs: Seq[(String, Double)]): DataFrame = {
    val w = Window.partitionBy(col(group))
      .orderBy(col(value).asc, col(tiebreak).asc)
    val ranked = df
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col(group))))
    val aggs = qs.map { case (as, q) =>
      max(when(col("_rn") === ceil(lit(q) * col("_n")), col(value))).as(as)
    }
    ranked.groupBy(col(group))
      .agg(count(lit(1)).as("n"), aggs: _*)
  }

  /** Bloom-sketch join pruning (a runtime filter built by hand): the dim
    * side's join keys are folded into a tiny bit array (one narrow job —
    * k bit positions per key, bit_or per 64-bit word), the words are
    * embedded in the plan as a literal, and the fact side is filtered by
    * k codegen'd bit probes BEFORE the join. False positives only cost a
    * join probe — the exact equi-join behind the filter keeps the output
    * exact — and false negatives are impossible (every inserted key finds
    * its own bits set).
    *
    * Why this matters at 100 TB: when the dim side is filtered but too big
    * to broadcast, a plain join shuffles the ENTIRE fact table; the sketch
    * version ships a few KB to every scan task and drops non-joining fact
    * rows at the scan, so the fact exchange carries only rows that can
    * match (the semi-join reduction that motivates Spark's own runtime
    * bloom filters, here as an explicit, tunable operator). Bit positions
    * come from md5 of the key (Md5PrefixLong at 4 digest offsets), so the
    * sketch is deterministic across engines, runs and retries.
    */
  private def bloomPositions(c: Column, numBits: Int, numHashes: Int): Seq[Column] =
    (0 until numHashes).map { i =>
      graft.functions.GraftFunctions.md5PrefixLong(c.cast("string"), 4 * i, "") %
        lit(numBits.toLong)
    }

  /** Build the sketch: k bit positions per key, bit_or'd into 64-bit words
    * (one narrow job over the key column), returned as the word array.
    */
  def bloomOf(keys: DataFrame, keyCol: String, numBits: Int, numHashes: Int): Array[Long] =
    collectBloomWords(bloomWordsDf(keys, keyCol, numBits, numHashes), numBits)

  /** The sketch as a (word index, 64-bit word) DataFrame — the
    * PERSISTABLE form ([[graft.sources.Io.atomicParquetArtifact]] can
    * commit it like any index artifact); [[collectBloomWords]] turns it
    * back into the probe array. Bounded at numBits/64 rows by
    * construction.
    */
  def bloomWordsDf(keys: DataFrame, keyCol: String, numBits: Int, numHashes: Int): DataFrame = {
    require(Integer.bitCount(numBits) == 1 && numBits >= 64,
      "numBits must be a power of two >= 64")
    require(numHashes >= 1 && numHashes <= 4,
      "up to 4 independent 32-bit hashes fit one md5 digest")
    keys
      .select(explode(array(bloomPositions(col(keyCol), numBits, numHashes): _*)).as("p"))
      .selectExpr("cast(p / 64 as int) as w", "shiftleft(1L, cast(p % 64 as int)) as bit")
      .groupBy(col("w")).agg(expr("bit_or(bit)").as("word"))
  }

  def collectBloomWords(words: DataFrame, numBits: Int): Array[Long] = {
    val arr = new Array[Long](numBits / 64)
    words.collect().foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Membership probe: k codegen'd bit tests against the word array
    * embedded as a plan literal. May answer true for a non-member (false
    * positive) but never false for a member.
    */
  def bloomMightContain(c: Column, words: Array[Long], numHashes: Int): Column = {
    val wordsLit = lit(words)
    bloomPositions(c, words.length * 64, numHashes).map { p =>
      val word = element_at(wordsLit, (p / 64).cast("int") + 1)
      graft.functions.GraftFunctions.shiftRight(word, (p % 64).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** `prebuiltWords` lets a caller reuse a session-cached sketch (the
    * simIvfAnn prebuiltLists pattern) — the filter/join body lives only
    * here either way.
    */
  def bloomPrunedJoin(fact: DataFrame, fk: String, dim: DataFrame, pk: String,
                      numBits: Int, numHashes: Int,
                      prebuiltWords: Option[Array[Long]] = None): DataFrame = {
    val words = prebuiltWords.getOrElse(bloomOf(dim.select(col(pk)), pk, numBits, numHashes))
    require(words.length * 64 == numBits, "prebuilt sketch width != numBits")
    fact.filter(col(fk).isNotNull && bloomMightContain(col(fk), words, numHashes))
      .join(dim, col(fk) === col(pk))
  }

  // ---------------------------------------------------------------- queries

  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()

  private def ts(s: String) = lit(java.sql.Timestamp.valueOf(s))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, d) => {
      // r16 (§2.5, the FloorAnatomy evidence): a compacted extract reads
      // as ONE split, so the whole decimal partial agg ran in one 504 ms
      // task; fan the degenerate scan out so 32 cores share it. Gated —
      // a multi-split production scan pays nothing.
      graft.Par.fanOut(Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00")),
          col("l_orderkey"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Stable.sumRounded(col("l_quantity"), 2).as("sum_qty"),
          Stable.sumRounded(col("l_extendedprice"), 2).as("sum_base_price"),
          // (18,6): product stays within 38-digit precision -> exact 12dp
          // in BOTH engines (see Stable.stddevRounded note)
          round(sum(col("l_extendedprice").cast("decimal(18,6)") *
            (lit(1) - col("l_discount").cast("decimal(18,6)"))), 2)
            .cast("double").as("sum_disc_price"),
          Stable.avgRounded(col("l_quantity"), count(lit(1)), 4).as("avg_qty"),
          Stable.avgRounded(col("l_discount"), count(lit(1)), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q_filter_eq" -> ((s, d) =>
      filterEq(Tables.customer(s, d), Map("c_mktsegment" -> "BUILDING"))
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
        .orderBy("c_custkey")),

    "q_filter_range" -> ((s, d) => {
      val o = Tables.orders(s, d)
      filterRange(
        filterRange(o, "o_totalprice", Some(10000.0), Some(200000.0)),
        "o_orderdate", Some(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")),
        Some(java.sql.Timestamp.valueOf("1998-12-31 00:00:00")))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey")
    }),

    "q_search_tags" -> ((s, d) =>
      search(Tables.part(s, d), Seq("p_name", "p_brand", "p_type"),
        Map("p_brand" -> "Brand#13"), "pro")
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        .orderBy("p_partkey")),

    // the raw-string path: a quoted two-word tag + residual free text,
    // parsed by parseSearch exactly as the reference's regex does
    "q_search_tags_quoted" -> ((s, d) =>
      searchParsed(Tables.part(s, d), Seq("p_name", "p_brand", "p_type"),
        """p_name:"small ring" Brand#1""")
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        .orderBy("p_partkey")),

    "q_orderby_page" -> ((s, d) =>
      orderPage(Tables.orders(s, d).select("o_orderkey", "o_totalprice", "o_orderpriority"),
        "o_totalprice", asc = false, tiebreak = "o_orderkey", page = 2, itemsPerPage = 25)),

    "q_group_options" -> ((s, d) =>
      groupOptions(Tables.part(s, d), "p_type", "pro", 100)),

    // hot-key-safe join demo: identical rows to a plain inner join
    "q_join_salted" -> ((s, d) =>
      saltedJoin(Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        fk = "o_custkey", pk = "c_custkey", salts = 8, tiebreak = "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_mktsegment")
        .orderBy("o_orderkey")),

    // same result as q_group_options but served from a materialised group
    // index (built here inline; in production maintained by ingest)
    "q_group_options_indexed" -> ((s, d) => {
      val idx = "/tmp/graft_io/gidx_p_type"
      graft.plans.GroupIndex.build(Tables.part(s, d), "p_type", idx)
      graft.plans.GroupIndex.options(s, idx, "p_type", "pro", 100)
    }),

    "q_orderby_page_envelope" -> ((s, d) =>
      orderPageEnvelope(Tables.orders(s, d).select("o_orderkey", "o_totalprice", "o_orderpriority"),
        "o_totalprice", asc = false, tiebreak = "o_orderkey", page = 2, itemsPerPage = 25)),

    // customer grows with scale factor: no broadcast hint — AQE decides
    "q_join_links" -> ((s, d) =>
      recoverLinks(Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        Tables.customer(s, d), "o_custkey", "c_custkey", Seq("c_name", "c_mktsegment"),
        hintBroadcast = false)
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")
        .orderBy("o_orderkey")),

    "q_join_multi" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o  = Tables.orders(s, d)
      val c  = Tables.customer(s, d)
      val n  = Tables.nation(s, d)
      val r  = Tables.region(s, d)
      // Selectivity first: the ASIA predicate keeps ~1/5 of customers, so
      // reduce customer (via broadcast dims) and then orders BEFORE the big
      // lineitem join — at 100 TB the lineitem shuffle is the dominant cost
      // and must join against the smallest possible right side. nation and
      // region are bounded dims: broadcast hints are correct there.
      val asiaCust = c
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(r("r_name") === "ASIA")
        .select(c("c_custkey"), n("n_name"))
      val asiaOrders = o.join(asiaCust, o("o_custkey") === asiaCust("c_custkey"))
        .select(o("o_orderkey"), asiaCust("n_name"))
      li.join(asiaOrders, li("l_orderkey") === asiaOrders("o_orderkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
            (lit(1) - col("l_discount").cast("decimal(18,6)"))), 2)
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "q_topk_group" -> ((s, d) =>
      topKPerGroup(Tables.orders(s, d).select("o_orderpriority", "o_orderkey", "o_totalprice"),
        "o_orderpriority", "o_totalprice", "o_orderkey", 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_orderpriority", "rn")),

    "q_distinct" -> ((s, d) =>
      Tables.lineitem(s, d).select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    "q_agg_stats" -> ((s, d) =>
      Tables.customer(s, d).groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          Stable.avgRounded(col("c_acctbal"), count(lit(1)), 4).as("avg_bal"),
          round(min(col("c_acctbal")), 2).as("min_bal"),
          round(max(col("c_acctbal")), 2).as("max_bal"),
          Stable.stddevRounded(col("c_acctbal"), count(lit(1)), 4).as("sd_bal"))
        .orderBy("c_mktsegment")),

    // r16 NEGATIVE: fan-out measured 0.43 → 0.96 s here — 200k l_partkey
    // groups mean the map-side partial agg barely reduces, so the added
    // exchange is pure cost (unlike q1_agg's 6-group collapse). Left flat.
    "q_groupby_having" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n"), Stable.sumRounded(col("l_quantity"), 2).as("sum_qty"))
        .filter(col("n") >= 3)
        .orderBy("l_partkey")),

    "q_agg_rollup" -> ((s, d) =>
      rollupAgg(Tables.orders(s, d), "o_orderstatus", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderstatus", "o_orderpriority")),

    "q_agg_cube" -> ((s, d) =>
      cubeAgg(Tables.orders(s, d), "o_orderstatus", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderstatus", "o_orderpriority")),

    "q_grouping_sets" -> ((s, d) =>
      groupingSetsAgg(Tables.orders(s, d), "o_orderstatus", "o_orderpriority",
        "o_totalprice")
        .orderBy("o_orderstatus", "o_orderpriority")),

    // parts shipped both as returns ('R') and accepted ('A'), minus any
    // part ever shipped at quantity >= 48 — (R ∩ A) \ big
    "q_set_ops" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      intersectExcept(
        li.filter(col("l_returnflag") === "R").select("l_partkey"),
        li.filter(col("l_returnflag") === "A").select("l_partkey"),
        li.filter(col("l_quantity") >= 48).select("l_partkey"))
        .orderBy("l_partkey")
    }),

    "q_window_ntile" -> ((s, d) =>
      ntileBands(Tables.customer(s, d).select("c_mktsegment", "c_acctbal", "c_custkey"),
        group = "c_mktsegment", value = "c_acctbal", tiebreak = "c_custkey", buckets = 4)
        .orderBy("c_mktsegment", "band")),

    // Composed analytics flagship (TPC-H Q3 shape): unshipped-revenue top
    // 10. Selectivity order matters at 100 TB — the BUILDING filter keeps
    // ~1/5 of customers, reducing orders BEFORE the lineitem join, and the
    // l_shipdate predicate pushes into the lineitem scan; the final top-10
    // is TakeOrderedAndProject (per-partition heads, no global sort).
    "q_tpch_pricing" -> ((s, d) => {
      val cutoff = ts("1995-03-15 00:00:00")
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      // r16 §2.5: fan the degenerate single-split lineitem scan out so
      // the broadcast probe + decimal partial agg parallelize (gated)
      val li = graft.Par.fanOut(
        Tables.lineitem(s, d).filter(col("l_shipdate") > cutoff)
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        col("l_orderkey"))
      li.join(o.join(c, o("o_custkey") === c("c_custkey"))
            .select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,6)") *
            (lit(1) - col("l_discount").cast("decimal(18,6)"))), 2)
            .cast("double").as("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
    }),

    "q_pivot" -> ((s, d) =>
      pivotCounts(Tables.events(s, d).withColumn("day", date_trunc("day", col("ts"))),
        "day", "event_type", Seq("click", "view", "purchase", "error", "signup"))
        .orderBy("day")),

    // round-trip shape: the q_pivot wide table melted back to long form
    // (zero-count cells survive as explicit rows — the declared domain)
    "q_unpivot" -> ((s, d) =>
      unpivotCounts(
        pivotCounts(Tables.events(s, d).withColumn("day", date_trunc("day", col("ts"))),
          "day", "event_type", Seq("click", "view", "purchase", "error", "signup")),
        "day", Seq("click", "view", "purchase", "error", "signup"),
        "event_type", "n")
        .orderBy("day", "event_type")),

    "q_window_running" -> ((s, d) =>
      runningWindow(Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        part = "o_custkey", ord = Seq("o_orderdate", "o_orderkey"),
        measure = "o_totalprice", movRows = 4)
        .select("o_orderkey", "o_custkey", "running_total", "running_n", "mov_avg")
        .orderBy("o_custkey", "o_orderkey")),

    // month-over-month revenue trend: lag over an AGGREGATED series (a
    // months-sized table — the window costs nothing after the one
    // corpus-sized agg). The lag and delta run on the EXACT decimal
    // sums; rounding happens per output column, so the delta cannot
    // pick up double drift at a rounding boundary.
    "q_trend_monthly" -> ((s, d) => {
      val monthly = Tables.orders(s, d)
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(Stable.sumDec(col("o_totalprice")).as("_rev"),
          count(lit(1)).as("n_orders"))
      val w = Window.orderBy(col("month"))
      monthly
        .withColumn("_prev", lag(col("_rev"), 1).over(w))
        .select(col("month"), col("n_orders"),
          round(col("_rev"), 2).cast("double").as("revenue"),
          round(col("_prev"), 2).cast("double").as("prev_revenue"),
          round(col("_rev") - col("_prev"), 2).cast("double").as("mom_delta"))
        .orderBy("month")
    }),

    // correlated-subquery semantics ("orders 1.5x above their customer's
    // average"), decorrelated to the scale-right agg + join by hand — the
    // shape Catalyst itself rewrites a correlated scalar subquery into.
    // The comparison runs in EXACT integer/decimal arithmetic
    // (price*n*2 > sum*3, never avg-as-double), so boundary rows can't
    // flip on cross-engine float drift.
    "q_above_custavg" -> ((s, d) => {
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      val stats = o.groupBy("o_custkey")
        .agg(Stable.sumDec(col("o_totalprice")).as("_sum"), count(lit(1)).as("_n"))
      o.join(stats, "o_custkey")
        .filter(col("o_totalprice").cast("decimal(20,6)") * col("_n") * 2 >
          col("_sum") * 3)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // FULL OUTER reconciliation: per-day click vs purchase counts, days
    // present on either side surviving with 0 for the missing one (the
    // report-reconciliation join; both sides pre-aggregate to day grain
    // before the join, so the outer join is over bounded series)
    "q_join_full_outer" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("day", date_trunc("day", col("ts")))
      def perDay(t: String, as: String) =
        ev.filter(col("event_type") === t).groupBy("day").agg(count(lit(1)).as(as))
      perDay("click", "n_clicks")
        .join(perDay("purchase", "n_purchases"), Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
        .orderBy("day")
    }),

    // NOT IN (subquery) — deliberately NOT the same operator as NOT
    // EXISTS above: three-valued logic means a NULL probe key never
    // qualifies once the list is non-empty. Catalyst plans this as its
    // null-aware anti join (single-key NAAJ, broadcast build side);
    // nullif() manufactures NULL probe keys so the semantics are
    // actually exercised against the oracle, not just the happy path.
    "q_not_in_subquery" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("g_orders")
      Tables.customer(s, d).createOrReplaceTempView("g_customer")
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM g_orders
               WHERE nullif(o_custkey, 7) NOT IN
                     (SELECT c_custkey FROM g_customer WHERE c_acctbal < 0)
               ORDER BY o_orderkey""")
    }),

    // customers who never placed an urgent order: NOT EXISTS as a LeftAnti
    "q_join_anti" -> ((s, d) =>
      semiJoin(Tables.customer(s, d).select("c_custkey", "c_name", "c_mktsegment"),
        Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        lk = "c_custkey", rk = "o_custkey", anti = true)
        .orderBy("c_custkey")),

    "q_percentile_group" -> ((s, d) =>
      percentileGroup(Tables.orders(s, d)
          .select("o_orderpriority", "o_totalprice", "o_orderkey"),
        group = "o_orderpriority", value = "o_totalprice", tiebreak = "o_orderkey",
        qs = Seq("p50" -> 0.5, "p95" -> 0.95))
        .orderBy("o_orderpriority")),

    // runtime-filter demo: orders joined to one nation's customers, the
    // fact side pruned at the scan by a 2 KB bloom sketch of the dim keys.
    // Output is exact (the sketch only pre-filters an exact equi-join).
    "q_join_bloom" -> ((s, d) => {
      val nation = 3
      val (numBits, numHashes) = (1 << 14, 4)
      val dim = Tables.customer(s, d).filter(col("c_nationkey") === nation)
        .select("c_custkey", "c_name")
      // the sketch is an INDEX ARTIFACT like the ANN lists: deterministic
      // for a (corpus, predicate, config), so build it once per session
      // instead of one synchronous driver-side job per invocation. Every
      // predicate/config input is part of the cache key — editing the
      // filter without the key serving a stale (false-negative) sketch
      // is impossible by construction.
      val words = bloomCache.computeIfAbsent(s"$d|c_nationkey=$nation|$numBits|$numHashes",
        _ => bloomOf(dim.select(col("c_custkey")), "c_custkey", numBits, numHashes))
      bloomPrunedJoin(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        fk = "o_custkey", dim = dim, pk = "c_custkey",
        numBits = numBits, numHashes = numHashes, prebuiltWords = Some(words))
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_name")
        .orderBy("o_orderkey")
    }),

    // Pearson correlation per group from EXACT decimal product sums (the
    // Stable contract: order-free sums, then one fixed double expression
    // tree both engines evaluate identically). Spark's corr() is a
    // streaming-moment aggregate whose partial-merge order perturbs the
    // last bits — unusable under a hash compare.
    "stat_corr" -> ((s, d) =>
      statMoments(graft.Par.fanOut(Tables.lineitem(s, d), col("l_orderkey")),
        "l_returnflag", "l_quantity", "l_extendedprice")
        .select(col("l_returnflag"), col("n"),
          round(
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                (col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr_qty_price"))
        .orderBy("l_returnflag")),

    // least-squares fit y = slope*x + intercept per group, same exact-sum
    // shape; r2 is the squared correlation of the fit
    "stat_regr" -> ((s, d) =>
      statMoments(graft.Par.fanOut(Tables.lineitem(s, d), col("l_orderkey")),
        "l_returnflag", "l_quantity", "l_extendedprice")
        .select(col("l_returnflag"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
          round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"), 6)
            .as("intercept"),
          round(((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy"))) /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
        .orderBy("l_returnflag"))
  )

  /** Shared moment sums for the stat_* pair: counts plus the five exact
    * decimal(18,6) product sums as doubles — one partial-aggregable scan
    * agg (map-side combine, 32-row exchange at any scale). */
  private def statMoments(df: org.apache.spark.sql.DataFrame,
                          key: String, xc: String, yc: String) = {
    val x = col(xc).cast("decimal(18,6)")
    val y = col(yc).cast("decimal(18,6)")
    df.groupBy(col(key)).agg(
      count(lit(1)).as("n"),
      sum(x).cast("double").as("sx"),
      sum(y).cast("double").as("sy"),
      sum(x * x).cast("double").as("sxx"),
      sum(y * y).cast("double").as("syy"),
      sum(x * y).cast("double").as("sxy"))
  }

  /** DuckDB twin of [[statMoments]] — (20,6) for the int128 product path
    * (see [[Stable.sqlStddevRounded]]); both engines' sums are exact, so
    * the derived doubles agree bitwise. */
  private val statMomentsCte = {
    val x = "CAST(l_quantity AS DECIMAL(20,6))"
    val y = "CAST(l_extendedprice AS DECIMAL(20,6))"
    s"""m AS (
       |  SELECT l_returnflag, count(*) AS n,
       |    sum($x)::DOUBLE AS sx, sum($y)::DOUBLE AS sy,
       |    sum($x * $x)::DOUBLE AS sxx, sum($y * $y)::DOUBLE AS syy,
       |    sum($x * $y)::DOUBLE AS sxy
       |  FROM lineitem GROUP BY l_returnflag)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "stat_corr" ->
      (s"WITH $statMomentsCte " +
        "SELECT l_returnflag, n, round((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS corr_qty_price " +
        "FROM m ORDER BY l_returnflag"),
    "stat_regr" ->
      (s"WITH $statMomentsCte " +
        "SELECT l_returnflag, n, " +
        "round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope, " +
        "round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6) AS intercept, " +
        "round(((n*sxy - sx*sy) * (n*sxy - sx*sy)) / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2 " +
        "FROM m ORDER BY l_returnflag"),
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus, round(sum(CAST(l_quantity AS DECIMAL(20,6))),2)::DOUBLE AS sum_qty, round(sum(CAST(l_extendedprice AS DECIMAL(20,6))),2)::DOUBLE AS sum_base_price, round(sum(CAST(l_extendedprice AS DECIMAL(20,6)) * (1 - CAST(l_discount AS DECIMAL(20,6)))),2)::DOUBLE AS sum_disc_price, ${Stable.sqlAvgRounded("l_quantity", 4)} AS avg_qty, ${Stable.sqlAvgRounded("l_discount", 4)} AS avg_disc, count(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "q_filter_eq" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""",
    "q_filter_range" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders WHERE o_totalprice >= 10000.0 AND o_totalprice <= 200000.0 AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate <= TIMESTAMP '1998-12-31 00:00:00' ORDER BY o_orderkey""",
    "q_search_tags" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part WHERE p_brand = 'Brand#13' AND (lower(p_name) LIKE '%pro%' OR lower(p_brand) LIKE '%pro%' OR lower(p_type) LIKE '%pro%') ORDER BY p_partkey""",
    "q_search_tags_quoted" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part WHERE lower(p_name) = 'small ring' AND (lower(p_name) LIKE '%brand#1%' OR lower(p_brand) LIKE '%brand#1%' OR lower(p_type) LIKE '%brand#1%') ORDER BY p_partkey""",
    "q_orderby_page" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25 OFFSET 50""",
    "q_orderby_page_envelope" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority, t.total, (t.total + 24) // 25 AS pages FROM orders CROSS JOIN (SELECT count(*) AS total FROM orders) t ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25 OFFSET 50""",
    "q_group_options" ->
      """SELECT DISTINCT p_type AS opt FROM part WHERE lower(p_type) LIKE 'pro%' ORDER BY opt LIMIT 100""",
    "q_group_options_indexed" ->
      """SELECT DISTINCT p_type AS opt FROM part WHERE lower(p_type) LIKE 'pro%' ORDER BY opt LIMIT 100""",
    "q_join_salted" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, c_mktsegment FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey""",
    "q_join_links" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment FROM orders LEFT JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey""",
    "q_join_multi" ->
      """SELECT n_name, round(sum(CAST(l_extendedprice AS DECIMAL(20,6)) * (1 - CAST(l_discount AS DECIMAL(20,6)))),2)::DOUBLE AS revenue, count(*) AS n_items FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q_topk_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (SELECT o_orderpriority, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders) WHERE rn <= 3 ORDER BY o_orderpriority, rn""",
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY l_returnflag, l_linestatus""",
    "q_agg_stats" ->
      s"""SELECT c_mktsegment, count(*) AS n, ${Stable.sqlAvgRounded("c_acctbal", 4)} AS avg_bal, round(min(c_acctbal),2) AS min_bal, round(max(c_acctbal),2) AS max_bal, ${Stable.sqlStddevRounded("c_acctbal", 4)} AS sd_bal FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_groupby_having" ->
      """SELECT l_partkey, count(*) AS n, round(sum(CAST(l_quantity AS DECIMAL(20,6))),2)::DOUBLE AS sum_qty FROM lineitem GROUP BY l_partkey HAVING count(*) >= 3 ORDER BY l_partkey""",
    "q_agg_rollup" ->
      """SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE coalesce(o_orderstatus, '(null)') END AS o_orderstatus, CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE coalesce(o_orderpriority, '(null)') END AS o_orderpriority, count(*) AS n, round(sum(CAST(o_totalprice AS DECIMAL(20,6))),2)::DOUBLE AS sum_val FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority) ORDER BY o_orderstatus, o_orderpriority""",
    "q_agg_cube" ->
      """SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE coalesce(o_orderstatus, '(null)') END AS o_orderstatus, CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE coalesce(o_orderpriority, '(null)') END AS o_orderpriority, count(*) AS n, round(sum(CAST(o_totalprice AS DECIMAL(20,6))),2)::DOUBLE AS sum_val FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) ORDER BY o_orderstatus, o_orderpriority""",
    "q_grouping_sets" ->
      """SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL' ELSE coalesce(o_orderstatus, '(null)') END AS o_orderstatus, CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE coalesce(o_orderpriority, '(null)') END AS o_orderpriority, count(*) AS n, round(sum(CAST(o_totalprice AS DECIMAL(20,6))),2)::DOUBLE AS sum_val FROM orders GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority)) ORDER BY o_orderstatus, o_orderpriority""",
    "q_set_ops" ->
      """(SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R' INTERSECT SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A') EXCEPT SELECT l_partkey FROM lineitem WHERE l_quantity >= 48 ORDER BY l_partkey""",
    "q_window_ntile" ->
      """SELECT c_mktsegment, band, count(*) AS n, round(min(c_acctbal),2) AS lo, round(max(c_acctbal),2) AS hi FROM (SELECT c_mktsegment, c_acctbal, ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC, c_custkey ASC) AS band FROM customer) GROUP BY c_mktsegment, band ORDER BY c_mktsegment, band""",
    "q_tpch_pricing" ->
      """SELECT l_orderkey, round(sum(CAST(l_extendedprice AS DECIMAL(20,6)) * (1 - CAST(l_discount AS DECIMAL(20,6)))),2)::DOUBLE AS revenue, o_orderdate, o_orderpriority FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00' AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00' GROUP BY l_orderkey, o_orderdate, o_orderpriority ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
    "q_pivot" ->
      """SELECT date_trunc('day', ts) AS day, count(*) FILTER (WHERE event_type = 'click') AS click, count(*) FILTER (WHERE event_type = 'view') AS view, count(*) FILTER (WHERE event_type = 'purchase') AS purchase, count(*) FILTER (WHERE event_type = 'error') AS error, count(*) FILTER (WHERE event_type = 'signup') AS signup FROM events GROUP BY day ORDER BY day""",
    "q_unpivot" ->
      """WITH w AS (SELECT date_trunc('day', ts) AS day, count(*) FILTER (WHERE event_type = 'click') AS click, count(*) FILTER (WHERE event_type = 'view') AS view, count(*) FILTER (WHERE event_type = 'purchase') AS purchase, count(*) FILTER (WHERE event_type = 'error') AS error, count(*) FILTER (WHERE event_type = 'signup') AS signup FROM events GROUP BY day) SELECT day, event_type, n FROM w UNPIVOT (n FOR event_type IN (click, view, purchase, error, signup)) ORDER BY day, event_type""",
    "q_window_running" ->
      s"""WITH b AS (SELECT o_orderkey, o_custkey, sum(CAST(o_totalprice AS DECIMAL(20,6))) OVER w1 AS rsum, count(*) OVER w1 AS rcount, sum(CAST(o_totalprice AS DECIMAL(20,6))) OVER w2 AS msum, count(*) OVER w2 AS mn FROM orders WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) SELECT o_orderkey, o_custkey, round(rsum, 2)::DOUBLE AS running_total, rcount AS running_n, ${Stable.sqlAvgRoundedFrom("msum", "mn", 4)} AS mov_avg FROM b ORDER BY o_custkey, o_orderkey""",
    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT') ORDER BY c_custkey""",
    // identical three-valued NOT IN text: both engines drop NULL probes
    "q_not_in_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE nullif(o_custkey, 7) NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0) ORDER BY o_orderkey""",
    // identical exact-decimal lag/delta over the monthly aggregate
    "q_trend_monthly" ->
      """WITH m AS (SELECT date_trunc('month', o_orderdate) AS month, sum(CAST(o_totalprice AS DECIMAL(20,6))) AS rev, count(*) AS n_orders FROM orders GROUP BY month), l AS (SELECT month, n_orders, rev, lag(rev, 1) OVER (ORDER BY month) AS prev FROM m) SELECT month, n_orders, round(rev, 2)::DOUBLE AS revenue, round(prev, 2)::DOUBLE AS prev_revenue, round(rev - prev, 2)::DOUBLE AS mom_delta FROM l ORDER BY month""",
    // stated as the correlated subquery it semantically is — DuckDB
    // decorrelates it to the same agg+join shape the Spark side hand-writes
    "q_above_custavg" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o WHERE CAST(o_totalprice AS DECIMAL(20,6)) * (SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey) * 2 > (SELECT sum(CAST(o_totalprice AS DECIMAL(20,6))) FROM orders i WHERE i.o_custkey = o.o_custkey) * 3 ORDER BY o_orderkey""",
    "q_join_full_outer" ->
      """WITH c AS (SELECT date_trunc('day', ts) AS day, count(*) AS n_clicks FROM events WHERE event_type = 'click' GROUP BY 1), p AS (SELECT date_trunc('day', ts) AS day, count(*) AS n_purchases FROM events WHERE event_type = 'purchase' GROUP BY 1) SELECT coalesce(c.day, p.day) AS day, coalesce(n_clicks, 0) AS n_clicks, coalesce(n_purchases, 0) AS n_purchases FROM c FULL OUTER JOIN p ON c.day = p.day ORDER BY day""",
    "q_percentile_group" ->
      """WITH r AS (SELECT o_orderpriority, o_totalprice, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn, count(*) OVER (PARTITION BY o_orderpriority) AS n FROM orders) SELECT o_orderpriority, count(*) AS n, max(CASE WHEN rn = ceil(0.5 * n) THEN o_totalprice END) AS p50, max(CASE WHEN rn = ceil(0.95 * n) THEN o_totalprice END) AS p95 FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // the bloom sketch is plan-transparent: the oracle is the plain join
    "q_join_bloom" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, c_name FROM orders JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = 3 ORDER BY o_orderkey"""
  )
}
