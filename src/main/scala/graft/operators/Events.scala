package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Grain.{Answer, Corpus}
import graft.Query
import graft.Tables

/** Events / time-series: the reference's append-only event log and the
  * automations that monitor it.
  *
  * Reference semantics:
  *  - events list endpoint: protolib/src/bundles/events — queried with
  *    `filter[from]/[user]/[path] + orderBy=created & orderDirection=desc &
  *    itemsPerPage=N` (see e.g. agentsApi.ts:85) → filtered time-ordered
  *    top-N.
  *  - automations / state machines react to event windows and session-like
  *    bursts of activity.
  *
  * Spark-first: top-N is `ORDER BY ts DESC LIMIT n` → TakeOrderedAndProject
  * (each partition keeps n rows; no global sort even on a 100 TB log).
  * Windowed aggregation is a date_trunc bucket + hash agg (partial agg
  * map-side). Sessionization is the classic lag-gap + running-sum pattern:
  * one shuffle on user_id, then all window work stays partition-local.
  * Streaming twins in graft.streaming.StreamOps.
  */
object Events {

  /** The events endpoint: equality/range filters + time-ordered page. */
  def recent(df: DataFrame, pred: org.apache.spark.sql.Column, ts: String,
             tiebreak: String, n: Int): DataFrame =
    df.filter(pred).orderBy(col(ts).desc, col(tiebreak).asc).limit(n)

  /** Tumbling-window aggregation at a fixed granularity (date_trunc).
    * Sums/averages via Stable (exact decimal sums): double summation order
    * differs between engines and a boundary-adjacent group flips a rounded
    * output (observed at sf0.1) — decimal sums are order-free and exact.
    */
  def windowAgg(df: DataFrame, ts: String, granularity: String, keys: Seq[String]): DataFrame =
    df.groupBy((date_trunc(granularity, col(ts)).as("window_start") +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n_events"),
        Stable.sumRounded(col("value"), 2).as("sum_value"),
        Stable.avgRounded(col("value"), count(lit(1)), 4).as("avg_value"))

  /** OHLC time-bucket downsampling — the candle compaction that turns a
    * raw event log into a dashboard-grain series: per (bucket, key) the
    * opening value (earliest event), closing value (latest), high, low,
    * count and exact sum. open/close ride min/max over a
    * (ts, id, value) STRUCT — (ts, id) is unique, so the struct order IS
    * the deterministic event order and the whole candle is ONE
    * map-side-combinable hash agg (min/max/count/decimal-sum all have
    * partial merges): a single shuffle at (bucket, key) grain, no
    * window functions, no second pass — the shape that compacts 100 TB
    * of raw events into a serving table in one linear job.
    */
  def ohlc(df: DataFrame, ts: String, idCol: String, valCol: String,
           granularity: String, keys: Seq[String]): DataFrame =
    df.groupBy((date_trunc(granularity, col(ts)).as("bucket") +: keys.map(col)): _*)
      .agg(
        min(struct(col(ts), col(idCol), col(valCol).as("v"))).as("_o"),
        max(struct(col(ts), col(idCol), col(valCol).as("v"))).as("_c"),
        max(col(valCol)).as("high"), min(col(valCol)).as("low"),
        count(lit(1)).as("n_events"),
        Stable.sumRounded(col(valCol), 2).as("sum_value"))
      .select((col("bucket") +: keys.map(col)) ++ Seq(
        col("_o.v").as("open"), col("high"), col("low"), col("_c.v").as("close"),
        col("n_events"), col("sum_value")): _*)

  /** SLIDING-window aggregation: overlapping windows of `durMin` minutes
    * advancing every `slideMin` (each event lands in durMin/slideMin
    * windows) — the rate/trend view a monitoring dashboard reads, where a
    * tumbling window would chop a burst across bucket edges. Spark's
    * native `window()` plans as a projection EXPANDING each row to its
    * windows followed by a plain hash aggregate — the identical
    * one-shuffle shape as the tumbling agg with a declared, bounded
    * ×(dur/slide) map-side fanout (never data-driven), so the scale
    * story is the tumbling one. Requires durMin % slideMin == 0 (exact
    * cross-engine window membership).
    */
  def slidingWindowAgg(df: DataFrame, ts: String, durMin: Int, slideMin: Int): DataFrame = {
    require(durMin > 0 && slideMin > 0 && durMin % slideMin == 0,
      "duration must be a positive multiple of slide")
    df.groupBy(window(col(ts), s"$durMin minutes", s"$slideMin minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        Stable.sumRounded(col("value"), 2).as("sum_value"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("n_events"), col("sum_value"))
  }

  /** Daily growth curve: new users per day (by each user's FIRST event)
    * plus the cumulative user count — the canonical product-growth query.
    * Two hash aggs collapse the event stream to per-user then per-day
    * rows BEFORE any windowing, so the running sum runs over the tiny
    * daily series (days are bounded — thousands of rows at any corpus
    * size), where a single-partition frame is the right shape, not a
    * scale smell. Event-stream work stays map-side-combined aggregation.
    */
  def cumulativeUsers(df: DataFrame, ts: String, user: String): DataFrame = {
    val firstSeen = df.groupBy(col(user))
      .agg(min(date_trunc("day", col(ts))).as("day"))
    val daily = firstSeen.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.withColumn("cum_users", sum(col("new_users")).over(w))
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same key exceeds `gapSec`. session_seq is a
    * running sum of session-start flags — the standard scale-out
    * sessionization (one shuffle on key; windows partition-local).
    */
  def sessionize(df: DataFrame, key: String, ts: String, tiebreak: String,
                 gapSec: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    val prev = lag(unix_micros(col(ts)), 1).over(w)
    val isNew = when(prev.isNull || unix_micros(col(ts)) - prev > gapSec * 1000000L, 1L).otherwise(0L)
    df.withColumn("session_seq",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-session rollup on top of sessionize. */
  def sessionStats(df: DataFrame, key: String, ts: String, gapSec: Long,
                   tiebreak: String): DataFrame =
    sessionize(df, key, ts, tiebreak, gapSec)
      .groupBy(col(key), col("session_seq"))
      .agg(
        min(col(ts)).as("session_start"),
        max(col(ts)).as("session_end"),
        count(lit(1)).as("n_events"),
        Stable.sumRounded(col("value"), 2).as("sum_value"))

  /** Exact distinct-count per (possibly skewed) key, two-stage: dedup on
    * (key, member) first — a shuffle on a HIGH-cardinality uniform composite
    * key, so no reducer ever receives a whole hot key's rows — then count
    * per key over the already-distinct pairs. The naive
    * `count_distinct(member) GROUP BY key` ships every (key, member) pair
    * of a hot key to one reducer; this shape is the standard skew-safe
    * rewrite and stays exact (vs approx_count_distinct).
    */
  def distinctCountPerKey(df: DataFrame, key: String, member: String,
                          as: String): DataFrame =
    df.select(col(key), col(member))
      .distinct()
      // count(member) skips NULLs (count(DISTINCT x) semantics) while the
      // grouping still sees every key — a key whose members are all NULL
      // emits count 0 instead of vanishing from the output
      .groupBy(col(key)).agg(count(col(member)).as(as))

  /** As-of join (point-in-time lookup): for each left row, the single
    * right row with the greatest rightTs <= leftTs within the same key —
    * the reference automations' "latest state at event time" read, and an
    * operator Spark has no native form of.
    *
    * Spark-first shape: a UNION, not a join. Right rows (tag 0) and left
    * rows (tag 1) are sorted per key by (ts, tag, payload); the latest
    * right payload carries forward through `last(ignoreNulls)` over the
    * running row frame, and left rows read it. ONE shuffle on the key, all
    * window work partition-local, no range-join explosion and no per-row
    * lookback — the canonical distributed as-of. Left rows before any
    * right row get nulls (as-of LEFT join). For full determinism right
    * rows should be unique per (key, ts) — dedupe upstream (the payload
    * tiebreak here makes even the duplicate case deterministic: max
    * payload struct wins).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, leftTs: String,
               rightTs: String, payload: Seq[String]): DataFrame = {
    val pType = org.apache.spark.sql.types.StructType(
      payload.map(c => right.schema(c).copy(nullable = true)))
    val lType = org.apache.spark.sql.types.StructType(
      left.schema.fields.map(_.copy(nullable = true)))
    // a NULL rightTs can never satisfy rightTs <= leftTs, but unfiltered it
    // would sort FIRST and become the carried payload for early left rows
    val rT = right.filter(col(rightTs).isNotNull)
      .select(col(key).as("_k"), col(rightTs).as("_ats"), lit(0).as("_tag"),
        struct(payload.map(col): _*).as("_p"), lit(null).cast(lType).as("_lrow"))
    val lT = left.select(col(key).as("_k"), col(leftTs).as("_ats"), lit(1).as("_tag"),
      lit(null).cast(pType).as("_p"), struct(left.columns.map(col): _*).as("_lrow"))
    val w = Window.partitionBy(col("_k"))
      .orderBy(col("_ats").asc, col("_tag").asc, col("_p").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rT.unionByName(lT)
      .withColumn("_carry", last(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .select(left.columns.map(c => col(s"_lrow.$c").as(c)) ++
        payload.map(p => col(s"_carry.$p").as(p)): _*)
  }

  /** Binned range join: points joined to the intervals containing them
    * with NO equi-key — naively a BroadcastNestedLoopJoin (quadratic, the
    * plan Spark falls back to for pure range predicates). Binning restores
    * an equi-key: intervals explode to the fixed-width time bins they
    * overlap, points map to their single bin, the join runs on the bin
    * (hash/sort-merge, shuffle on a uniform key) and the exact BETWEEN
    * filters within the bin. A point's bin is covered by exactly one
    * exploded interval row, so no dedup is needed. Bin width trades
    * interval-row fanout (long intervals / small bins) against bin
    * selectivity (short intervals / large bins); size it near the median
    * interval length.
    */
  def rangeJoin(points: DataFrame, ptCol: String, intervals: DataFrame,
                startCol: String, endCol: String, binSeconds: Long): DataFrame = {
    val binUs = binSeconds * 1000000L
    val iv = intervals
      .withColumn("_bin", explode(sequence(
        floor(unix_micros(col(startCol)) / binUs).cast("long"),
        floor(unix_micros(col(endCol)) / binUs).cast("long"))))
    val pt = points.withColumn("_bin",
      floor(unix_micros(col(ptCol)) / binUs).cast("long"))
    pt.join(iv, Seq("_bin"))
      .filter(col(ptCol) >= col(startCol) && col(ptCol) <= col(endCol))
      .drop("_bin")
  }

  /** Sketch-based monitoring stats: HLL distinct + quantile sketches —
    * the right primitives at 100 TB where exact percentiles would sort the
    * world. Sketches are implementation-specific, so this op has NO SQL
    * oracle (driver records a rows-only check); the spec bounds the
    * approximations against exact values instead, and the exact half of
    * the monitoring surface (count/extrema) is the oracle-checked
    * `events_exact_stats` query.
    */
  def approxStats(df: DataFrame, key: String, member: String, v: String): DataFrame =
    df.groupBy(col(key))
      .agg(approx_count_distinct(col(member)).as("approx_users"),
        percentile_approx(col(v), lit(0.5), lit(1000)).as("p50"),
        percentile_approx(col(v), lit(0.95), lit(1000)).as("p95"))

  /** The ORACLE-CHECKABLE form of [[approxStats]]: each sketch is graded
    * against the exact value it approximates and the output carries the
    * exact values plus pass/fail flags — the engine-specific sketch
    * values never leave the query, so the row hashes identically in any
    * engine while still failing loudly if a sketch drifts out of its
    * documented bound (the oracle asserts every flag TRUE).
    *
    * Bounds: HLL++ at default rsd 0.05 is graded at ±15% (3 sd);
    * percentile_approx(accuracy=1000) guarantees rank error <= n/1000,
    * graded with a 2x slack window. The audit adds one corpus pass with
    * the |keys|-row sketch table broadcast back on — the same two-scan
    * shape as the anomaly op, nothing corpus-sized shuffles.
    */
  def approxStatsChecked(df: DataFrame, key: String, member: String, v: String): DataFrame = {
    val sk = approxStats(df, key, member, v)
    val ex = df.groupBy(col(key)).agg(
      countDistinct(col(member)).as("exact_users"),
      count(lit(1)).as("n"))
    val j = sk.join(ex, Seq(key))
    val ranks = df.join(broadcast(j.select(col(key), col("p50"), col("p95"))), Seq(key))
      .groupBy(col(key)).agg(
        sum(when(col(v) < col("p50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col(v) <= col("p50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col(v) < col("p95"), 1L).otherwise(0L)).as("lt95"),
        sum(when(col(v) <= col("p95"), 1L).otherwise(0L)).as("le95"))
    // the sketch value is a real data point occupying ranks
    // [lt+1, le]; valid if that interval meets [t-err, t+err]
    def rankOk(t: Column, err: Column, lt: Column, le: Column): Column =
      (lt + lit(1) <= t + err) && (le >= t - err)
    val err = col("n") * lit(0.002) + lit(1)
    j.join(ranks, Seq(key))
      .select(col(key), col("exact_users"), col("n").as("n_events"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * lit(0.15)).as("users_ok"),
        rankOk(col("n") * lit(0.5), err, col("lt50"), col("le50")).as("p50_ok"),
        rankOk(col("n") * lit(0.95), err, col("lt95"), col("le95")).as("p95_ok"))
  }

  /** MERGEABLE PRE-AGGREGATION (sketch rollup) — the 100 TB answer to
    * "distinct members over an arbitrary date range": distinct counts
    * don't add, so a plain daily cube can't serve range queries, and
    * rescanning the raw log per dashboard query is exactly what doesn't
    * scale. The fix is the standard lakehouse pattern: keep ONE
    * day×key-grain table of DataSketches HLL sketches (built once, in
    * production persisted and appended per day — see the maintain query),
    * then answer any range by UNIONING sketches — register-wise max is
    * associative/commutative/idempotent, so merge order, re-merges and
    * overlapping rebuilds all yield the identical estimate. Additive
    * metrics (row counts) ride the same table. A 100 TB log becomes a
    * |days|×|keys| sketch table; every range query thereafter is
    * O(days·keys), zero raw-log IO.
    */
  def sketchDaily(df: DataFrame, ts: String, key: String, member: String): DataFrame =
    df.groupBy(to_date(col(ts)).as("day"), col(key))
      .agg(hll_sketch_agg(col(member)).as("sk"), count(lit(1)).as("n"))

  /** Range rollup served PURELY from the daily sketch table: week-grain
    * distinct estimates via sketch union + additive event counts. The
    * raw log is not an input. */
  def sketchRollup(daily: DataFrame, key: String): DataFrame =
    daily.groupBy(date_trunc("week", col("day")).cast("date").as("week"), col(key))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"),
        sum(col("n")).as("n_events"))

  /** The ORACLE-CHECKABLE form of [[sketchRollup]] — same grading scheme
    * as [[approxStatsChecked]]: the engine-specific estimate never leaves
    * the query; the output carries the exact distinct count (recomputed
    * raw-side, the audit's cost, not the production path's) plus a bound
    * flag the oracle asserts TRUE. HLL_4 at the default lgK=12 stays in
    * sparse (near-exact) mode far beyond this corpus's cardinalities;
    * ±5% with an absolute floor of 5 is a loose 3-sd band.
    */
  def sketchRollupChecked(daily: DataFrame, raw: DataFrame, ts: String,
                          key: String, member: String): DataFrame = {
    val roll = sketchRollup(daily, key)
    val ex = raw.groupBy(date_trunc("week", col(ts)).cast("date").as("week"), col(key))
      .agg(countDistinct(col(member)).as("exact_users"))
    roll.join(ex, Seq("week", key))
      .select(col("week"), col(key), col("exact_users"), col("n_events"),
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(col("exact_users") * lit(0.05), lit(5.0))).as("users_ok"))
  }

  /** Fixed-bin value histogram per key — the monitoring-dashboard shape
    * (and the right exact primitive at 100 TB: one map-side-combinable
    * hash agg over |keys|×bins cells, counts are exact ints so there is
    * nothing to approximate and nothing float-fragile). Out-of-range
    * values clamp into the edge bins.
    */
  def histogram(df: DataFrame, key: String, v: String,
                width: Double, bins: Int): DataFrame =
    df.groupBy(col(key),
        least(greatest(floor(col(v) / width), lit(0.0)), lit((bins - 1).toDouble))
          .cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))

  /** Z-score anomaly flagging: events whose value deviates more than
    * `zMax` sample standard deviations from their type's mean — the batch
    * form of the reference's threshold automations, with the threshold
    * LEARNED from the data instead of configured. Per-type stats are one
    * hash agg (map-side combinable, types are low-cardinality) joined
    * back by broadcast: the corpus is scanned twice but never shuffled.
    * Portability: mean and stddev come from Stable's exact decimal sums
    * (identical doubles both engines), so the z comparison flips the same
    * rows everywhere; z itself is rounded for output only.
    */
  def anomalies(df: DataFrame, key: String, v: String, zMax: Double): DataFrame = {
    val stats = df.groupBy(col(key)).agg(
      Stable.avgRounded(col(v), count(lit(1)), 4).as("_mean"),
      Stable.stddevRounded(col(v), count(lit(1)), 4).as("_sd"))
    val z = (col(v) - col("_mean")) / col("_sd")
    df.join(broadcast(stats), key)
      .filter(col("_sd") > 0 && abs(z) > zMax)
      .withColumn("z", round(z, 4))
      .drop("_mean", "_sd")
  }

  /** Cohort retention matrix: users grouped by first-activity day, each
    * (cohort day, day offset) cell counting distinct users active that
    * day — the standard product-analytics read over the events stream.
    *
    * Shape: collapse to distinct (user, day) FIRST (the corpus-sized
    * shuffle shrinks to at most users × active-days before anything
    * else); first day per user is then a hash agg on the SAME user
    * partitioning (no second exchange), the join back is co-partitioned,
    * and (user, day) uniqueness makes the final count exact without a
    * count_distinct (the skew-safe two-stage rewrite, same as
    * [[distinctCountPerKey]]).
    */
  def retention(df: DataFrame, user: String, tsCol: String): DataFrame = {
    val days = df.select(col(user), date_trunc("day", col(tsCol)).as("_day")).distinct()
    val cohorts = days.groupBy(col(user)).agg(min(col("_day")).as("cohort_day"))
    days.join(cohorts, user)
      .select(col("cohort_day"),
        datediff(col("_day"), col("cohort_day")).cast("bigint").as("day_offset"))
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** INCREMENTAL retention maintenance — [[retention]] re-stated as a
    * maintained aggregate (the [[graft.operators.Etl.aggMaintain]] /
    * sketch-maintain fold applied to the family's unbounded-history
    * read): at 100 TB the daily re-scan of the full events history is
    * the first cost a deployment refuses, so the state a fold carries
    * is the COMPACTED activity aggregate, never raw events:
    *
    *  - `days`  — the distinct (user, day) table (users × active-days
    *    rows: the 1000×-smaller distinct-aggregate of the event log)
    *  - `cohorts` — per-user min(day), an ASSOCIATIVE min-merge like
    *    aggMaintain's (n, sum) pairs — late-arriving history that
    *    predates a user's standing cohort simply wins the min, so
    *    out-of-order delta batches fold correctly
    *
    * One fold costs O(|delta| + |delta's users| state rows touched):
    * the delta collapses to its own distinct day pairs (map-side
    * combined), anti-joins the standing days table on the
    * co-partitioned user key (no payload, no history rewrite), and the
    * cohort merge is a delta-keyed min re-agg. The cell matrix
    * ([[retentionFromState]]) is a state-grain read — raw history is
    * touched exactly once, by the fold that ingested it. The oracle IS
    * the invariant: a from-scratch [[retention]] rebuild over all
    * events must equal the folded state's read (the aggMaintain
    * contract), which the spec chains over out-of-order delta batches.
    */
  def retentionMaintain(days: DataFrame, cohorts: DataFrame,
                        delta: DataFrame, user: String,
                        tsCol: String): (DataFrame, DataFrame) = {
    val dd = delta
      .select(col(user), date_trunc("day", col(tsCol)).as("_day")).distinct()
    val newPairs = dd.join(days, Seq(user, "_day"), "left_anti")
    val mergedDays = days.unionByName(newPairs)
    val mergedCohorts = cohorts
      .unionByName(dd.groupBy(col(user)).agg(min(col("_day")).as("cohort_day")))
      .groupBy(col(user)).agg(min(col("cohort_day")).as("cohort_day"))
    (mergedDays, mergedCohorts)
  }

  /** The state shape [[retentionMaintain]] folds into, from one batch. */
  def retentionStateOf(batch: DataFrame, user: String,
                       tsCol: String): (DataFrame, DataFrame) = {
    val days = batch
      .select(col(user), date_trunc("day", col(tsCol)).as("_day")).distinct()
    (days, days.groupBy(col(user)).agg(min(col("_day")).as("cohort_day")))
  }

  /** The retention read over maintained state: same cell matrix as
    * [[retention]], but joining the compacted (days, cohorts) state
    * instead of re-deriving both from raw history. */
  def retentionFromState(days: DataFrame, cohorts: DataFrame,
                         user: String): DataFrame =
    days.join(cohorts, user)
      .select(col("cohort_day"),
        datediff(col("_day"), col("cohort_day")).cast("bigint").as("day_offset"))
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))

  /** Ordered-funnel detection: for each user, the first time each stage of
    * an ordered sequence (e.g. view → click → purchase) was reached, where
    * stage i+1 only counts STRICTLY AFTER stage i was first reached — the
    * reference's multi-step automation/state-machine progression read as a
    * batch query.
    *
    * Shape: stage-reach times are unbounded-frame conditional minima over
    * the SAME user partition — Catalyst plans all of them in one Exchange
    * (each stage's `when` can reference the previous stage's column because
    * unbounded-frame windows need no ordering, so they chain in one
    * operator stack). The per-user collapse afterwards is a plain hash agg
    * on already-co-partitioned data: ONE shuffle total, no self-joins (the
    * naive funnel is k-1 self-joins on a 100 TB events table).
    */
  def funnel(df: DataFrame, user: String, typeCol: String, tsCol: String,
             stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val w = Window.partitionBy(col(user))
    val staged = stages.zipWithIndex.foldLeft(df) { case (d, (stage, i)) =>
      val hit =
        if (i == 0) col(typeCol) === stage
        // null prev ts -> null condition -> `when` misses: stage i+1 can't
        // be reached before stage i, and strictly-after (same-instant
        // events don't advance the funnel)
        else col(typeCol) === stage && col(tsCol) > col(s"ts_${stages(i - 1)}")
      d.withColumn(s"ts_$stage", min(when(hit, col(tsCol))).over(w))
    }
    val stageCols = stages.map(st => max(col(s"ts_$st")).as(s"ts_$st"))
    val reached = stages.tail.map(st => col(s"ts_$st").isNotNull.cast("bigint"))
      .foldLeft(lit(1L))(_ + _)
    staged.groupBy(col(user))
      .agg(stageCols.head, stageCols.tail: _*)
      .filter(col(s"ts_${stages.head}").isNotNull)
      .withColumn("funnel_stage", reached)
  }

  /** Time-series gap fill: resample each key's event stream onto a fixed
    * calendar grid (one row per key per `granularity` bucket between the
    * key's first and last activity), carrying the last observed value
    * forward across empty buckets — the resample+ffill every monitoring /
    * feature-engineering pipeline needs before ML-ready time series.
    *
    * Shape: observations collapse to (key, bucket) FIRST (one hash agg —
    * the only corpus-sized shuffle); the per-key span is a second agg on
    * the SAME key partitioning; the grid is generated by `sequence` +
    * explode (rows materialise straight out of the span agg, nothing is
    * collected); the grid⋈obs join and the forward-fill window both run on
    * the (key)-partitioned data. Grid size is keys × buckets — independent
    * of event count, so a 100 TB log with a bounded key set fills to a
    * small, predictable output.
    */
  def gapFill(df: DataFrame, key: String, tsCol: String, v: String,
              granularity: String): DataFrame = {
    val obs = df
      .groupBy(col(key), date_trunc(granularity, col(tsCol)).as("bucket"))
      .agg(Stable.avgRounded(col(v), count(lit(1)), 4).as("obs_value"))
    val grid = obs.groupBy(col(key))
      .agg(min(col("bucket")).as("_a"), max(col("bucket")).as("_b"))
      .select(col(key), explode(sequence(col("_a"), col("_b"),
        expr(s"interval 1 $granularity"))).as("bucket"))
    val w = Window.partitionBy(col(key)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(obs, Seq(key, "bucket"), "left")
      .withColumn("value_filled", last(col("obs_value"), ignoreNulls = true).over(w))
      .withColumn("filled", col("obs_value").isNull)
      .drop("obs_value")
  }

  /** Event-type transition counts (the first-order Markov view of the
    * stream): for each consecutive pair of events of the same user, count
    * (from_type → to_type). One shuffle on the user key for the lag
    * ordering; the transition agg afterwards is low-cardinality
    * (|types|²) and fully map-side combinable.
    */
  def transitions(df: DataFrame, key: String, typeCol: String, tsCol: String,
                  tiebreak: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), col(tiebreak))
    df.withColumn("_next", lead(col(typeCol), 1).over(w))
      .filter(col("_next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("_next").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** Generic state-machine replay — the batch image of the reference's
    * xstate automations (protolib/src/bundles/stateMachines/
    * stateMachines/stateMachine.ts:28-30, `createMachine(definition)`):
    * a DECLARED (state, event) → state transition table replayed per
    * key over that key's events in (ts, tiebreak) order. An event with
    * no matching rule leaves the state unchanged and is not counted;
    * a matching rule (including explicit self-loops) counts as a
    * transition. Generalizes [[graft.streaming.StreamOps
    * .thresholdAutomation]] (a 2-state instance) and
    * [[patternWithin]] (an a-then-b instance) to arbitrary tables.
    *
    * Output grain per key: (n_events, n_transitions, final_state) and
    * the ordered list of TAKEN rules (`path`; each label is
    * from/event/to joined with U+001F, the unit separator that
    * [[stateMachineRuleCounts]] splits on — states/events may contain
    * `|`) for the rule-count rollup. Scale shape: the fold is ONE hash
    * exchange on the key + a codegen'd higher-order `aggregate` over
    * the sorted in-group array — the transition table rides along as a
    * literal map expression (answer-sized, no join, no driver loop);
    * per-key state is a constant-width struct plus the taken-rule list
    * (bounded by the key's own event count, the same bound
    * sessionization carries).
    */
  def stateMachineReplay(df: DataFrame, key: String, typeCol: String,
                         tsCol: String, tiebreak: String, initial: String,
                         table: Seq[(String, String, String)]): DataFrame = {
    // \u001F (unit separator) keys and labels — a state or event type
    // containing '|' must not silently alias another rule (the
    // dedupSpansRemoval gram-join precedent); control characters are
    // the one class a declared state table never carries
    val tmap = map(table.flatMap { case (f, e, t) =>
      Seq(lit(s"$f\u001F$e"), lit(t)) }: _*)
    val evs = array_sort(collect_list(struct(col(tsCol), col(tiebreak),
      col(typeCol).as("_et"))))
    val zero = struct(lit(initial).as("st"),
      array().cast("array<string>").as("path"))
    val folded = aggregate(evs, zero, (acc, ev) => {
      val nxt = element_at(tmap, concat_ws("\u001F", acc("st"), ev("_et")))
      struct(coalesce(nxt, acc("st")).as("st"),
        when(nxt.isNotNull, concat(acc("path"),
            array(concat_ws("\u001F", acc("st"), ev("_et"), nxt))))
          .otherwise(acc("path")).as("path"))
    })
    df.groupBy(col(key))
      .agg(count(lit(1)).as("n_events"), folded.as("m"))
      .select(col(key), col("n_events"),
        size(col("m.path")).cast("long").as("n_transitions"),
        col("m.st").as("final_state"), col("m.path").as("path"))
  }

  /** BOUNDED-CHUNK state-machine replay — [[stateMachineReplay]] without
    * its one unbounded buffer (the per-key collect_list: a hot key
    * owning 10^8 events is one task's array there). The classic
    * parallel-prefix trick over a FINITE machine: because the state set
    * is answer-sized, each (key, time-chunk) can be folded from EVERY
    * possible start state in one pass (a transfer map start→final,
    * |S| nested folds per chunk), chunks then stitch per key at CHUNK
    * grain (days, not events), and a second chunk-level fold with the
    * now-known start states produces exact transition counts. Buffers:
    * max(events per (key, chunk), chunks per key) — never a key's whole
    * history. Emits (key, n_events, n_transitions, final_state) — the
    * per-event `path` column is itself per-key unbounded, so the
    * chunked variant deliberately does not carry it (rule counts read
    * the chunk-grain paths instead).
    */
  def stateMachineReplayChunked(df: DataFrame, key: String, typeCol: String,
                                tsCol: String, tiebreak: String,
                                initial: String,
                                table: Seq[(String, String, String)],
                                granularity: String = "day"): DataFrame = {
    val sep = "\u001F"
    val tmap = map(table.flatMap { case (f, e, t) =>
      Seq(lit(s"$f$sep$e"), lit(t)) }: _*)
    val states = (initial +: table.flatMap { case (f, _, t) => Seq(f, t) })
      .distinct.sorted
    val statesArr = array(states.map(lit): _*)
    val evs = array_sort(collect_list(struct(col(tsCol), col(tiebreak),
      col(typeCol).as("_et"))))
    def step(st: Column, ev: Column): Column =
      coalesce(element_at(tmap, concat_ws(sep, st, ev("_et"))), st)
    // stage 1 — per (key, chunk): the transfer table start→final, one
    // bounded fold per possible start state (|S| is table-sized). The
    // tables ride as ARRAYS aligned with the literal `states` order
    // (maps are not orderable inside array_sort), indexed later via
    // array_position over the same literal.
    val chunks = df
      .withColumn("_ck", date_trunc(granularity, col(tsCol)))
      .groupBy(col(key), col("_ck"))
      .agg(count(lit(1)).as("_ne"),
        transform(statesArr, s0 => aggregate(evs, s0, step)).as("_tr"),
        // transitions taken from each possible start (a fold to a count,
        // not a path — constant width per start state)
        transform(statesArr, s0 =>
          aggregate(evs,
            struct(s0.as("st"), lit(0L).as("nt")),
            (acc, ev) => {
              val nxt = element_at(tmap, concat_ws(sep, acc("st"), ev("_et")))
              struct(coalesce(nxt, acc("st")).as("st"),
                (acc("nt") + when(nxt.isNotNull, 1L).otherwise(0L)).as("nt"))
            })("nt")).as("_ntm"))
    // stage 2 — per key at CHUNK grain: stitch transfer tables in chunk
    // order from `initial`, reading each chunk's actual start state and
    // its transition count at that start; fold state is (current state,
    // running total) — constant width
    def at(arr: Column, st: Column): Column =
      element_at(arr, array_position(statesArr, st).cast("int"))
    chunks.groupBy(col(key))
      .agg(sum(col("_ne")).as("n_events"),
        aggregate(
          array_sort(collect_list(struct(col("_ck"), col("_tr"), col("_ntm")))),
          struct(lit(initial).as("st"), lit(0L).as("nt")),
          (acc, c) => struct(
            at(c("_tr"), acc("st")).as("st"),
            (acc("nt") + at(c("_ntm"), acc("st"))).as("nt"))).as("_m"))
      .select(col(key), col("n_events"),
        col("_m")("nt").as("n_transitions"),
        col("_m")("st").as("final_state"))
  }

  /** The machine's rule-usage rollup: how often each declared rule
    * fired corpus-wide — answer-sized (≤ |table| rows at any corpus
    * size); the explode feeds one map-side-combinable hash agg. */
  def stateMachineRuleCounts(replayed: DataFrame): DataFrame =
    replayed.select(explode(col("path")).as("t"))
      .select(split(col("t"), "\\u001F").as("p"))
      .select(col("p")(0).as("from_state"), col("p")(1).as("event_type"),
        col("p")(2).as("to_state"))
      .groupBy("from_state", "event_type", "to_state")
      .agg(count(lit(1)).as("n_fired"))

  /** The session-intent machine the registered queries replay: five
    * states over the five corpus event types, with deliberate
    * no-rule holes (e.g. idle+click) so "unmatched stays" is on the
    * oracle path. */
  val intentMachine: Seq[(String, String, String)] = Seq(
    ("idle", "signup", "browsing"),
    ("idle", "view", "browsing"),
    ("browsing", "click", "engaged"),
    ("engaged", "purchase", "converted"),
    ("converted", "view", "browsing"),
    ("browsing", "error", "idle"),
    ("engaged", "error", "idle"),
    ("converted", "error", "idle"))

  /** Windowed top-k: the k most frequent event types per time bucket
    * (the "trending now" monitoring panel). Counts collapse to
    * (bucket, type) FIRST — one map-side-combined hash agg is the only
    * corpus-sized work — and the per-bucket rank then runs over at most
    * |types| rows per bucket; Spark's WindowGroupLimit additionally
    * prunes rank > k before the window's shuffle. Count-desc ties break
    * on the type string so the top-k set is deterministic.
    */
  def windowedTopK(df: DataFrame, ts: String, granularity: String,
                   typeCol: String, k: Int): DataFrame = {
    val counts = df
      .groupBy(date_trunc(granularity, col(ts)).as("bucket"), col(typeCol))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("n").desc, col(typeCol).asc)
    counts.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Exact rolling percentile over a bounded trailing frame — the "p90
    * of the last N readings" live-monitoring gauge. For a SMALL, FIXED
    * frame (N is a config constant, not data-sized) the exact answer is
    * affordable: collect the frame's values, sort, index at the pinned
    * discrete rank ceil(p·n) — O(N log N) per row with N bounded, one
    * shuffle+sort on the key like every other per-key window here. The
    * rank definition is the same pinned discrete convention as
    * q_percentile_group (engines disagree on interpolation); values
    * pass through unchanged (no arithmetic), so doubles compare
    * bitwise. An UNBOUNDED or data-sized frame would need a sketch
    * instead ([[approxStats]]' t-digest) — this operator is explicitly
    * the bounded-frame exact gauge.
    */
  def rollingPercentile(df: DataFrame, key: String, tsCol: String,
                        tiebreak: String, v: String, frameRows: Int,
                        p: Double): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), col(tiebreak))
      .rowsBetween(-(frameRows - 1), Window.currentRow)
    // one collect per row (the frame column is materialized once, then
    // the rank lookup is a plain projection over it). collect_list drops
    // NULL readings, so frame_n counts OBSERVED values — and a frame of
    // only-NULL readings yields NULL (element_at(_, 0) would error); the
    // oracle mirrors both choices with an explicit list_filter + CASE.
    df.withColumn("_fr", array_sort(collect_list(col(v)).over(w)))
      .withColumn("frame_n", size(col("_fr")).cast("bigint"))
      .withColumn("roll_p",
        when(col("frame_n") === 0, lit(null).cast("double"))
          .otherwise(element_at(col("_fr"), ceil(lit(p) * col("frame_n")).cast("int"))))
      .drop("_fr")
  }

  /** Sequence-pattern detection: every `a` event followed by a `b` event
    * of the same key within `withinSec` (the MATCH_RECOGNIZE-lite /
    * "view converted to purchase inside an hour" trigger shape, and the
    * batch analog of the reference's event automations). One conditional
    * window over the per-key time order — `min(ts) filtered to b` over
    * the rows strictly after each event — finds each a-event's next b
    * in a single shuffle+sort per key; no self-join, no per-pattern
    * rescan. The frame is stated as (unboundedPreceding, -1) over the
    * REVERSED order: the identical row set ("strictly after me in time
    * order"), but Spark evaluates a growing unbounded-PRECEDING frame
    * incrementally (one aggregate update per row) while an
    * unbounded-FOLLOWING frame re-aggregates the whole remaining
    * partition per row — O(n²) on a hot key. The gap comes out in
    * exact integer MICROSECONDS (μs epochs subtract exactly;
    * second-granularity datediffs disagree across engines on
    * sub-second boundaries).
    */
  def patternWithin(df: DataFrame, key: String, typeCol: String, tsCol: String,
                    tiebreak: String, a: String, b: String,
                    withinSec: Long): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsCol).desc, col(tiebreak).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_b_ts", min(when(col(typeCol) === b, col(tsCol))).over(w))
      .filter(col(typeCol) === a && col("_b_ts").isNotNull)
      .withColumn("gap_us", unix_micros(col("_b_ts")) - unix_micros(col(tsCol)))
      .filter(col("gap_us") <= withinSec * 1000000L)
      .select(col(key), col(tiebreak), col(tsCol).as("a_ts"),
        col("_b_ts").as("b_ts"), col("gap_us"))
  }

  /** Top user-journey paths: each user's first `k` events (by time),
    * rendered as an `a>b>c` path string, counted across users. Three
    * stages, each scale-bounded: (1) the first-k filter is a
    * row_number window whose `rn <= k` filter Spark pushes into a
    * map-side WindowGroupLimit — every partition keeps only k rows per
    * user BEFORE the shuffle, so a user with millions of events costs
    * the exchange k rows; (2) the per-user path agg reuses the window's
    * hash(user) partitioning (no second exchange) and collects at most
    * k elements per group; (3) the path frequency count is a map-side-
    * combined agg on path with TakeOrderedAndProject for the top list.
    */
  def topPaths(df: DataFrame, user: String, typeCol: String, tsCol: String,
               tiebreak: String, k: Int, top: Int): DataFrame = {
    val w = Window.partitionBy(col(user)).orderBy(col(tsCol).asc, col(tiebreak).asc)
    val firstK = df.select(col(user), col(tsCol), col(tiebreak), col(typeCol))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    // struct sort key = (rn, type); rn is unique per user so the sort is total
    val paths = firstK.groupBy(col(user))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col(typeCol).as("t")))),
          s => s.getField("t")), ">").as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(top)
  }

  /** Trailing time-RANGE window per user — the rate-limit/velocity audit
    * (how many events and how much value did this user generate in the
    * hour before each event, INCLUDING simultaneous peers). This is the
    * RANGE frame the ROWS-frame operators here can't express: the frame
    * is defined by the ORDER VALUE (epoch micros), so ties are all
    * included and the result is partitioning- and sort-stability-
    * independent — no tiebreak column needed, unlike every ROWS frame.
    *
    * NOT written as the literal sliding frame `RANGE [-backUs, 0]`:
    * Spark has no aggregate retraction, so a sliding frame re-aggregates
    * the whole frame for every row — O(rows × frame) per key, measured
    * 9.3× slower on a hot key owning 10% of a 10M-event stream (sf10
    * skew smoke, 7.7 s → 72 s). Instead the trailing window decomposes
    * into TWO GROWING frames — cum[−∞, t] − cum[−∞, t−backUs−1] — which
    * Spark processes incrementally (add-only, no retraction), sharing
    * ONE hash(user) exchange and ONE per-partition sort: O(rows) per
    * key after the sort, hot keys included (72 s → 8.9 s same smoke).
    * Counts subtract as exact longs and sums as exact decimals (micros
    * are integral, so the −backUs−1 upper bound is exactly "strictly
    * before the frame"), so the decomposition is value-identical to the
    * sliding frame — the unchanged DuckDB oracle pins it.
    */
  def rollingRange(df: DataFrame, idCol: String, user: String, tsCol: String,
                   valueCol: String, backUs: Long): DataFrame = {
    val ord = Window.partitionBy(col(user)).orderBy(unix_micros(col(tsCol)))
    val wCum = ord.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wOld = ord.rangeBetween(Window.unboundedPreceding, -backUs - 1)
    val zero = lit(BigDecimal(0)).cast(org.apache.spark.sql.types.DecimalType(20, 6))
    df.select(col(idCol), col(user), col(tsCol),
        (count(lit(1)).over(wCum) - count(lit(1)).over(wOld)).as("n_trail"),
        round(Stable.sumDecRef(col(valueCol)).over(wCum) -
          coalesce(Stable.sumDecRef(col(valueCol)).over(wOld), zero), 2)
          .cast("double").as("sum_trail"))
      .drop(tsCol)
  }

  /** DAU / trailing-7-day WAU — the active-users panel. Rolling DISTINCT
    * does not decompose into window frames (a user active twice in the
    * window must count once), and count_distinct over a 7-day window
    * re-scans per day. The scale shape instead: collapse the corpus to
    * the (user, day) grain ONCE (the only corpus-sized shuffle), then
    * each user-day contributes to the ≤7 window-end days it is visible
    * in — a bounded ×7 explode on the already-tiny grain table, dedup,
    * count. Total work is O(user-days × 7) regardless of how many raw
    * events a hot user generates. Reported days are days that HAVE
    * events (the join back to DAU pins that).
    */
  def activeUsers(df: DataFrame, user: String, tsCol: String,
                  windowDays: Int): DataFrame = {
    val ud = userDayGrain(df, user, tsCol)
    dailyActive(ud).join(windowedActive(ud, windowDays, "wau"),
        col("day") === col("wday"))
      .select(col("day"), col("dau"), col("wau"))
  }

  /** The (user, day) grain — the ONE corpus-sized collapse every
    * active-user metric shares. */
  private def userDayGrain(df: DataFrame, user: String, tsCol: String): DataFrame =
    df.select(to_date(col(tsCol)).as("day"), col(user).as("u")).distinct()

  private def dailyActive(ud: DataFrame): DataFrame =
    ud.groupBy("day").agg(count(lit(1)).as("dau"))

  /** Distinct users per trailing `days`-window end, via the bounded
    * contribution explode. Separate explodes per window size beat one
    * shared ×max explode consumed twice: without a persist, Spark
    * recomputes a shared subtree per consumer, so 7+28 generated rows
    * per user-day is CHEAPER than 28+28. */
  private def windowedActive(ud: DataFrame, days: Int, as: String): DataFrame =
    ud.select(explode(
        expr(s"sequence(day, date_add(day, ${days - 1}))")).as("wday"), col("u"))
      .distinct()
      .groupBy("wday").agg(count(lit(1)).as(as))

  /** Engagement segmentation: users bucketed by lifetime event count on
    * power-of-2 edges (1, 2-3, 4-7, … — the log-scaled power-user
    * pyramid, resolution at every activity level without tuning). Two
    * aggs: the first on the user key (corpus-sized, map-side combined),
    * the second over the user-grain table down to ~log2(max) rows — the
    * classic agg-of-agg funnel where each stage shrinks by orders of
    * magnitude. The bucket floor is exact integer bit arithmetic —
    * 2^floor(log2 n) = 1 << (significant bits - 1), the same `bin()`
    * length construction the oracle uses, uncapped — never a float log
    * at a boundary.
    */
  def engagement(df: DataFrame, user: String): DataFrame =
    df.groupBy(col(user)).agg(count(lit(1)).as("n_events"))
      .select(expr("shiftleft(1L, length(bin(n_events)) - 1)").cast("long")
        .as("bucket_lo"), col("n_events"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_users"), sum("n_events").as("total_events"))

  /** Stickiness panel: DAU / WAU(7) / MAU(28) and the DAU/MAU ratio per
    * day — three [[activeUsers]] window sizes sharing the ONE corpus
    * collapse to the (user, day) grain; the ×7 and ×28 contribution
    * explodes run on that grain, and the ratio is an exact integer
    * division ([[Stable.ratioRounded]]).
    */
  def stickiness(df: DataFrame, user: String, tsCol: String): DataFrame = {
    val ud = userDayGrain(df, user, tsCol)
    dailyActive(ud)
      .join(windowedActive(ud, 7, "wau"), col("day") === col("wday")).drop("wday")
      .join(windowedActive(ud, 28, "mau"), col("day") === col("wday")).drop("wday")
      .withColumn("stickiness", Stable.ratioRounded(col("dau"), col("mau"), 4))
  }

  /** Day-of-week × hour-of-day activity heatmap — the calendar panel of
    * every monitoring dashboard. One map-side-combined hash agg to a
    * bounded 7×24-cell result: the exchange moves at most 168 rows per
    * map partition regardless of corpus size, so this is scan-dominated
    * at any scale. Weekday is Sunday-first 0-6 (Spark's dayofweek is
    * 1-based Sunday-first; the oracle's engine is 0-based — the -1 here
    * pins one convention). Sums ride the exact-decimal path (order-free).
    */
  def heatmap(df: DataFrame, tsCol: String, valueCol: String): DataFrame =
    df.groupBy((dayofweek(col(tsCol)) - 1).cast("long").as("dow"),
        hour(col(tsCol)).cast("long").as("hod"))
      .agg(count(lit(1)).as("n"),
        Stable.sumRounded(col(valueCol), 2).as("sum_value"))

  // ---------------------------------------------------------------- queries

  /** The [[intentMachine]] as a VALUES relation + the per-user event
    * ordering shared by both state-machine oracles: DuckDB replays the
    * fold as a recursive CTE stepping one event per iteration (depth =
    * max per-user event count), LEFT JOIN against the declared rules —
    * the plain statement of the semantics the engine reaches through
    * the codegen'd higher-order fold. */
  private val smCtes =
    """e AS (SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events),
      |n AS (SELECT user_id, max(rn) AS ne FROM e GROUP BY user_id),
      |tr(fs, et, tos) AS (VALUES ('idle','signup','browsing'), ('idle','view','browsing'), ('browsing','click','engaged'), ('engaged','purchase','converted'), ('converted','view','browsing'), ('browsing','error','idle'), ('engaged','error','idle'), ('converted','error','idle'))""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("events_heatmap", Answer,
      """SELECT dayofweek(ts)::BIGINT AS dow, hour(ts)::BIGINT AS hod, count(*) AS n, round(sum(CAST(value AS DECIMAL(20,6))), 2)::DOUBLE AS sum_value FROM events GROUP BY dow, hod ORDER BY dow, hod""",
      (s, d) =>
        heatmap(Tables.events(s, d), "ts", "value")
          .orderBy("dow", "hod")),

    // DAU + trailing-7-day WAU (exact rolling distinct, ×7 bounded)
    Query("events_active_users", Answer,
      // same ×7 contribution construction; DATE + integer adds days
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u FROM events), dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day), c AS (SELECT DISTINCT wday, u FROM (SELECT day + i::INT AS wday, u FROM ud, (SELECT unnest(range(0, 7)) AS i))), wau AS (SELECT wday, count(*) AS wau FROM c GROUP BY wday) SELECT day, dau, wau FROM dau JOIN wau ON day = wday ORDER BY day""",
      (s, d) =>
        activeUsers(Tables.events(s, d), "user_id", "ts", windowDays = 7)
          .orderBy("day")),

    // DAU/WAU/MAU + DAU:MAU ratio (the stickiness panel)
    Query("events_stickiness", Answer,
      {
        val ratio = Stable.sqlRatioRounded("dau", "mau", 4)
        """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id AS u FROM events), dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day), c7 AS (SELECT DISTINCT wday, u FROM (SELECT day + i::INT AS wday, u FROM ud, (SELECT unnest(range(0, 7)) AS i))), wau AS (SELECT wday, count(*) AS wau FROM c7 GROUP BY wday), c28 AS (SELECT DISTINCT wday, u FROM (SELECT day + i::INT AS wday, u FROM ud, (SELECT unnest(range(0, 28)) AS i))), mau AS (SELECT wday, count(*) AS mau FROM c28 GROUP BY wday) SELECT day, dau, wau, mau, """ +
          ratio +
          """ AS stickiness FROM dau JOIN wau ON day = wau.wday JOIN mau ON day = mau.wday ORDER BY day"""
      },
      (s, d) =>
        stickiness(Tables.events(s, d), "user_id", "ts")
          .orderBy("day")),

    // lifetime-count power-user pyramid (log2 buckets)
    Query("events_engagement", Answer,
      // 2^floor(log2(n)) = 1 << (significant bits - 1): exact bit
      // arithmetic, mirroring the CASE chain (bin() has no leading zeros)
      """WITH pu AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id), b AS (SELECT (1::BIGINT << (length(bin(n)) - 1))::BIGINT AS bucket_lo, n FROM pu) SELECT bucket_lo, count(*) AS n_users, sum(n)::BIGINT AS total_events FROM b GROUP BY bucket_lo ORDER BY bucket_lo""",
      (s, d) =>
        engagement(Tables.events(s, d), "user_id")
          .orderBy("bucket_lo")),

    // trailing 1-hour RANGE frame per user (rate-limit audit)
    Query("events_rolling_1h", Corpus,
      // RANGE frame over epoch micros: tie rows (same ts) are all peers in
      // both engines, so no tiebreak column is needed or wanted
      """SELECT event_id, user_id, count(*) OVER w AS n_trail, round(sum(CAST(value AS DECIMAL(20,6))) OVER w, 2)::DOUBLE AS sum_trail FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) ORDER BY event_id""",
      (s, d) =>
        rollingRange(Tables.events(s, d), "event_id", "user_id", "ts", "value",
          backUs = 3600L * 1000000L)
          .orderBy("event_id")),

    Query("events_paths", Answer,
      """WITH r AS (SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events), p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path FROM r WHERE rn <= 5 GROUP BY user_id) SELECT path, count(*) AS n_users FROM p GROUP BY path ORDER BY n_users DESC, path ASC LIMIT 50""",
      (s, d) =>
        topPaths(Tables.events(s, d), "user_id", "event_type", "ts", "event_id",
          k = 5, top = 50)),

    // sketches graded in-query against exact values: flags + exact
    // values are the output, so the row is oracle-checkable even though
    // the sketch values themselves are engine-specific
    Query("events_approx_stats", Answer,
      // the exact values are recomputed in SQL; the flags assert the
      // engine-side sketches sat inside their documented bounds — any
      // sketch drift flips a flag and fails the hash
      """SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users, count(*)::BIGINT AS n_events, TRUE AS users_ok, TRUE AS p50_ok, TRUE AS p95_ok FROM events GROUP BY event_type ORDER BY event_type""",
      (s, d) =>
        approxStatsChecked(Tables.events(s, d), "event_type", "user_id", "value")
          .orderBy("event_type")),

    // week-range distinct users served from the day-grain sketch table
    // (the raw log appears only in the grading pass)
    Query("events_sketch_rollup", Answer,
      // exact values recomputed in SQL; users_ok asserts the sketch-union
      // estimate sat inside its bound (any drift flips the flag → hash fail)
      """SELECT date_trunc('week', ts)::DATE AS week, event_type, count(DISTINCT user_id)::BIGINT AS exact_users, count(*)::BIGINT AS n_events, TRUE AS users_ok FROM events GROUP BY 1, 2 ORDER BY week, event_type""",
      (s, d) => {
        val ev = Tables.events(s, d)
        sketchRollupChecked(sketchDaily(ev, "ts", "event_type", "user_id"),
          ev, "ts", "event_type", "user_id")
          .orderBy("week", "event_type")
      }),

    // INCREMENTAL maintenance of the sketch table (the dedup_incremental /
    // sim_ivfpq_append pattern for pre-aggregations): days before the cut
    // are the standing table; the new day-batch is sketched ALONE and
    // unioned in — register-wise max is associative + idempotent, so the
    // merged rollup is row-identical to a from-scratch build (same oracle)
    Query("events_sketch_maintain", Answer,
      // incremental merge must be row-identical to the from-scratch build
      """SELECT date_trunc('week', ts)::DATE AS week, event_type, count(DISTINCT user_id)::BIGINT AS exact_users, count(*)::BIGINT AS n_events, TRUE AS users_ok FROM events GROUP BY 1, 2 ORDER BY week, event_type""",
      (s, d) => {
        val ev = Tables.events(s, d)
        val cut = lit("2024-01-24").cast("date")
        val standing = sketchDaily(ev.filter(to_date(col("ts")) < cut),
          "ts", "event_type", "user_id")
        val batch = sketchDaily(ev.filter(to_date(col("ts")) >= cut),
          "ts", "event_type", "user_id")
        sketchRollupChecked(standing.unionByName(batch),
          ev, "ts", "event_type", "user_id")
          .orderBy("week", "event_type")
      }),

    // the EXACT half of the monitoring stats (count / extrema per type) —
    // oracle-checked, so only approxStats' sketch columns stay spec-bounded.
    // min/max/count are order-free (no summation portability hazards) and
    // map-side combinable: one hash agg, one narrow shuffle at any scale.
    Query("events_exact_stats", Answer,
      """SELECT event_type, count(*) AS n_events, min(value) AS min_value, max(value) AS max_value, min(ts) AS min_ts, max(ts) AS max_ts FROM events GROUP BY event_type ORDER BY event_type""",
      (s, d) =>
        Tables.events(s, d).groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            min(col("value")).as("min_value"),
            max(col("value")).as("max_value"),
            min(col("ts")).as("min_ts"),
            max(col("ts")).as("max_ts"))
          .orderBy("event_type")),

    Query("events_distinct_users", Answer,
      """SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type ORDER BY event_type""",
      (s, d) =>
        distinctCountPerKey(Tables.events(s, d), "event_type", "user_id", "n_users")
          .orderBy("event_type")),

    Query("events_recent", Answer,
      """SELECT event_id, ts, user_id, event_type, value FROM events WHERE event_type = 'error' AND user_id < 50 ORDER BY ts DESC, event_id ASC LIMIT 100""",
      (s, d) =>
        recent(Tables.events(s, d), col("event_type") === "error" && col("user_id") < 50,
          "ts", "event_id", 100)
          .select("event_id", "ts", "user_id", "event_type", "value")),

    Query("events_window_agg", Corpus,
      s"""SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n_events, round(sum(CAST(value AS DECIMAL(20,6))), 2)::DOUBLE AS sum_value, ${Stable.sqlAvgRounded("value", 4)} AS avg_value FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
      (s, d) =>
        windowAgg(Tables.events(s, d), "ts", "hour", Seq("event_type"))
          .orderBy("window_start", "event_type")),

    // hourly candles per event type: open/high/low/close/volume
    Query("events_ohlc", Corpus,
      // open/close via row_number over the same (ts, event_id) order the
      // Spark struct-min/max encodes; (ts, event_id) unique → deterministic
      """WITH b AS (SELECT date_trunc('hour', ts) AS bucket, event_type, ts, event_id, value FROM events), o AS (SELECT bucket, event_type, value AS open FROM (SELECT *, row_number() OVER (PARTITION BY bucket, event_type ORDER BY ts, event_id) AS rn FROM b) WHERE rn = 1), c AS (SELECT bucket, event_type, value AS close FROM (SELECT *, row_number() OVER (PARTITION BY bucket, event_type ORDER BY ts DESC, event_id DESC) AS rn FROM b) WHERE rn = 1), g AS (SELECT bucket, event_type, max(value) AS high, min(value) AS low, count(*)::BIGINT AS n_events, round(sum(CAST(value AS DECIMAL(20,6))), 2)::DOUBLE AS sum_value FROM b GROUP BY bucket, event_type) SELECT g.bucket, g.event_type, o.open, g.high, g.low, c.close, g.n_events, g.sum_value FROM g JOIN o USING (bucket, event_type) JOIN c USING (bucket, event_type) ORDER BY bucket, event_type""",
      (s, d) =>
        ohlc(Tables.events(s, d), "ts", "event_id", "value", "hour",
          Seq("event_type"))
          .orderBy("bucket", "event_type")),

    // 10-minute windows every 5 minutes: each event lands in 2 windows
    Query("events_sliding_window", Corpus,
      // each event expands to its two covering window starts, then a plain agg
      """WITH x AS (SELECT unnest([time_bucket(INTERVAL '5 minutes', ts), time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS w_start, value FROM events) SELECT w_start, w_start + INTERVAL '10 minutes' AS w_end, count(*) AS n_events, round(sum(CAST(value AS DECIMAL(20,6))), 2)::DOUBLE AS sum_value FROM x GROUP BY w_start ORDER BY w_start""",
      (s, d) =>
        slidingWindowAgg(Tables.events(s, d), "ts", durMin = 10, slideMin = 5)
          .orderBy("w_start")),

    Query("events_cumulative_users", Answer,
      """WITH f AS (SELECT user_id, min(date_trunc('day', ts)) AS day FROM events GROUP BY user_id), d AS (SELECT day, count(*) AS new_users FROM f GROUP BY day) SELECT day, new_users, CAST(sum(new_users) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users FROM d ORDER BY day""",
      (s, d) =>
        cumulativeUsers(Tables.events(s, d), "ts", "user_id")
          .orderBy("day")),

    Query("events_sessionize", Corpus,
      """WITH flagged AS (SELECT user_id, ts, event_id, value, CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 3600000000 THEN 1 ELSE 0 END AS is_new FROM (SELECT user_id, ts, event_id, value, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events)), sess AS (SELECT user_id, ts, value, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM flagged) SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end, count(*) AS n_events, round(sum(CAST(value AS DECIMAL(20,6))), 2)::DOUBLE AS sum_value FROM sess GROUP BY user_id, session_seq ORDER BY user_id, session_seq""",
      (s, d) =>
        sessionStats(Tables.events(s, d), key = "user_id", ts = "ts",
          gapSec = 3600, tiebreak = "event_id")
          .orderBy("user_id", "session_seq")),

    // point-in-time lookup: each event sees the user's latest purchase at
    // or before it. No pre-dedup shuffle needed: asofJoin's (ts, tag,
    // payload) sort makes same-timestamp right rows resolve to the max
    // payload struct — exactly the oracle's (event_id DESC, value DESC)
    // row_number pick.
    Query("events_asof_join", Corpus,
      // right side deduped per (user, ts) with the same whole-row max rule
      // Spark's max(struct(event_id, value)) applies, so ASOF is unambiguous
      """WITH r AS (SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC, value DESC) AS rn FROM events WHERE event_type = 'purchase') WHERE rn = 1), l AS (SELECT event_id, user_id, ts FROM events) SELECT l.event_id, l.user_id, r.purchase_id, r.purchase_value FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts ORDER BY l.event_id""",
      (s, d) => {
        val e = Tables.events(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            col("event_id").as("purchase_id"), col("value").as("purchase_value"))
        asofJoin(e.select("event_id", "user_id", "ts"), purchases,
          key = "user_id", leftTs = "ts", rightTs = "ts",
          payload = Seq("purchase_id", "purchase_value"))
          .select("event_id", "user_id", "purchase_id", "purchase_value")
          .orderBy("event_id")
      }),

    // interval containment with no equi key: every event falling inside
    // any of users 0-2's sessions ("incident windows"), via bin equi-join
    Query("events_range_join", Corpus,
      """WITH f AS (SELECT user_id, ts, event_id, CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 3600000000 THEN 1 ELSE 0 END AS is_new FROM (SELECT user_id, ts, event_id, lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events WHERE user_id < 3)), sx AS (SELECT user_id, ts, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM f), w AS (SELECT user_id AS w_user, session_seq AS w_seq, min(ts) AS session_start, max(ts) AS session_end FROM sx GROUP BY 1, 2) SELECT e.event_id, w.w_user, w.w_seq FROM events e JOIN w ON e.ts >= w.session_start AND e.ts <= w.session_end ORDER BY e.event_id, w.w_user, w.w_seq""",
      (s, d) => {
        val e = Tables.events(s, d)
        val windows = sessionStats(e.filter(col("user_id") < 3), key = "user_id",
          ts = "ts", gapSec = 3600, tiebreak = "event_id")
          .select(col("user_id").as("w_user"), col("session_seq").as("w_seq"),
            col("session_start"), col("session_end"))
        rangeJoin(e.select("event_id", "ts"), "ts", windows,
          "session_start", "session_end", binSeconds = 3600)
          .select("event_id", "w_user", "w_seq")
          .orderBy("event_id", "w_user", "w_seq")
      }),

    // how far each user progressed through view -> click -> purchase,
    // stages counted only strictly after the previous stage's first hit
    Query("events_funnel", Corpus,
      // identical chained-window shape: each stage's first-hit min can
      // reference the previous stage's column (unbounded frames, no ordering)
      """WITH w1 AS (SELECT user_id, event_type, ts, min(CASE WHEN event_type = 'view' THEN ts END) OVER (PARTITION BY user_id) AS ts_view FROM events), w2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ts > ts_view THEN ts END) OVER (PARTITION BY user_id) AS ts_click FROM w1), w3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > ts_click THEN ts END) OVER (PARTITION BY user_id) AS ts_purchase FROM w2) SELECT DISTINCT user_id, (1 + (ts_click IS NOT NULL)::BIGINT + (ts_purchase IS NOT NULL)::BIGINT) AS funnel_stage, ts_view, ts_click, ts_purchase FROM w3 WHERE ts_view IS NOT NULL ORDER BY user_id""",
      (s, d) =>
        funnel(Tables.events(s, d), user = "user_id", typeCol = "event_type",
          tsCol = "ts", stages = Seq("view", "click", "purchase"))
          .select("user_id", "funnel_stage", "ts_view", "ts_click", "ts_purchase")
          .orderBy("user_id")),

    Query("events_retention", Answer,
      """WITH days AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events), cohorts AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id) SELECT cohort_day, date_diff('day', cohort_day, day)::BIGINT AS day_offset, count(*) AS n_users FROM days JOIN cohorts USING (user_id) GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset""",
      (s, d) =>
        retention(Tables.events(s, d), user = "user_id", tsCol = "ts")
          .orderBy("cohort_day", "day_offset")),

    // incremental twin of events_retention: three OUT-OF-ORDER delta
    // batches (event_id % 3 — late batches carry earlier days, so
    // cohort minima genuinely move) fold into the compacted
    // (days, cohorts) state; the emitted read must equal the oracle's
    // from-scratch rebuild over ALL events — the aggMaintain contract
    Query("events_retention_maintain", Answer,
      // the oracle IS the invariant (the aggMaintain precedent): a
      // from-scratch rebuild over ALL events must equal the state folded
      // incrementally from the three out-of-order delta batches
      """WITH days AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events), cohorts AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id) SELECT cohort_day, date_diff('day', cohort_day, day)::BIGINT AS day_offset, count(*) AS n_users FROM days JOIN cohorts USING (user_id) GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset""",
      (s, d) => {
        val ev = Tables.events(s, d).select("event_id", "user_id", "ts")
        def batch(i: Int) = ev.filter(pmod(col("event_id"), lit(3)) === i)
        var st = retentionStateOf(batch(0), "user_id", "ts")
        (1 to 2).foreach { i =>
          // each fold references the standing state twice (anti-join +
          // union) — materialize per round, the components-loop contract
          st = (graft.CacheScope.checkpoint(st._1), graft.CacheScope.checkpoint(st._2))
          st = retentionMaintain(st._1, st._2, batch(i), "user_id", "ts")
        }
        retentionFromState(st._1, st._2, "user_id")
          .orderBy("cohort_day", "day_offset")
      }),

    Query("events_anomaly", Corpus,
      s"""WITH st AS (SELECT event_type, ${Stable.sqlAvgRounded("value", 4)} AS m, ${Stable.sqlStddevRounded("value", 4)} AS sd FROM events GROUP BY event_type) SELECT event_id, e.event_type, value, round((value - m) / sd, 4) AS z FROM events e JOIN st USING (event_type) WHERE sd > 0 AND abs((value - m) / sd) > 2.5 ORDER BY event_id""",
      (s, d) =>
        anomalies(Tables.events(s, d).select("event_id", "event_type", "value"),
          key = "event_type", v = "value", zMax = 2.5)
          .select("event_id", "event_type", "value", "z")
          .orderBy("event_id")),

    // daily resample per user with forward fill across silent days
    Query("events_gap_fill", Corpus,
      // same shape: bucketed obs -> per-key span -> generate_series grid ->
      // left join -> IGNORE NULLS carry (Spark's last(ignoreNulls) twin)
      s"""WITH obs AS (SELECT user_id, date_trunc('day', ts) AS bucket, ${Stable.sqlAvgRounded("value", 4)} AS obs_value FROM events GROUP BY user_id, date_trunc('day', ts)), span AS (SELECT user_id, min(bucket) AS a, max(bucket) AS b FROM obs GROUP BY user_id), grid AS (SELECT user_id, unnest(generate_series(a, b, INTERVAL 1 DAY)) AS bucket FROM span), j AS (SELECT g.user_id, g.bucket, o.obs_value FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket) SELECT user_id, bucket, last_value(obs_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled, (obs_value IS NULL) AS filled FROM j ORDER BY user_id, bucket""",
      (s, d) =>
        gapFill(Tables.events(s, d), key = "user_id", tsCol = "ts", v = "value",
          granularity = "day")
          .select("user_id", "bucket", "value_filled", "filled")
          .orderBy("user_id", "bucket")),

    Query("events_transitions", Answer,
      """WITH t AS (SELECT event_type, lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type FROM events) SELECT event_type AS from_type, next_type AS to_type, count(*) AS n_transitions FROM t WHERE next_type IS NOT NULL GROUP BY from_type, to_type ORDER BY from_type, to_type""",
      (s, d) =>
        transitions(Tables.events(s, d), key = "user_id", typeCol = "event_type",
          tsCol = "ts", tiebreak = "event_id")
          .orderBy("from_type", "to_type")),

    // the xstate-shape automation replay: declared transition table,
    // per-user fold in event order → final state + transitions taken
    Query("events_state_machine", Corpus,
      (s"WITH RECURSIVE $smCtes, " +
        """step(user_id, rn, st, ntr) AS (
          |  SELECT user_id, 0::BIGINT, 'idle', 0::BIGINT FROM n
          |  UNION ALL
          |  SELECT s.user_id, s.rn + 1, coalesce(t.tos, s.st),
          |         s.ntr + CASE WHEN t.tos IS NULL THEN 0 ELSE 1 END
          |  FROM step s JOIN e ON e.user_id = s.user_id AND e.rn = s.rn + 1
          |  LEFT JOIN tr t ON t.fs = s.st AND t.et = e.event_type)
          |SELECT s.user_id AS user_id, n.ne AS n_events, s.ntr AS n_transitions, s.st AS final_state
          |FROM step s JOIN n ON s.user_id = n.user_id AND s.rn = n.ne
          |ORDER BY s.user_id""".stripMargin),
      (s, d) =>
        stateMachineReplay(Tables.events(s, d), key = "user_id",
          typeCol = "event_type", tsCol = "ts", tiebreak = "event_id",
          initial = "idle", table = intentMachine)
          .select("user_id", "n_events", "n_transitions", "final_state")
          .orderBy("user_id")),

    // the hot-key-safe replay: per-(user, day) transfer-map folds
    // stitched at chunk grain — identical answer, bounded buffers
    Query("events_state_machine_chunked", Corpus,
      // the chunked replay computes the IDENTICAL answer by construction
      // (a state machine's fold is associative over chunks) — one oracle
      (s"WITH RECURSIVE $smCtes, " +
        """step(user_id, rn, st, ntr) AS (
          |  SELECT user_id, 0::BIGINT, 'idle', 0::BIGINT FROM n
          |  UNION ALL
          |  SELECT s.user_id, s.rn + 1, coalesce(t.tos, s.st),
          |         s.ntr + CASE WHEN t.tos IS NULL THEN 0 ELSE 1 END
          |  FROM step s JOIN e ON e.user_id = s.user_id AND e.rn = s.rn + 1
          |  LEFT JOIN tr t ON t.fs = s.st AND t.et = e.event_type)
          |SELECT s.user_id AS user_id, n.ne AS n_events, s.ntr AS n_transitions, s.st AS final_state
          |FROM step s JOIN n ON s.user_id = n.user_id AND s.rn = n.ne
          |ORDER BY s.user_id""".stripMargin),
      (s, d) =>
        stateMachineReplayChunked(Tables.events(s, d), key = "user_id",
          typeCol = "event_type", tsCol = "ts", tiebreak = "event_id",
          initial = "idle", table = intentMachine)
          .select("user_id", "n_events", "n_transitions", "final_state")
          .orderBy("user_id")),

    // which declared rules actually fire, corpus-wide (answer-sized)
    Query("events_state_rule_counts", Answer,
      (s"WITH RECURSIVE $smCtes, " +
        """step(user_id, rn, st, tf, te, tt) AS (
          |  SELECT user_id, 0::BIGINT, 'idle', NULL::VARCHAR, NULL::VARCHAR, NULL::VARCHAR FROM n
          |  UNION ALL
          |  SELECT s.user_id, s.rn + 1, coalesce(t.tos, s.st),
          |         CASE WHEN t.tos IS NULL THEN NULL ELSE s.st END,
          |         CASE WHEN t.tos IS NULL THEN NULL ELSE e.event_type END,
          |         t.tos
          |  FROM step s JOIN e ON e.user_id = s.user_id AND e.rn = s.rn + 1
          |  LEFT JOIN tr t ON t.fs = s.st AND t.et = e.event_type)
          |SELECT tf AS from_state, te AS event_type, tt AS to_state, count(*) AS n_fired
          |FROM step WHERE tt IS NOT NULL
          |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
      (s, d) =>
        stateMachineRuleCounts(
          stateMachineReplay(Tables.events(s, d), key = "user_id",
            typeCol = "event_type", tsCol = "ts", tiebreak = "event_id",
            initial = "idle", table = intentMachine))
          .orderBy("from_state", "event_type", "to_state")),

    // per-type value histogram, 10 bins of width 50 (data spans 0..~500)
    Query("events_histogram", Answer,
      // floor(double/width) is the same IEEE op both engines; counts exact
      """SELECT event_type, CAST(least(greatest(floor(value / 50.0), 0), 9) AS BIGINT) AS bin, count(*) AS n FROM events GROUP BY event_type, bin ORDER BY event_type, bin""",
      (s, d) =>
        histogram(Tables.events(s, d).select("event_type", "value"),
          key = "event_type", v = "value", width = 50.0, bins = 10)
          .orderBy("event_type", "bin")),

    // p90 of each user's trailing 10 readings — the live gauge shape
    Query("events_rolling_p90", Corpus,
      // DuckDB's list() over the same rows frame, NULLs filtered like
      // Spark's collect_list, list_sort, same pinned rank, NULL on empty
      """WITH f AS (SELECT event_id, user_id, value, list_sort(list_filter(list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), x -> x IS NOT NULL)) AS fr FROM events) SELECT event_id, user_id, value, len(fr)::BIGINT AS frame_n, CASE WHEN len(fr) = 0 THEN NULL ELSE fr[ceil(0.9 * len(fr))::INT] END AS roll_p FROM f ORDER BY event_id""",
      (s, d) =>
        rollingPercentile(Tables.events(s, d)
            .select("user_id", "event_id", "ts", "value"),
          key = "user_id", tsCol = "ts", tiebreak = "event_id",
          v = "value", frameRows = 10, p = 0.9)
          .select("event_id", "user_id", "value", "frame_n", "roll_p")
          .orderBy("event_id")),

    // top-3 trending event types per day
    Query("events_windowed_topk", Answer,
      """WITH c AS (SELECT date_trunc('day', ts) AS bucket, event_type, count(*) AS n FROM events GROUP BY bucket, event_type), r AS (SELECT bucket, event_type, n, row_number() OVER (PARTITION BY bucket ORDER BY n DESC, event_type ASC) AS rank FROM c) SELECT bucket, event_type, n, rank FROM r WHERE rank <= 3 ORDER BY bucket, rank""",
      (s, d) =>
        windowedTopK(Tables.events(s, d), ts = "ts", granularity = "day",
          typeCol = "event_type", k = 3)
          .orderBy("bucket", "rank")),

    // every view converting to a purchase within an hour, per user
    Query("events_pattern", Corpus,
      // same strictly-following conditional-min window; gaps as exact μs
      """WITH x AS (SELECT user_id, event_id, ts, event_type, min(CASE WHEN event_type = 'purchase' THEN ts END) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS b_ts FROM events) SELECT user_id, event_id, ts AS a_ts, b_ts, epoch_us(b_ts) - epoch_us(ts) AS gap_us FROM x WHERE event_type = 'view' AND b_ts IS NOT NULL AND epoch_us(b_ts) - epoch_us(ts) <= 3600000000 ORDER BY user_id, event_id""",
      (s, d) =>
        patternWithin(Tables.events(s, d), key = "user_id", typeCol = "event_type",
          tsCol = "ts", tiebreak = "event_id",
          a = "view", b = "purchase", withinSec = 3600L)
          .orderBy("user_id", "event_id"))
  )
}
