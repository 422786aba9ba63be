package graft

import org.apache.spark.sql.DataFrame

/** Invocation-scoped lifetime for eagerly-checkpointed DataFrames.
  *
  * Several operators `localCheckpoint(true)` an intermediate relation that
  * the RETURNED (lazy) plan still references — the blocks ARE the data
  * (checkpointing truncated the lineage), so the operator itself can never
  * unpersist them. Before this registry each invocation leaked its blocks
  * for the session lifetime; a bench run (91 queries × 6 passes) accreted
  * gigabytes of dead cached blocks and the end-of-run queries paid for it
  * in GC/eviction time (the BENCH_r04 pass-5 ANN spikes).
  *
  * Contract: an operator registers each checkpointed df it cannot free
  * itself; the same thread's NEXT query invocation sweeps everything it
  * registered earlier. Registrations are kept per calling thread, so a
  * thread consumes a query's result before it builds its next one
  * (Verify, Bench, Probe and the specs all do), while concurrent callers
  * on one session never free each other's blocks. At most one
  * invocation's blocks are outstanding per thread.
  *
  * Fault-tolerance caveat for cluster deployments: `localCheckpoint`
  * trades lineage for speed — its blocks live on executors with no
  * recompute path, so losing an executor mid-job fails the job (Spark
  * then retries it from the source). That is the right trade for the
  * session-index pattern here (indexes are deterministic rebuilds of
  * cheap intermediate state, and a retry rebuilds them), but a
  * long-lived artifact that must survive executor churn belongs in the
  * RELIABLE persistence paths instead: `atomicParquetArtifact` (the
  * persisted index twins) or `spark.checkpoint` with a checkpoint dir.
  */
object CacheScope {
  private val pending = ThreadLocal.withInitial(() => new java.util.ArrayDeque[DataFrame]())

  /** Track a checkpointed df whose blocks must outlive plan construction,
    * until the calling thread's next [[sweep]]. */
  def register(df: DataFrame): DataFrame = { pending.get.add(df); df }

  /** Deterministically free a checkpointed df's storage NOW.
    *
    * `Dataset.unpersist()` alone is NOT enough: it only drops
    * CacheManager (InMemoryRelation) entries and ignores the RDD-level
    * blocks a localCheckpoint persisted — those would otherwise linger
    * until the GC-driven ContextCleaner reclaims the RDD object, i.e.
    * nondeterministically (the residual flakiness seen after r5's first
    * sweep fix: sweeping only dropped the LAST strong reference and left
    * actual freeing to the garbage collector). Blocking, so the storage
    * is gone before the caller allocates more.
    *
    * CAUTION — this walks the WHOLE analyzed plan and unpersists EVERY
    * LogicalRDD in it, not just "the df's own" checkpoint: pass the
    * checkpoint-ROOT Dataset (what localCheckpoint returned, or a
    * projection over exactly that one checkpoint). A derived plan that
    * JOINS a still-live shared checkpoint (e.g. a session-lifetime index
    * table) would have the shared blocks destroyed — and a checkpoint's
    * lineage is truncated, so later readers fail instead of recomputing.
    */
  def free(df: DataFrame): Unit = {
    try df.unpersist(blocking = true)
    catch { case scala.util.control.NonFatal(_) => () }
    org.apache.spark.sql.graftbridge.GraftBridge.checkpointRdds(df).foreach { r =>
      try r.unpersist(blocking = true)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Free every block the calling thread registered in previous
    * invocations. Safe to call at any point where none of this thread's
    * earlier un-materialized plans is live.
    * Blocking (via [[free]]): the bound ("at most one invocation's blocks
    * outstanding") must hold the moment the next query starts allocating,
    * not eventually — async freeing leaves old blocks competing with the
    * new query for storage memory, which is the exact pressure this
    * registry exists to remove. The wait is a driver→BlockManager
    * round-trip, milliseconds against a query run.
    */
  def sweep(): Unit = {
    val q = pending.get
    var df = q.poll()
    while (df != null) {
      free(df)
      df = q.poll()
    }
  }
}
