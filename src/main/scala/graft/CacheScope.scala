package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** The one owner of what a query invocation materializes: checkpoint
  * blocks and scratch dirs that the returned (lazy) plan still reads, so
  * the operator that made them cannot free them itself.
  *
  *  - [[checkpoint]] eagerly `localCheckpoint`s a frame and registers its
  *    blocks. The blocks ARE the data: the lineage is truncated.
  *  - [[scratch]] hands out a fresh dir under `Io.scratch` and registers
  *    it. No two calls share one, across threads and JVMs alike.
  *  - [[sweep]] runs every registration the calling thread made: it
  *    unpersists the blocks and deletes the dirs. `SparkEntry.queries`
  *    sweeps before each build, so a query's state lives until the same
  *    thread's next query.
  *  - [[free]] unpersists one checkpoint's blocks now.
  *
  * Registrations are kept per calling thread. A thread consumes a query's
  * result before it builds its next one (Verify, Bench, Probe and the
  * specs all do), and concurrent callers on one session never free each
  * other's state. At most one invocation's state is outstanding per
  * thread; what the JVM's threads still hold at exit is deleted then.
  *
  * Owners that free their own states (`Fixpoint`'s rounds, `IndexCache`
  * entries, `TextOps.bpeMerges`' vocabulary loop) checkpoint through
  * [[unscoped]] and free with [[free]]; `Fixpoint` hands its final state
  * to the scope with [[adopt]].
  *
  * Fault tolerance: `localCheckpoint` blocks have no recompute path, so
  * losing an executor fails the job (Spark retries it from the source).
  * An artifact that must survive executor churn belongs in
  * `Io.atomicParquetArtifact` instead.
  */
object CacheScope {
  private val pending = ThreadLocal.withInitial(() => new java.util.ArrayDeque[() => Unit]())

  private def register(release: () => Unit): Unit = pending.get.add(release)

  /** `df` eagerly checkpointed, freed at the calling thread's next [[sweep]]. */
  def checkpoint(df: DataFrame, storage: StorageLevel = MEMORY_AND_DISK): DataFrame =
    adopt(unscoped(df, storage))

  /** `df` eagerly checkpointed and NOT registered: the caller frees it. */
  private[graft] def unscoped(df: DataFrame, storage: StorageLevel = MEMORY_AND_DISK): DataFrame =
    df.localCheckpoint(true, storage)

  /** Register an [[unscoped]] checkpoint root, handing it to the scope. */
  private[graft] def adopt(checkpointed: DataFrame): DataFrame = {
    register(() => free(checkpointed))
    checkpointed
  }

  /** This JVM's dir under `Io.scratch` that holds every [[scratch]] dir;
    * deleted with whatever it still holds when the JVM exits. */
  private[graft] lazy val scratchRoot: Path = {
    val root = Files.createTempDirectory(
      Files.createDirectories(Paths.get(graft.sources.Io.scratch)), "run-")
    sys.addShutdownHook(FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** A fresh empty dir named after `kind`, deleted at the calling
    * thread's next [[sweep]]. */
  def scratch(kind: String): String = {
    val dir = Files.createTempDirectory(scratchRoot, kind + "-").toFile
    register(() => FileUtils.deleteQuietly(dir))
    dir.getAbsolutePath
  }

  /** Free a checkpointed df's storage NOW, blocking. `Dataset.unpersist()`
    * alone leaves the RDD blocks a localCheckpoint persisted to the
    * GC-driven ContextCleaner, so each checkpoint RDD is unpersisted too.
    *
    * CAUTION — this unpersists EVERY LogicalRDD in the analyzed plan:
    * pass the checkpoint ROOT (what [[unscoped]] returned, or a
    * projection over exactly that one checkpoint). A derived plan that
    * JOINS a still-live shared checkpoint (e.g. a session index table)
    * would destroy the shared blocks, and with its lineage truncated a
    * later reader fails instead of recomputing.
    */
  def free(df: DataFrame): Unit = {
    try df.unpersist(blocking = true)
    catch { case scala.util.control.NonFatal(_) => () }
    org.apache.spark.sql.graftbridge.GraftBridge.checkpointRdds(df).foreach { r =>
      try r.unpersist(blocking = true)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Free every checkpoint and delete every scratch dir the calling
    * thread registered; safe wherever none of its earlier results is
    * still to be consumed. Blocking (via [[free]]), so the bound holds
    * the moment the next query starts allocating. */
  def sweep(): Unit = {
    val q = pending.get
    Iterator.continually(q.poll()).takeWhile(_ != null).foreach(_())
  }
}
