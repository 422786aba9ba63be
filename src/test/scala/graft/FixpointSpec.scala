package graft

import graft.operators.{Dedup, Similarity}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.GraftBridge
import scala.jdk.CollectionConverters._

/** Block lifetimes of the iterative operators driven by [[Fixpoint]]:
  * each checkpointed round is unpersisted exactly once, and a loop
  * leaves only its final state behind.
  */
class FixpointSpec extends SparkSpec {

  /** The ids of RDDs `RDD.unpersist` warned about while `body` ran. Spark
    * logs that warning on EVERY call for a locally checkpointed RDD (the
    * GC-driven ContextCleaner unpersists without it), so an id seen twice
    * was unpersisted twice. */
  private def unpersistedIds(body: => Unit): Seq[Int] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("fixpoint-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val logger = new LoggerConfig("org.apache.spark.rdd", Level.WARN, true)
    logger.addAppender(appender, Level.WARN, null)
    cfg.addLogger(logger.getName, logger)
    ctx.updateLoggers()
    try body
    finally {
      cfg.removeLogger(logger.getName)
      ctx.updateLoggers()
      appender.stop()
    }
    val line = """RDD (\d+) was locally checkpointed""".r.unanchored
    seen.asScala.toSeq.collect { case line(id) => id.toInt }
  }

  test("every fixpoint checkpoint is unpersisted exactly once") {
    val s = spark
    import s.implicits._
    CacheScope.sweep()
    val ids = unpersistedIds {
      run("graph_bfs").collect()
      run("graph_kcore").collect()
      val nodes = (0L until 30L).toDF("id")
      val chain = (0L until 29L).map(i => (i, i + 1)).toDF("a", "b")
      Dedup.connectedComponentsStar(nodes, "id", chain, "a", "b").collect()
      CacheScope.sweep()
    }
    assert(ids.nonEmpty, "no checkpoint was unpersisted")
    val twice = ids.groupBy(identity).collect { case (id, n) if n.size > 1 => id }
    assert(twice.isEmpty, s"unpersisted more than once: ${twice.toSeq.sorted.mkString(", ")}")
  }

  /** `build`'s result, collected, and the RDD ids newly listed in the
    * storage info by building and collecting it (before any sweep). */
  private def newlyListed(build: => DataFrame): (DataFrame, Set[Int]) = {
    def listed(): Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = listed()
    val df = build
    df.collect()
    (df, listed() -- before)
  }

  private def checkpoints(df: DataFrame): Set[Int] =
    GraftBridge.checkpointRdds(df).map(_.id).toSet

  private def embeddings = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")

  private def graph(e: DataFrame): DataFrame =
    Similarity.knnGraph(e, "vec_id", "embedding", k = Similarity.graphK,
      rounds = 2, tabs = Similarity.annTabs, bucketCap = Similarity.graphInitCap)

  test("knnGraph frees every superseded round before it returns") {
    CacheScope.sweep()
    try {
      val (g, listed) = newlyListed(graph(embeddings))
      // the final graph plus the normalized vectors knnGraph checkpointed
      val fin = checkpoints(g)
      assert(fin.size == 1 && fin.subsetOf(listed) && listed.size == 2,
        s"knnGraph left $listed; final $fin")
    } finally CacheScope.sweep()
  }

  test("graphSearch frees every superseded beam before it returns") {
    CacheScope.sweep()
    try {
      val e = embeddings
      val g = graph(e)
      g.collect()
      val (hits, listed) = newlyListed(Similarity.graphSearch(e, "vec_id", "embedding",
        g, col("vec_id") < 10, beam = Similarity.graphBeam, hops = Similarity.graphHops,
        k = Similarity.graphTopK, tabs = Similarity.annTabs,
        bucketCap = Similarity.graphInitCap))
      // the final beam plus the bucket table graphSearch checkpointed
      val fin = checkpoints(hits)
      assert(fin.size == 1 && fin.subsetOf(listed) && listed.size == 2,
        s"graphSearch left $listed; final $fin")
    } finally CacheScope.sweep()
  }
}
