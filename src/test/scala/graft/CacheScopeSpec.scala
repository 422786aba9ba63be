package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** CacheScope keeps each calling thread's registrations apart: a second
  * caller's build sweeps only its own thread's checkpoints and scratch
  * dirs, never the state another thread's unconsumed result still reads.
  */
class CacheScopeSpec extends SparkSpec {

  /** A builds `qa`, then waits while B builds and collects `qb`, then A
    * collects; both must equal the single-thread answers. */
  private def interleaved(qa: String, qb: String): Unit = {
    val soloA = run(qa).collect().toSeq
    val soloB = run(qb).collect().toSeq
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val aBuilt = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    try {
      val a = Future {
        val df = try run(qa) finally aBuilt.countDown()
        bDone.await(5, TimeUnit.MINUTES)
        try df.collect().toSeq finally CacheScope.sweep()
      }
      val b = Future {
        try {
          aBuilt.await(5, TimeUnit.MINUTES)
          try run(qb).collect().toSeq finally CacheScope.sweep()
        } finally bDone.countDown()
      }
      assert(Await.result(b, 10.minutes) == soloB)
      assert(Await.result(a, 10.minutes) == soloA)
    } finally pool.shutdown()
  }

  test("a concurrent caller's build does not free another caller's checkpoints") {
    interleaved("graph_triangles", "sim_knn_join")
  }

  test("a concurrent caller's build does not overwrite another caller's scratch dir") {
    Seq("etl_pipeline_e2e", "src_jsonlines_file").foreach(q => interleaved(q, q))
  }
}
