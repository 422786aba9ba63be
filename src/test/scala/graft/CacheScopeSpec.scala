package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** CacheScope keeps each calling thread's checkpoint registrations
  * apart: a second caller's build sweeps only its own thread's blocks,
  * never the blocks another thread's unconsumed result still reads.
  */
class CacheScopeSpec extends SparkSpec {

  test("a concurrent caller's build does not free another caller's checkpoints") {
    val soloA = run("graph_triangles").collect().toSeq
    val soloB = run("sim_knn_join").collect().toSeq
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val aBuilt = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    try {
      // A builds, then waits while B builds and collects, then collects
      val a = Future {
        val df = try run("graph_triangles") finally aBuilt.countDown()
        bDone.await(5, TimeUnit.MINUTES)
        try df.collect().toSeq finally CacheScope.sweep()
      }
      val b = Future {
        try {
          aBuilt.await(5, TimeUnit.MINUTES)
          try run("sim_knn_join").collect().toSeq finally CacheScope.sweep()
        } finally bDone.countDown()
      }
      assert(Await.result(b, 10.minutes) == soloB)
      assert(Await.result(a, 10.minutes) == soloA)
    } finally pool.shutdown()
  }
}
