package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** In-memory spans and scheduler records of one traced run; written out
  * as JSON when the run ends. */
object Trace {
  /** Span `parent` is -1 for a root. Times are epoch microseconds, so
    * they line up with the listener's job times (epoch milliseconds). */
  final case class Span(id: Int, parent: Int, name: String, call: Int,
                        startUs: Long, var endUs: Long = 0L, var codegen: Long = 0L,
                        var units: Long = 0L)

  /** Off: spans cost nothing and record nothing. */
  @volatile var enabled = false
  private val off = Span(-1, -1, "", -1, 0L)

  /** Janino compilations so far (Spark's codegen metrics source). */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileMeanMs: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean

  /** The running SparkContext, once the session is up (spans opened
    * before it exists carry no job property). */
  @volatile var sc: Option[org.apache.spark.SparkContext] = None

  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowUs: Long = (System.nanoTime() + epochNs) / 1000L

  val spans = ArrayBuffer[Span]()
  private val open = scala.collection.mutable.Stack[Span]()

  /** Span property jobs carry, so the listener can give each job the span
    * that was open when it was submitted. */
  val SpanProperty = "perfbench.span"

  def begin(name: String, call: Int): Span = if (!enabled) off else {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, call, nowUs)
    spans += s
    open.push(s)
    sc.foreach(_.setLocalProperty(SpanProperty, s.id.toString))
    s
  }

  def end(s: Span): Unit = if (s.id >= 0) {
    s.endUs = nowUs
    open.pop()
    sc.foreach(_.setLocalProperty(SpanProperty,
      open.headOption.map(_.id.toString).orNull))
  }

  def span[T](name: String, call: Int)(f: => T): T = {
    val s = begin(name, call)
    try f finally end(s)
  }

  final case class Job(id: Int, span: Int, startMs: Long, var endMs: Long = 0L,
                       stages: Seq[Int] = Nil)
  final class StageAgg(val stage: Int) {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var completed = false
  }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()

  /** Records every job, stage and task while registered. */
  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, Job(e.jobId, span, e.time, 0L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.computeIfAbsent(e.stageInfo.stageId, new StageAgg(_)).completed = true
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent(e.stageId, new StageAgg(_))
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.runMs += m.executorRunTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
        }
      }
    }
  }
}
