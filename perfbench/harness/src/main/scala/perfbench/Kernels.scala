package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.functions.{ArrayDot, Md5Hash, WordNgrams}

/** Times graft's native kernels by calling them directly on a fixed
  * sample, outside any Spark job: the first 2,000 documents and 500
  * embeddings by id of the tables in `sample` (`gen_data.kernel_sample`:
  * sf0.1's generator with seed 0, whatever the run's seed and workload).
  * Each kernel loops over the sample `Reps` times inside one span; the
  * span carries the bytes (or pairs) processed, so the traced report is
  * time per unit. */
object Kernels {
  val Reps = 5

  def run(spark: SparkSession, sample: String): Unit = {
    import spark.implicits._
    val texts = Tables.documents(spark, sample).orderBy("doc_id").limit(2000)
      .select("text").as[String].collect().map(UTF8String.fromString)
    val vecs = Tables.embeddings(spark, sample).orderBy("vec_id").limit(500)
      .select("embedding").as[Array[Float]].collect()
      .map(a => UnsafeArrayData.fromPrimitiveArray(a))
    val textBytes = texts.map(_.numBytes.toLong).sum
    var sink = 0L

    def timed(name: String, units: Long)(body: => Unit): Unit = {
      body // one untimed rep, so the loop runs compiled code
      val s = Trace.begin(name, -1)
      var i = 0
      while (i < Reps) { body; i += 1 }
      s.units = units * Reps
      Trace.end(s)
    }

    timed("kernel.word_ngrams", textBytes) {
      texts.foreach(t => sink += WordNgrams.compute(t, 3).numElements())
    }
    timed("kernel.md5_prefix", textBytes) {
      texts.foreach(t => sink += Md5Hash.prefixLong(t, 0, ""))
    }
    timed("kernel.array_dot", vecs.length.toLong * vecs.length) {
      vecs.foreach(a => vecs.foreach(b => sink += ArrayDot.compute(a, true, b, true).longValue))
    }
    if (sink == 42L) System.err.println("") // keeps the loops observable
  }
}
