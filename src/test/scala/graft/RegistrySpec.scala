package graft

import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {

  test("a query name registered twice fails registry construction, naming it") {
    val q = Query("q_twice", Grain.Answer, "SELECT 1 AS x", (s, _) => s.range(1).toDF("x"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.byName(Seq(q, q.copy(grain = Grain.Corpus)))
    }
    assert(e.getMessage.contains("q_twice"), e.getMessage)
  }
}
