package graft

import java.sql.{Date, Timestamp}

import graft.functions.{ParamLiteral, ParamLiterals}
import graft.operators.Events
import graft.operators.Relational._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, Expression, Literal, Remainder}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Request values stay out of generated code: an AutoAPI list shape built
  * again with new numeric values reuses the compiled classes of the first
  * build, returns the same rows a Scala-side filter does, and still pushes
  * and prints its values like plain literals.
  */
class ParamLiteralSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `call(first)` to warm the shape, then `call(second)`; asserts the
    * second build plus collect compiled no class, and returns it. */
  private def warmThenReuse[A](call: A => DataFrame)(first: A, second: A): (DataFrame, Seq[Row]) = {
    call(first).collect()
    val before = compiles
    val df = call(second)
    val rows = df.collect().toSeq
    assert(compiles - before == 0, s"second build of the same shape compiled ${compiles - before} classes")
    (df, rows)
  }

  private def executedExprs(df: DataFrame): Seq[Expression] =
    collect(df.queryExecution.executedPlan) {
      case f: FilterExec => Seq(f.condition)
      case p: ProjectExec => p.projectList
      case t: TakeOrderedAndProjectExec => t.projectList
    }.flatten

  /** The filters the parquet scans were handed, untruncated. */
  private def pushed(df: DataFrame): String =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metadata("PushedFilters")
    }.mkString(" ")

  /** Every executed filter and projection holds ParamLiterals, and its
    * expressions print exactly as they would with the plain literals. */
  private def paramsPrintAsLiterals(df: DataFrame): Unit = {
    val exprs = executedExprs(df)
    val params = exprs.flatMap(_.collect { case p: ParamLiteral => p })
    assert(params.nonEmpty, "no ParamLiteral in the executed plan")
    exprs.foreach { e =>
      val plain = e.transform { case ParamLiteral(v, t) => Literal(v, t) }
      assert(e.toString == plain.toString && e.sql == plain.sql)
    }
  }

  /** Spark's double ordering: NaN equals NaN and sorts above everything. */
  private def cmp(a: Double, b: Double): Int = if (a == b) 0 else java.lang.Double.compare(a, b)

  private def sameRows(got: Seq[Row], want: Seq[Row]): Unit =
    assert(got.map(_.toString).sorted == want.map(_.toString).sorted)

  private lazy val orders = Tables.orders(spark, sfDir)
    .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
  private lazy val allOrders = orders.collect().toSeq

  test("filterRange on double and timestamp bounds reuses its classes, NaN bound included") {
    val prices = allOrders.map(_.getDouble(2)).sorted
    def call(b: (Double, Double, Timestamp, Timestamp)): DataFrame =
      filterRange(filterRange(orders, "o_totalprice", Some(b._1), Some(b._2)),
        "o_orderdate", Some(b._3), Some(b._4))
    val first = (prices(prices.size / 4), prices(prices.size / 2),
      Timestamp.valueOf("1993-01-01 00:00:00"), Timestamp.valueOf("1996-06-30 00:00:00"))
    val second = (prices(prices.size / 3), Double.NaN,
      Timestamp.valueOf("1994-03-01 00:00:00"), Timestamp.valueOf("1997-12-31 00:00:00"))
    val (df, rows) = warmThenReuse(call)(first, second)

    val (lo, hi, from, to) = second
    val want = allOrders.filter { r =>
      val p = r.getDouble(2); val t = r.getTimestamp(3)
      cmp(p, lo) >= 0 && cmp(p, hi) <= 0 && !t.before(from) && !t.after(to)
    }
    assert(want.nonEmpty)
    sameRows(rows, want)

    val pf = pushed(df)
    assert(pf.contains(s"GreaterThanOrEqual(o_totalprice,$lo)") &&
      pf.contains("LessThanOrEqual(o_totalprice,NaN)") &&
      pf.contains(s"GreaterThanOrEqual(o_orderdate,$from)"), pf)
    val p = plan(df)
    assert(s"""o_totalprice#\\d+ >= $lo\\)""".r.findFirstIn(p).nonEmpty &&
      """o_totalprice#\d+ <= NaN\)""".r.findFirstIn(p).nonEmpty, p)
    paramsPrintAsLiterals(df)
  }

  test("recoverLinks on a long FK range reuses its classes") {
    val customers = Tables.customer(spark, sfDir)
    val names = customers.select("c_custkey", "c_name", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    def call(b: (Long, Long)): DataFrame =
      recoverLinks(filterRange(orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        "o_custkey", Some(b._1), Some(b._2)),
        customers, "o_custkey", "c_custkey", Seq("c_name", "c_mktsegment"))
    val (df, rows) = warmThenReuse(call)((10L, 40L), (55L, 90L))

    val want = allOrders.filter(r => r.getLong(1) >= 55L && r.getLong(1) <= 90L).map { r =>
      val c = names.get(r.getLong(1))
      Row(r.getLong(0), r.getLong(1), r.getDouble(2), c.map(_._1).orNull, c.map(_._2).orNull)
    }
    assert(want.nonEmpty)
    sameRows(rows, want)
    val pf = pushed(df)
    assert(pf.contains("GreaterThanOrEqual(o_custkey,55)") && pf.contains("LessThanOrEqual(o_custkey,90)"), pf)
    paramsPrintAsLiterals(df)
  }

  test("Events.recent on an int user bound reuses its classes") {
    val events = Tables.events(spark, sfDir)
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    def call(b: (String, Int, Int)): DataFrame =
      Events.recent(events, col("event_type") === b._1 && col("user_id") < b._2, "ts", "event_id", b._3)
        .select(cols.map(col): _*)
    val (df, rows) = warmThenReuse(call)(("view", 40, 20), ("click", 75, 50))

    val want = events.select(cols.map(col): _*).collect().toSeq
      .filter(r => r.getString(3) == "click" && r.getLong(2) < 75L)
      .sortBy(r => (-r.getTimestamp(1).getTime, -r.getTimestamp(1).getNanos, r.getLong(0)))
      .take(50)
    assert(want.nonEmpty)
    assert(rows.map(_.toString) == want.map(_.toString))
    paramsPrintAsLiterals(df)
  }

  test("filterEq on a date reuses its classes") {
    val byDay = orders.withColumn("o_day", to_date(col("o_orderdate")))
    val all = byDay.collect().toSeq
    val days = all.map(_.getDate(4)).distinct.sortBy(_.getTime)
    val (d1, d2) = (days.head, days.last)
    val (df, rows) = warmThenReuse((d: Date) => filterEq(byDay, Map("o_day" -> d)))(d1, d2)

    val want = all.filter(_.getDate(4) == d2)
    assert(want.nonEmpty)
    sameRows(rows, want)
    paramsPrintAsLiterals(df)
  }

  test("orderPageEnvelope's total and pages reach its page as references, on any page") {
    def call(page: Int)(priority: String): DataFrame =
      orderPageEnvelope(filterEq(Tables.orders(spark, sfDir), Map("o_orderpriority" -> priority))
        .select("o_orderkey", "o_totalprice"), "o_totalprice", asc = false, "o_orderkey", page, 10)
    val total = Tables.orders(spark, sfDir).filter(col("o_orderpriority") === "5-LOW").count()
    assert(total > 20)
    // page 0 plans a TakeOrderedAndProject that projects total/pages
    // itself; a later page projects them in a Project above the offset
    for (page <- Seq(0, 1)) {
      val (df, rows) = warmThenReuse(call(page))("1-URGENT", "5-LOW")
      assert(rows.size == 10)
      assert(rows.forall(r => r.getLong(2) == total && r.getLong(3) == (total + 9) / 10))
      paramsPrintAsLiterals(df)
    }
  }

  test("every inlined type compiles and compares like its literal") {
    val day0 = java.time.LocalDate.of(2020, 1, 1)
    val ids = spark.range(0, 100).toDF("id")
    val cases = Seq(
      "int" -> lit(41), "bigint" -> lit(41L), "smallint" -> lit(41.toShort),
      "tinyint" -> lit(41.toByte), "float" -> lit(41.0f), "double" -> lit(41.0))
      .map { case (t, v) => (col("id").cast(t), v) } ++ Seq(
      (date_add(lit(day0), col("id").cast("int")), lit(Date.valueOf(day0.plusDays(41)))),
      (timestamp_seconds(col("id")), lit(new Timestamp(41000L))),
      (timestamp_seconds(col("id")).cast("timestamp_ntz"), lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0, 41))))
    cases.foreach { case (x, v) =>
      val df = ids.select(x.as("x")).filter(col("x") > v)
      assert(df.collect().length == 58, df.queryExecution.executedPlan)
      paramsPrintAsLiterals(df)
    }
  }

  test("the rule leaves arithmetic constants inline and rebuilds nothing twice") {
    val df = orders.filter((col("o_orderkey") % 7) === 3 && col("o_totalprice") > col("o_custkey") + 1)
      .withColumn("k", lit(5L))
    df.collect()
    val exprs = executedExprs(df)
    val rem = exprs.flatMap(_.collect { case r: Remainder => r })
    assert(rem.nonEmpty && rem.forall(_.right.isInstanceOf[Literal]))
    assert(exprs.flatMap(_.collect { case a: Add => a }).forall(!_.right.isInstanceOf[ParamLiteral]))
    assert(exprs.exists(_.collect { case Alias(ParamLiteral(5L, _), "k") => true }.nonEmpty))
    val physical = df.queryExecution.sparkPlan
    val once = ParamLiterals(physical)
    assert(ParamLiterals(once) eq once)
    assert(!ParamLiteral(1, org.apache.spark.sql.types.IntegerType).foldable)
  }
}
