package graft

import org.apache.spark.sql.functions._
import graft.sources.Io

/** Bucketed-table co-located join: the pay-shuffle-once-at-ingest layout.
  * Both sides bucketed on the join key with the same bucket count must
  * join with no exchange in the plan.
  */
class BucketingSpec extends SparkSpec {

  test("same-bucketed tables join with zero shuffle") {
    Seq("orders_b", "customer_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"/tmp/graft_warehouse/$t"))
    }
    Io.writeBucketed(Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice"),
      "orders_b", "o_custkey", 4)
    Io.writeBucketed(Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_mktsegment"),
      "customer_b", "c_custkey", 4)

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      val p = plan(joined)
      assert(!p.contains("Exchange"), s"expected a shuffle-free co-located join:\n$p")
      assert(joined.count() == spark.table("orders_b").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partition pruning: a filter on the partition column prunes the scan") {
    val dir = java.nio.file.Files.createTempDirectory("part_prune").toString
    try {
      Io.writePartitioned(Tables.orders(spark, sfDir)
        .select("o_orderkey", "o_totalprice", "o_orderpriority"),
        dir, Seq("o_orderpriority"))
      val df = spark.read.parquet(dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val p = plan(df)
      assert(p.contains("PartitionFilters") && p.contains("o_orderpriority"))
      assert(df.count() > 0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
