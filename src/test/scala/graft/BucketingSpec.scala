package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Bucketing

class BucketingSpec extends AnyFunSuite with SparkTestBase {

  test("bucketed-by-join-key tables join with zero exchanges") {
    val base = Files.createTempDirectory("graft-buckets").toString
    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    Bucketing.writeBucketed(lineitem, "li_b", "l_orderkey", 8, s"$base/li")
    Bucketing.writeBucketed(
      orders.withColumnRenamed("o_orderkey", "l_orderkey"), "ord_b", "l_orderkey", 8, s"$base/ord")
    try {
      // disable auto-broadcast so the test exercises the bucketed path,
      // not a broadcast join that would trivially have no shuffle
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = Bucketing.readBucketed(spark, "li_b")
          .join(Bucketing.readBucketed(spark, "ord_b"), "l_orderkey")
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join must not shuffle:\n$plan")
        // and it is still correct
        val expected = lineitem.join(
          orders.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey").count()
        assert(joined.count() == expected)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }
}
