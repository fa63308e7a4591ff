package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.sources.Bucketing

/** Co-located bucketed joins: the plan-level proof that two tables
  * bucketed on the same key join WITHOUT a shuffle. */
class BucketingSpec extends AnyFunSuite with SparkSpec with Matchers {

  test("same-bucketed tables join with zero Exchange; unbucketed join shuffles") {
    val sfDir = "/root/testdata/sf0.001"
    val li = Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(20,4)")).as("qty"))
    val o = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))

    Bucketing.writeBucketed(li, "bk_li", Seq("l_orderkey"), 8)
    Bucketing.writeBucketed(o, "bk_o", Seq("l_orderkey"), 8)
    try {
      // co-located: bucket layout satisfies the join's distribution
      val joined = Bucketing.cotableJoin(spark, "bk_li", "bk_o",
        Seq("l_orderkey"))
        .withColumn("x", col("qty") * col("o_totalprice"))
      // disable auto-broadcast so the assertion is about BUCKETING,
      // not about the small fixture fitting a broadcast threshold
      GraftSession.withConf(spark,
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val plan = joined.queryExecution.executedPlan.toString
        plan should include("SortMergeJoin")
        plan should not include "Exchange"
        // control: the same join over the raw (unbucketed) frames HAS
        // an Exchange, and agrees on the result
        val control = li.join(o, Seq("l_orderkey"))
        control.queryExecution.executedPlan.toString should
          include("Exchange")
        joined.count() shouldBe control.count()
        joined.count() should be > 0L
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_li")
      spark.sql("DROP TABLE IF EXISTS bk_o")
    }
  }
}
