package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class GraftSessionSpec extends AnyFunSuite with SparkSpec with Matchers {

  test("the shared test session runs the bench's settings") {
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    spark.conf.get("spark.sql.limit.initialNumPartitions") shouldBe "4"
    spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") shouldBe "64k"
    spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") shouldBe "1048576"
  }

  test("withConf restores a set key and unsets an absent one, on a normal and a throwing exit") {
    val set = "spark.graft.test.withconf.set"
    val absent = "spark.graft.test.withconf.absent"
    GraftSession.withConf(spark, set -> "before") {
      def inScope(): Unit = {
        spark.conf.get(set) shouldBe "inside"
        spark.conf.get(absent) shouldBe "inside"
      }
      GraftSession.withConf(spark, set -> "inside", absent -> "inside")(inScope())
      spark.conf.get(set) shouldBe "before"
      spark.conf.getOption(absent) shouldBe None
      intercept[IllegalStateException] {
        GraftSession.withConf(spark, set -> "inside", absent -> "inside") {
          inScope()
          throw new IllegalStateException("body failed")
        }
      }
      spark.conf.get(set) shouldBe "before"
      spark.conf.getOption(absent) shouldBe None
    }
  }
}
