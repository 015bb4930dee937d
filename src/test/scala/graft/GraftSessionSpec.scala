package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("withConf sets the key inside the body and restores an explicitly set value") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.getAll(key)
    val inside = GraftSession.withConf(spark, key -> "13")(spark.conf.get(key))
    assert(inside == "13")
    assert(spark.conf.getAll.get(key).contains(before))
  }

  test("withConf unsets a key that was not explicitly set before") {
    val key = "graft.test.withConf.unset"
    assert(!spark.conf.getAll.contains(key))
    val inside = GraftSession.withConf(spark, key -> "on")(spark.conf.get(key))
    assert(inside == "on")
    assert(!spark.conf.getAll.contains(key), spark.conf.getOption(key))
  }

  test("withConf restores the conf when the body throws") {
    val set = "spark.sql.shuffle.partitions"
    val before = spark.conf.getAll(set)
    val unset = "graft.test.withConf.throws"
    intercept[IllegalStateException] {
      GraftSession.withConf(spark, set -> "7") {
        GraftSession.withConf(spark, unset -> "x") {
          throw new IllegalStateException("boom")
        }
      }
    }
    assert(spark.conf.getAll.get(set).contains(before))
    assert(!spark.conf.getAll.contains(unset))
  }
}
