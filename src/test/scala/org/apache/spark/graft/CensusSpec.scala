package org.apache.spark.graft

import _root_.graft.{Census, SparkSpec}

/** [[Census.measure]]'s contract. It lives in Spark's package because the
  * listener-attached check reads the `private[spark]` listener bus.
  */
class CensusSpec extends SparkSpec {

  test("Census: one RDD count measures exactly one job") {
    val (n, c) = Census.measure(spark)(spark.range(10).rdd.count())
    assert(n == 10L)
    assert(c.jobs == 1L, c.toString)
  }

  test("Census: counts are complete when measure returns, with no sleep") {
    // 1 job = a 4-task map stage + a 4-task reduce stage; every rep must
    // see all of it, so no event may still be in flight on the bus
    val sc = spark.sparkContext
    for (_ <- 1 to 10) {
      val (_, c) = Census.measure(spark) {
        sc.parallelize(1 to 100, 4).map(x => (x % 3, x)).reduceByKey(_ + _, 4).count()
      }
      assert(c.jobs == 1L && c.stages == 2L && c.tasks == 8L, c.toString)
      assert(c.shuffleWriteBytes > 0L && c.shuffleReadBytes == c.shuffleWriteBytes, c.toString)
      assert(c.taskRunS >= 0.0 && c.taskCpuS > 0.0, c.toString)
    }
  }

  test("Census: a throwing body leaves no listener attached") {
    val bus = spark.sparkContext.listenerBus
    val before = bus.findListenersByClass[Census]().size
    val e = intercept[IllegalStateException] {
      Census.measure(spark) {
        spark.range(10).rdd.count()
        assert(bus.findListenersByClass[Census]().size == before + 1)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(bus.findListenersByClass[Census]().size == before)
  }
}
