package graft.core

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase

class ConcurrentlySpec extends SparkTestBase {

  test("results come back in input order, on at most defaultParallelism threads") {
    val bound = spark.sparkContext.defaultParallelism
    val running, peak = new AtomicInteger(0)
    val out = Concurrently(spark)((0 until bound * 3).map { i => () =>
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      Thread.sleep(30L * (i % 3))
      running.decrementAndGet()
      i * 10
    }: _*)
    assert(out == (0 until bound * 3).map(_ * 10))
    assert(peak.get() <= bound, s"${peak.get()} tasks ran at once on a pool bounded by $bound")
  }

  test("tasks run under the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("concurrently-spec", "concurrently-spec")
    val groups =
      try Concurrently(spark)(Seq.fill(2)(() => sc.getLocalProperty("spark.jobGroup.id")): _*)
      finally sc.clearJobGroup()
    assert(groups == Seq("concurrently-spec", "concurrently-spec"))
  }
}
