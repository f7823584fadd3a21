package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Par

/** [[Par.awaitAll]], the engine's one overlap primitive: results in task
  * order, one task inline, bounded width, no task outliving the call,
  * and every failure reported.
  */
class ParSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.runtime.GraftSession
    .builder("graft-test", "8").getOrCreate()

  test("results come back in task order") {
    assert(spark.sparkContext.defaultParallelism > 1)
    // later tasks finish first
    val out = Par.awaitAll((0 until 6).map(i => () => { Thread.sleep((6 - i) * 20L); i }))
    assert(out == (0 until 6))
  }

  test("a single task runs on the caller's thread") {
    val caller = Thread.currentThread
    assert(Par.awaitAll(Seq(() => Thread.currentThread)) == Seq(caller))
  }

  test("peak concurrency never exceeds min(tasks, defaultParallelism)") {
    val dp = spark.sparkContext.defaultParallelism
    for (n <- Seq(3, dp + 4)) {
      val running = new AtomicInteger(0)
      val peak = new AtomicInteger(0)
      Par.awaitAll((0 until n).map(_ => () => {
        peak.accumulateAndGet(running.incrementAndGet(), (a: Int, b: Int) => math.max(a, b))
        Thread.sleep(50)
        running.decrementAndGet()
      }))
      assert(peak.get <= math.min(n, dp), s"n=$n: peak ${peak.get} > min($n, $dp)")
      assert(peak.get > 1, s"n=$n: tasks never overlapped")
    }
  }

  test("a failure is rethrown only after every sibling's Spark job has ended") {
    val prop = "graft.parspec.case"
    val ours = ConcurrentHashMap.newKeySet[Int]()
    val ended = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(prop) == "fail-wait")) ours.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)
    }
    spark.sparkContext.addSparkListener(listener)
    // the pool's threads inherit the caller's local properties: the
    // sibling's job is tagged without the task setting anything
    spark.sparkContext.setLocalProperty(prop, "fail-wait")
    val siblingWaiting = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val boom = new IllegalStateException("task 0 failed")
    try {
      val thrown = intercept[IllegalStateException](Par.awaitAll(Seq(
        () => {
          assert(siblingWaiting.await(30, TimeUnit.SECONDS))
          release.countDown()
          throw boom
        },
        () => {
          siblingWaiting.countDown()
          assert(release.await(30, TimeUnit.SECONDS))
          // a job that outlasts task 0's failure by a wide margin
          spark.range(0, 4, 1, 4).rdd.foreach(_ => Thread.sleep(400))
        })))
      val returnedAt = System.currentTimeMillis()
      assert(thrown eq boom)
      // listener delivery is asynchronous: wait for the events, then
      // check that the job had ended before the call returned
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while ((ours.isEmpty || !ended.keySet.containsAll(ours)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(!ours.isEmpty, "the sibling's job never started")
      assert(ended.keySet.containsAll(ours), s"jobs $ours started but never ended")
      ours.forEach(id => assert(ended.get(id) <= returnedAt,
        s"job $id ended at ${ended.get(id)}, after awaitAll returned at $returnedAt"))
    } finally {
      spark.sparkContext.setLocalProperty(prop, null)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("a later failure is attached to the first as suppressed") {
    assert(spark.sparkContext.defaultParallelism > 1)
    val first = new RuntimeException("task 0")
    val second = new IllegalArgumentException("task 2")
    val thrown = intercept[RuntimeException](Par.awaitAll(Seq(
      () => { Thread.sleep(100); throw first },
      () => 1,
      () => throw second)))
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSeq == Seq(second))
  }
}
