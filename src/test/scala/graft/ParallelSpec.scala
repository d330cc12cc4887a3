package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class ParallelSpec extends SparkSpec {

  test("results come back in task order") {
    assert(Parallel.all(() => 1, () => 2, () => 3) == Seq(1, 2, 3))
  }

  test("every task runs to completion even when one fails") {
    val done = new AtomicInteger
    intercept[IllegalStateException] {
      Parallel.all(
        () => throw new IllegalStateException("fails at once"),
        () => { Thread.sleep(200); done.incrementAndGet(); () },
        () => { done.incrementAndGet(); () })
    }
    assert(done.get == 2)
  }

  test("the first failure in task order is rethrown, the rest suppressed") {
    val e = intercept[IllegalStateException] {
      Parallel.all(
        () => (),
        // fails last in time, but first in task order
        () => { Thread.sleep(200); throw new IllegalStateException("a") },
        () => throw new IllegalArgumentException("b"),
        () => throw new UnsupportedOperationException("c"))
    }
    assert(e.getMessage == "a")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("b", "c"))
  }

  test("a fatal error is rethrown, not swallowed") {
    val ran = new AtomicInteger
    val e = intercept[StackOverflowError] {
      Parallel.all(() => { ran.incrementAndGet(); () },
        () => throw new StackOverflowError("fatal"))
    }
    assert(e.getMessage == "fatal" && ran.get == 1)
  }

  test("jobs submitted inside a task carry the caller's local properties") {
    val sc = spark.sparkContext
    val tagKey = "graft.parallel.spec"
    val seen = new ConcurrentLinkedQueue[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        seen.add((p.map(_.getProperty("spark.job.description")).orNull,
          p.map(_.getProperty(tagKey)).orNull))
      }
    }
    // two calls under different properties: each call's fresh threads
    // copy the caller's properties as they stand at that call
    def jobsUnder(tag: String): Seq[(String, String)] = {
      sc.setJobDescription(s"desc-$tag")
      sc.setLocalProperty(tagKey, tag)
      try Parallel.all(() => spark.range(10).count(),
        () => spark.range(20).count())
      finally {
        sc.setJobDescription(null)
        sc.setLocalProperty(tagKey, null)
      }
      GraftSparkShim.drainListenerBus(sc)
      val jobs = seen.asScala.toSeq
      seen.clear()
      jobs
    }
    sc.addSparkListener(listener)
    try {
      GraftSparkShim.drainListenerBus(sc)
      seen.clear()
      for (tag <- Seq("one", "two")) {
        val jobs = jobsUnder(tag)
        assert(jobs.size >= 2)
        assert(jobs.forall(_ == ((s"desc-$tag", tag))), jobs)
      }
    } finally sc.removeSparkListener(listener)
  }
}
