package graft

import org.apache.spark.GraftSparkShim

class HarnessSpec extends SparkSpec {
  test("parseCpus: unset means every processor, else a positive integer") {
    assert(Harness.parseCpus(None) ==
      Runtime.getRuntime.availableProcessors)
    assert(Harness.parseCpus(Some("6")) == 6)
    for (bad <- Seq("0", "-1", "abc")) {
      val e = intercept[IllegalArgumentException](
        Harness.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("counters see the jobs, tasks and CPU of a drained action") {
    val sc = spark.sparkContext
    val counters = Harness.counters(spark)
    try {
      val df = spark.range(0, 100000, 1, 4)
      GraftSparkShim.drainListenerBus(sc)
      val before = counters.now
      df.count()
      GraftSparkShim.drainListenerBus(sc)
      val d = counters.now - before
      assert(d.jobs >= 1, d)
      // one partial-count task per range partition, then the one-task
      // final count behind its exchange
      assert(d.stages == 2, d)
      assert(d.tasks == df.rdd.getNumPartitions + 1, d)
      assert(d.cpuNs > 0, d)
    } finally sc.removeSparkListener(counters)
  }

  test("the test session is built by Harness.session") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.unionOutputPartitioning") == "false")
    assert(spark.sessionState.conf.numShufflePartitions == 4)
    assert(spark.sparkContext.master == "local[4]")
  }
}
