package graft
import scala.collection.mutable.LinkedHashMap
import scala.util.control.NonFatal

/** Benchmark entry: times every SparkEntry query at the sf dir given by
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Harness hygiene (VERDICT r1 "What's wrong" #2–3):
  *  - queries run in stable insertion order (SparkEntry.queries is a ListMap);
  *  - an untimed warmup pass absorbs JVM, codegen and first-scan startup
  *    (class loading, the parquet reader, the OS file cache) so no
  *    query's number is warmup-dominated;
  *  - a query that throws records {"err": ...} and forces a nonzero exit
  *    instead of masquerading as a fast run.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)

    // Warmup: exercise the JVM, codegen, shuffle machinery, and one full
    // scan of every table, untimed.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // NonFatal only, and reported: an OOM must not be warmed through
    def warmFailed(what: String, e: Throwable): Unit =
      System.err.println(s"[bench] warm-up $what failed: $e")
    Tables.names.foreach { t =>
      try Tables(spark, sfDir, t).count()
      catch { case NonFatal(e) => warmFailed(s"table $t", e) }
    }
    // Then run the FULL suite once at the smallest sf, untimed. The
    // expression trees are sf-independent, so this compiles the same
    // generated classes and JIT-warms the same interpreted paths
    // (JsonToStructs/Jackson above all) that the timed run hits. Without
    // it, whichever JSON-heavy query runs first after ~17 relational
    // queries pays the C2 compile-queue lag — a measured, NONDETERMINISTIC
    // 10-20x penalty on that one query (90+ s at sf0.1) that corrupts
    // round-over-round comparison.
    val warmDir = new java.io.File(new java.io.File(sfDir).getParentFile,
      "sf0.001")
    if (warmDir.isDirectory) {
      SparkEntry.queries.foreach { case (name, fn) =>
        try fn(spark, warmDir.getPath).count()
        catch { case NonFatal(e) => warmFailed(name, e) }
      }
    }

    // Noise-immune companion metric: co-tenant load bursts inflate wall
    // time but barely move executor CPU (PLANS.md round-3/4 findings), so
    // each query also reports the executorCpuTime of its best pass.
    val counters = Harness.counters(spark)

    val times = LinkedHashMap[String, Double]()
    val cpuSecs = LinkedHashMap[String, Double]()
    val errors = LinkedHashMap[String, String]()
    // Three timed passes, keep the per-query MIN: the shared host shows
    // multi-minute co-tenant load bursts (load avg 3→7 with zero local
    // processes) that inflate a single pass 2-10x; BENCH_r03 measured a
    // burst spanning BOTH passes of a min-of-2 (q64 79 s recorded vs 2 s
    // reproduced on a quiet host). A third pass costs ~1 suite-minute and
    // survives any burst shorter than two full passes.
    for (_ <- 1 to 3) SparkEntry.queries.foreach { case (name, fn) =>
      // Local-mode hygiene: broadcast/shuffle blocks from earlier queries
      // are reclaimed by the ContextCleaner only after a driver GC; left
      // alone they pile up in the shared JVM and cause multi-x timing
      // swings on later queries. GC between queries, untimed.
      System.gc()
      // real listener-bus drain on both sides of the measurement: under
      // load, task-end events outlive any fixed sleep and leak one
      // query's CPU into the next (same mechanism as Harness.timedPasses)
      org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
      val c0 = counters.now.cpuNs
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        if (times.get(name).forall(dt < _)) {
          times(name) = dt
          org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
          cpuSecs(name) = (counters.now.cpuNs - c0) / 1e9
        }
      } catch {
        case e: Throwable =>
          times(name) = (System.nanoTime() - t0) / 1e9
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
      }
    }
    // Locale.ROOT: under a comma-decimal default locale f"%.3f" would emit
    // 1,234 — invalid JSON (ADVICE r2).
    def jmap(m: LinkedHashMap[String, Double]): String = m.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    }.mkString("{", ",", "}")
    val qs = jmap(times)
    val qcpu = jmap(cpuSecs)
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString(",\"errors\":{", ",", "}")
    val total = times.values.sum
    // round-1 comparable subtotal: the original six queries, so
    // round-over-round bench comparison is like for like even as the
    // query count grows. Both units ride the summary (VERDICT r13
    // "Next round" #5): wall inflates 2-10x under co-tenant bursts
    // while executor CPU stays flat (PLANS.md round-13 A/B), so the
    // 2x gate reads in BOTH units before calling a regression.
    val headlineQs = Seq("q01_pricing_summary", "q02_revenue_by_nation",
      "q03_top_customers", "q04_customer_order_counts",
      "q05_urgent_customers", "q06_customers_without_orders")
    val headline = headlineQs.flatMap(times.get).sum
    val headlineCpu = headlineQs.flatMap(cpuSecs.get).sum
    val cpuTotal = cpuSecs.values.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","cpu_total":$cpuTotal,"headline6":$headline,"headline6_cpu":$headlineCpu,"queries":$qs,"queries_cpu":$qcpu$errJson,"sf":"$sfDir"}"""
    println(line)
    // The driver archives only the 2000-char TAIL of stdout, which
    // truncates the per-query maps out of BENCH_r{N}.json and loses the
    // round-over-round per-query history (VERDICT r9 "What's wrong" #2).
    // Persist the full line in-repo too: bench_local/<tag>.json, tag from
    // SPARK_GRAFT_BENCH_TAG (committed per round as r<N>; the driver's
    // own runs land on "latest" and are never committed by it).
    try {
      // Tag sanitized to a plain filename: no path separators or shell
      // metacharacters from the env var reach the filesystem.
      val tag = sys.env.getOrElse("SPARK_GRAFT_BENCH_TAG", "latest")
        .replaceAll("[^A-Za-z0-9._-]", "_").take(64)
      val dir = new java.io.File("bench_local")
      dir.mkdirs()
      val w = new java.io.PrintWriter(new java.io.File(dir, s"$tag.json"))
      try w.println(line) finally w.close()
    } catch {
      // NonFatal only: an OOM mid-benchmark must surface, not be swallowed
      case NonFatal(_) => () // bench numbers still print
    }
    // The driver archives only the TAIL of this process's output (2000
    // chars in round 4, which truncated the wall map and total out of
    // BENCH_r04.json — VERDICT r4 "What's wrong" #4). A second, short
    // summary line after the full one is always inside any sane tail
    // window, so the headline totals survive even when the per-query maps
    // do not.
    def f3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // distinct metric name so a consumer keying on "total" never
    // double-counts or picks this truncation-guard line (VERDICT r7 #4)
    println(
      s"""{"metric":"total_summary","value":${f3(total)},"unit":"sec","cpu_total":${f3(cpuTotal)},"headline6":${f3(headline)},"headline6_cpu":${f3(headlineCpu)},"n_queries":${times.size},"n_errors":${errors.size},"sf":"$sfDir"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
