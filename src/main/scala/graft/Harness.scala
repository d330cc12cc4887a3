package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftSparkShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one way to build a session, the one listener and the one timed-pass
  * report shared by every main (Bench, Verify, Smoke, Profile, Soak) and
  * by the test session.
  *
  * Executor CPU is the noise-immune signal on a shared host: co-tenant
  * load bursts inflate wall time 2-10× but barely move task CPU
  * (PLANS.md round-3/4 findings). Attribution is kept honest by DRAINING
  * the async listener bus around each measurement instead of sleeping —
  * under load, task-end events can outlive any fixed sleep and leak one
  * pass's counts into the next.
  */
object Harness {
  /** Local cores for a main: `SPARK_GRAFT_CPUS`, or every available
    * processor when unset. */
  def cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** [[cpus]]'s rule on a raw env value; anything but a positive integer
    * fails here instead of as `local[abc]` deep inside Spark. */
  def parseCpus(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** A local session on `cpus` cores with as many shuffle partitions. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Tables requires it: timestamp-literal filters only match the
      // DuckDB oracle under a pinned zone
      .config("spark.sql.session.timeZone", "UTC")
      // Spark 4.1's unionOutputPartitioning makes UnionExec CLAIM its
      // children's common hash partitioning while still concatenating
      // their partitions (N+N of them): a downstream sort-merge join
      // then elides its exchange and zips unequal RDDs — IllegalArgument
      // "Can't zip RDDs with unequal numbers of partitions", first hit
      // by q96's verify join on the 30x soak. Disabled everywhere; the
      // unions that feed joins re-shuffle on their own keys instead.
      .config("spark.sql.unionOutputPartitioning", "false")
      // Spark's default keeps 100 generated classes, but one sf0.1 pass of
      // q194 compiles 438 distinct ones and q104 281 (CodegenMetrics'
      // compile count with a cache that never evicts), so each pass
      // recompiled most of its code. 2000 holds the largest query's classes
      // with room to spare; the whole test suite's 9,338 distinct classes
      // are not kept (holding them all raised its peak RSS by ~2.4 GB).
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Jobs, stages, tasks and executor CPU nanoseconds at one instant. */
  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      cpuNs: Long) {
    def -(o: Counts): Counts =
      Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
        cpuNs - o.cpuNs)
  }

  /** Cumulative counts of everything a session ran since registration. */
  final class Counters extends SparkListener {
    private val jobs = new AtomicLong
    private val stages = new AtomicLong
    private val tasks = new AtomicLong
    private val cpuNs = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
    }
    def now: Counts = Counts(jobs.get, stages.get, tasks.get, cpuNs.get)
  }

  /** Register a [[Counters]] listener on the session. */
  def counters(spark: SparkSession): Counters = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Run `passes` gc-separated measurements of `action` and report each
    * as "label pass=N rows=… wall=…s cpu=…s jobs=… stages=… tasks=…".
    * Read the LAST pass (the first absorbs codegen/JIT warmup). */
  def timedPasses(spark: SparkSession, counters: Counters, label: String,
      passes: Int = 2)(action: => Long): Unit =
    (1 to passes).foreach { pass =>
      System.gc()
      GraftSparkShim.drainListenerBus(spark.sparkContext)
      val before = counters.now
      val t0 = System.nanoTime()
      val n = action
      val wall = (System.nanoTime() - t0) / 1e9
      GraftSparkShim.drainListenerBus(spark.sparkContext)
      val d = counters.now - before
      println(f"$label pass=$pass rows=$n wall=$wall%.2fs " +
        f"cpu=${d.cpuNs / 1e9}%.2fs jobs=${d.jobs} stages=${d.stages} " +
        s"tasks=${d.tasks}")
    }

  /** Print a main's one-line usage to stderr and exit with code 2. */
  def usage(form: String): Nothing = {
    System.err.println(s"usage: tools/run.sh $form")
    sys.exit(2)
  }
}
