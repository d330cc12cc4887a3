package flowbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.GraftSparkShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Executor CPU summed over every task of the session: the only listener
  * an untraced run registers. */
final class CpuCounter extends SparkListener {
  val cpuNs = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

/** One finished span with its totals, split into the five layers:
  * driver (`driverGapS`, span time with no task running), scan, exchange
  * (shuffle), compute (executor CPU) and write. */
final case class Span(name: String, wallS: Double, busyS: Double,
    driverGapS: Double, cpuS: Double, jobs: Int, tasks: Int,
    scanMb: Double, shuffleMb: Double, writeMb: Double) {
  def metrics: Seq[(String, Double)] = Seq("wall_s" -> wallS, "cpu_s" -> cpuS,
    "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble,
    "driver_gap_s" -> driverGapS, "scan_mb" -> scanMb,
    "shuffle_mb" -> shuffleMb, "write_mb" -> writeMb)
}

object Span {
  val Property = "flowbench.span"

  /** Length of the union of `intervals` clipped to [t0, t1], and the
    * length of [t0, t1] no interval covers, by two separate sweeps: the
    * caller checks that they add up to the span. Times in ms. */
  def busyAndGap(intervals: Seq[(Long, Long)], t0: Long, t1: Long)
      : (Long, Long) = {
    val clipped = intervals.map { case (a, b) => (a max t0, b min t1) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) busy += curB - curA
        curA = a; curB = b
      } else curB = curB max b
    }
    if (curB > curA) busy += curB - curA
    var gap = 0L
    var reach = t0
    clipped.foreach { case (a, b) =>
      if (a > reach) gap += a - reach
      reach = reach max b
    }
    gap += (t1 - reach) max 0L
    (busy, gap)
  }
}

/** Tags every job submitted inside `span(name) { ... }` with the span
  * name (a Spark local property, inherited by the threads Spark SQL
  * submits broadcast and subquery jobs from) and sums the tagged jobs'
  * task metrics per span. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private final class Acc {
    var jobs = 0
    var tasks = 0
    var cpuNs = 0L
    var scanB = 0L
    var shuffleB = 0L
    var writeB = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val stageSpan = mutable.Map.empty[Int, String]
  private val accs = mutable.Map.empty[String, Acc]
  val spans = mutable.ArrayBuffer.empty[Span]

  private def acc(name: String): Acc = accs.getOrElseUpdate(name, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Span.Property)))
      .foreach { name =>
        acc(name).jobs += 1
        e.stageIds.foreach(stageSpan(_) = name)
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { name =>
      val a = acc(name)
      a.tasks += 1
      a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.scanB += m.inputMetrics.bytesRead
        a.shuffleB += m.shuffleWriteMetrics.bytesWritten
        a.writeB += m.outputMetrics.bytesWritten
      }
    }
  }

  spark.sparkContext.addSparkListener(this)

  def span[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Span.Property)
    sc.setLocalProperty(Span.Property, name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      val wallNs = System.nanoTime() - n0
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(Span.Property, prev)
      GraftSparkShim.drainListenerBus(sc)
      synchronized {
        val a = accs.remove(name).getOrElse(new Acc)
        val (busy, gap) = Span.busyAndGap(a.intervals.toSeq, t0, t1)
        // busy and gap come from the ms clock the task times use; scale
        // them onto the ns wall so that they sum to it exactly
        val scale = if (t1 > t0) wallNs / 1e9 / (t1 - t0) else 0.0
        spans += Span(name, wallNs / 1e9, busy * scale, gap * scale,
          a.cpuNs / 1e9, a.jobs, a.tasks, a.scanB / 1e6, a.shuffleB / 1e6,
          a.writeB / 1e6)
      }
    }
  }
}

/** Runs spans through a [[Tracer]] when there is one, and untouched
  * otherwise, so the traced and untraced runs execute the same code. */
final class Spans(tracer: Option[Tracer]) {
  def apply[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
}
