package flowbench

import java.io.File
import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.GraftSparkShim
import org.apache.spark.sql.SparkSession

object Files {
  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    JFiles.walk(src).forEach { f =>
      val t = dst.resolve(src.relativize(f))
      if (JFiles.isDirectory(f)) JFiles.createDirectories(t)
      else JFiles.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** Runs one workload in one JVM and writes what it measured as JSON:
  * the set-up times, every iteration's wall and executor CPU with the
  * artifacts it wrote and the rows it collected (flowbench/check.py
  * hashes and checks those), the JVM's peak RSS and, traced, the spans.
  *
  * Untraced (`--trace 0`): set the session and the workload's one-time
  * work up `--setups` times (the last set-up is kept), run `--warm`
  * warm-up iterations, then iterations for `--seconds` and at least
  * `--min-iters`. Every iteration writes into a fresh directory; before
  * it (untimed) the heap is collected and the listener bus drained.
  *
  * Traced (`--trace 1`): every flow is set up and run once with its calls
  * into the program wrapped in spans, the selected workload after its
  * warm-up and between two untraced iterations, whose mean's difference
  * to the traced one prices the tracing. Standalone calls get spans of
  * their own.
  */
object Main {
  private val json = new ObjectMapper()

  final case class Opts(workload: String, trace: Boolean, seconds: Double,
      setups: Int, warm: Int, minIters: Int, data: String, work: String,
      out: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Opts(m("workload"), m("trace") == "1", m("seconds").toDouble,
      m("setups").toInt, m("warm").toInt, m("min-iters").toInt, m("data"),
      m("work"), m("out"))
  }

  def session(local: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the program's sessions all set this: Spark 4.1's union
      // partitioning claim breaks sort-merge-join zips
      .config("spark.sql.unionOutputPartitioning", "false")
      // one iteration of a flow generates more distinct classes than
      // Spark's default cache of 100 holds: with it, every iteration
      // recompiled them and timings drifted down for ten iterations
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Runs iterations of one flow, each into a fresh directory, and
    * records them under `out`. */
  final class Runner(spark: SparkSession, workload: String, flow: Flow,
      cpu: CpuCounter, work: String, out: ArrayNode) {
    private var n = 0

    /** The directory of the last iteration. */
    def dir: String = s"$work/iter$n"

    def run(phase: String, spans: Spans): ObjectNode = {
      n += 1
      new File(dir).mkdirs()
      flow.prepare(dir)
      System.gc()
      GraftSparkShim.drainListenerBus(spark.sparkContext)
      val c0 = cpu.cpuNs.get()
      val t0 = System.nanoTime()
      val attempt = try Right(flow.iterate(spark, spans, dir))
        catch { case NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      GraftSparkShim.drainListenerBus(spark.sparkContext)
      val cpuS = (cpu.cpuNs.get() - c0) / 1e9
      val it = out.addObject()
      it.put("workload", workload)
      it.put("n", n)
      it.put("phase", phase)
      it.put("wall_s", wall)
      it.put("cpu_s", cpuS)
      attempt match {
        case Left(e) => it.put("error", s"${e.getClass.getName}: ${e.getMessage}")
        case Right(o) =>
          val arts = it.putArray("artifacts")
          o.artifacts.foreach { a =>
            val x = arts.addObject()
            x.put("name", a.name)
            x.put("path", a.path)
            x.put("format", a.format)
          }
          val rows = it.putArray("collected")
          o.collected.foreach(r => rows.add(json.readTree(r.json)))
      }
      System.err.println(f"[flowbench] $workload $phase iteration $n: " +
        f"wall $wall%.3f s, cpu $cpuS%.3f s")
      it
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val local = s"${o.work}/spark-local"
    new File(local).mkdirs()
    val result = json.createObjectNode()
    val iterations = result.putArray("iterations")
    if (o.trace) traced(o, local, result, iterations)
    else untraced(o, local, result, iterations)
    result.put("peak_rss_mb", vmHwmMb())
    json.writerWithDefaultPrettyPrinter().writeValue(new File(o.out), result)
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def untraced(o: Opts, local: String, result: ObjectNode,
      iterations: ArrayNode): Unit = {
    val flow = Flows(o.workload, o.data)
    val none = new Spans(None)
    var spark: SparkSession = null
    val setups = result.putArray("setup_s")
    (1 to o.setups).foreach { i =>
      if (spark != null) stop(spark)
      val s0 = System.nanoTime()
      spark = session(local)
      flow.setup(spark, none, s"${o.work}/setup$i")
      val t = (System.nanoTime() - s0) / 1e9
      System.err.println(f"[flowbench] setup $i: $t%.3f s")
      setups.add(t)
    }
    val cpu = new CpuCounter
    spark.sparkContext.addSparkListener(cpu)
    val runner = new Runner(spark, o.workload, flow, cpu, o.work, iterations)
    (1 to o.warm).foreach(_ => runner.run("warm", none))
    var measured = 0
    val m0 = System.nanoTime()
    while (measured < o.minIters || (System.nanoTime() - m0) / 1e9 < o.seconds) {
      runner.run("measured", none)
      measured += 1
    }
    stop(spark)
  }

  private def traced(o: Opts, local: String, result: ObjectNode,
      iterations: ArrayNode): Unit = {
    val spark = session(local)
    val cpu = new CpuCounter
    spark.sparkContext.addSparkListener(cpu)
    val tracer = new Tracer(spark)
    val traced = new Spans(Some(tracer))
    val none = new Spans(None)
    Seq("spec_cycle", "ingest_chain", "release_build").foreach { w =>
      val flow = Flows(w, s"${o.data}/$w")
      val work = s"${o.work}/$w"
      flow.setup(spark, traced, s"$work/setup")
      val runner = new Runner(spark, w, flow, cpu, work, iterations)
      // the selected workload warms as in an untraced run, then runs its
      // traced iteration between two untraced ones, so that the speed-up
      // from one iteration to the next cancels out of the overhead; the
      // others run traced at once
      val selected = w == o.workload
      if (selected) {
        (1 to o.warm).foreach(_ => runner.run("warm", none))
        runner.run("untraced", none)
      }
      val first = tracer.spans.size
      runner.run("traced", traced)
        .put("span_wall_s", tracer.spans.drop(first).map(_.wallS).sum)
      val tracedDir = runner.dir
      if (selected) runner.run("untraced", none)
      flow.standalone(spark, traced, tracedDir)
    }
    val spans = result.putArray("spans")
    tracer.spans.foreach { s =>
      val n = spans.addObject()
      n.put("name", s.name)
      s.metrics.foreach { case (k, v) => n.put(k, v) }
      n.put("busy_s", s.busyS)
    }
    stop(spark)
  }
}
