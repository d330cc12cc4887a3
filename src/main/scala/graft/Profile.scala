package graft

/** Per-query profile: the formatted physical plan, then two timed passes
  * of rows, wall, executor CPU, jobs, stages and tasks. Usage:
  *   tools/run.sh graft.Profile <sfDir> <query> [query ...]
  * Keep plans honest: look for PushedFilters on scans, broadcast joins on
  * dimensions, and WholeStageCodegen spans covering the hot path. Read
  * pass 2 (the first absorbs codegen/JIT) and the CPU column on a noisy
  * host; jobs against CPU separates per-job scheduling latency (AQE runs
  * every exchange as its own job) from real compute.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) Harness.usage("graft.Profile <sfDir> <query> [query...]")
    val sfDir = args.head
    val spark = Harness.session(Harness.cpus)
    val counters = Harness.counters(spark)
    args.tail.foreach { name =>
      println(s"========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      // construction + count per pass, like Bench: iterative operators
      // (q77/q85/q91) do their work eagerly inside the query function
      Harness.timedPasses(spark, counters, name)(
        SparkEntry.queries(name)(spark, sfDir).count())
    }
    spark.stop()
  }
}
