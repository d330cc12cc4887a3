package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.util.control.NonFatal

/** Write-path operators (SURVEY.md §2.1 S5–S8).
  *
  * There is no Delta/Iceberg offline (`build.sbt` — only /opt/spark/jars),
  * so the upsert sink (S6) is a join-based merge + atomic directory swap:
  * write the merged table to a fresh `<target>.tmp-swap`, then move it over
  * the old directory.
  */
object Sinks {

  /** S5: job-ledger append (/root/reference/README.md:76) — plain
    * mode=append parquet, partitioned by status so the P5 active-job scan
    * prunes partitions the way the spec's status index would.
    */
  def appendLedger(rows: DataFrame, dir: String): Unit =
    rows.write.mode(SaveMode.Append).partitionBy("status").parquet(dir)

  /** S7: batch-input upload (README.md:74) — the validated request lines as
    * a JSONL file (the external-API boundary modeled as a file sink).
    */
  def writeJsonl(rows: DataFrame, dir: String): Unit =
    rows.write.mode(SaveMode.Overwrite).json(dir)

  /** S8: structured log sink (README.md:150-156) — JSON records with the
    * mandatory {timestamp, level, event, message} fields appended to a log
    * directory. `ts` is caller-supplied so verify paths stay deterministic.
    */
  def writeLogs(rows: DataFrame, dir: String): Unit =
    rows.write.mode(SaveMode.Append).json(dir)

  /** S3: error-file scan (README.md:90,103) — surface the downloaded
    * error file's lines as WARN-leveled structured log rows, ready for
    * [[writeLogs]]. Line-granular, schema {level, event, message}.
    */
  def readErrorFile(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(lit("WARN").as("level"),
        lit("openai_error_file_line").as("event"),
        col("value").as("message"))

  /** S6: document upsert (README.md:77,100-102). `merged` must be the full
    * post-merge table (e.g. [[graft.operators.StateMachine.mergeLedger]]'s
    * output). Writes to a sibling tmp dir, then atomically swaps it over
    * `targetDir` — readers never observe a half-written table.
    */
  def overwriteSwap(merged: DataFrame, targetDir: String): Unit = {
    val target = Paths.get(targetDir)
    val tmp = Paths.get(targetDir + ".tmp-swap")
    deleteRecursive(tmp)
    merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val old = Paths.get(targetDir + ".tmp-old")
    deleteRecursive(old)
    if (Files.exists(target)) Files.move(target, old,
      StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursive(old)
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }
}

/** T6: retry with exponential backoff (README.md:84,146-147,161) — a
  * driver-side concern (Spark task retries cover executor-side failure).
  * Sleeps are injectable so tests run instantly. Only non-fatal errors
  * retry: a fatal one (OOM, stack overflow) propagates on its first
  * attempt instead of being slept on.
  */
object Retry {
  def withBackoff[A](maxAttempts: Int = 3, baseDelayMs: Long = 100,
      sleep: Long => Unit = Thread.sleep)(op: () => A): A = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    var attempt = 0
    var last: Throwable = null
    while (attempt < maxAttempts) {
      try return op()
      catch {
        case NonFatal(e) =>
          last = e
          attempt += 1
          if (attempt < maxAttempts) sleep(baseDelayMs << (attempt - 1))
      }
    }
    throw last
  }
}
