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
  * the old directory. At 100 TB the same merge narrows to partition
  * overwrite — hash-bucket the target by key and rewrite only the buckets
  * the delta touches (SURVEY.md §4.3); the swap mechanics stay identical
  * per bucket.
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
  def readErrorFile(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.text(path)
      .select(lit("WARN").as("level"),
        lit("openai_error_file_line").as("event"),
        col("value").as("message"))
  }

  /** L7: language-partitioned write — documents laid out by lang so a
    * per-language pipeline prunes partitions at the scan.
    */
  def writePartitionedByLang(rows: DataFrame, dir: String): Unit =
    rows.write.mode(SaveMode.Overwrite).partitionBy("lang").parquet(dir)

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

  /** S6 at scale: lay the target out hash-bucketed by `key` (directory
    * partition `bucket=NN`), so an upsert only rewrites the buckets its
    * delta touches. [[bucketedUpsert]] below is the merge that exploits
    * this layout.
    */
  def writeBucketed(rows: DataFrame, dir: String, key: String,
      numBuckets: Int): Unit =
    rows.withColumn("bucket", pmod(hash(col(key)), lit(numBuckets)))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(dir)

  /** S6 at scale: bucket-pruned upsert (SURVEY.md §4.3 — "hash-bucket the
    * target by key; merge only touched buckets"). Delta rows replace
    * target rows with the same `key`; buckets the delta does not touch
    * are never read OR rewritten — their files stay byte-identical on
    * disk. At 100 TB with 10k buckets, a delta touching 1% of keys reads
    * and writes ~1% of the table instead of all of it.
    *
    * Each touched `bucket=NN` directory is swapped atomically; there is
    * no cross-bucket transaction (that is what a table format like
    * Delta/Iceberg adds — unavailable offline, SURVEY.md §4.3), so a
    * reader concurrent with the swap can see bucket versions from two
    * generations. The replay test in SinksSpec shows the merge is
    * idempotent, which is what makes that window recoverable.
    */
  def bucketedUpsert(spark: SparkSession, targetDir: String,
      delta: DataFrame, key: String, numBuckets: Int): Unit = {
    val withB = delta.withColumn("bucket",
      pmod(hash(col(key)), lit(numBuckets)))
    // metadata-scale collect: one bucket id per touched bucket, ≤ numBuckets
    val touched = withB.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return
    // partition pruning keeps the read to the touched directories
    val target = graft.Tables.read(spark, targetDir)
      .filter(col("bucket").isin(touched.toSeq: _*))
    val merged = target
      .join(withB.select(col(key).as("__dk")), col(key) === col("__dk"),
        "left_anti")                       // keep target rows the delta
      .unionByName(withB)                  // doesn't replace; delta wins
    val tmp = targetDir + ".tmp-upsert"
    deleteRecursive(Paths.get(tmp))
    merged.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(tmp)
    for (b <- touched) {
      val src = Paths.get(tmp, s"bucket=$b")
      val dst = Paths.get(targetDir, s"bucket=$b")
      val old = Paths.get(targetDir, s"bucket=$b.tmp-old")
      deleteRecursive(old)
      if (Files.exists(dst)) Files.move(dst, old,
        StandardCopyOption.ATOMIC_MOVE)
      // a touched bucket can be delta-only (new keys): tmp always has the
      // directory because every delta row lands in a touched bucket
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
      deleteRecursive(old)
    }
    deleteRecursive(Paths.get(tmp))
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
