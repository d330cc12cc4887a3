package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.SparkPlan

/** The ledger's partition-by-status layout must actually prune — it is the
  * engine's stand-in for the spec's status index
  * (/root/reference/README.md:120, SURVEY.md §4.1): the P5 active-job scan
  * should touch only the status directories it needs, statically for
  * literal predicates and dynamically (DPP) when the statuses come from a
  * joined dimension.
  */
class PartitionPruningSpec extends SparkSpec {
  import spark.implicits._

  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] = {
    val resolved = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    resolved.collect { case s: FileSourceScanExec => s }
  }

  private lazy val ledgerDir = {
    val dir = s"${tempDir("graft-prune")}/ledger"
    Sinks.appendLedger(
      (1L to 40L).map(i => (i, Seq("submitted", "processing", "completed",
        "failed")((i % 4).toInt))).toDF("job_id", "status"),
      dir)
    dir
  }

  test("literal status filter prunes partitions at planning time") {
    val df = spark.read.parquet(ledgerDir)
      .filter(col("status") === "submitted")
    assert(df.count() == 10)
    val scan = scans(df.queryExecution.executedPlan).head
    val parts = scan.metadata.getOrElse("PartitionFilters", "")
    assert(parts.contains("status"),
      s"status filter should be a partition filter, got: $parts")
    // the pushed filter leaves nothing for row-level evaluation
    assert(!scan.metadata.getOrElse("PushedFilters", "").contains("status"))
  }

  test("join to a filtered dimension prunes partitions dynamically (DPP)") {
    // the dimension must be a real source scan: a literal Seq would be
    // constant-folded into a LocalRelation, leaving no selective filter
    // for the DPP rule to find
    val dimDir = s"${tempDir("graft-dim")}/dim"
    Seq(("submitted", "active"), ("processing", "active"),
      ("completed", "terminal"), ("failed", "terminal"))
      .toDF("status", "cls")
      .write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val joined = spark.read.parquet(ledgerDir)
      .join(dim.filter(col("cls") === "active"), Seq("status"))
    assert(joined.count() == 20)
    val scan = scans(joined.queryExecution.executedPlan)
      .find(_.metadata.getOrElse("Location", "").contains("ledger")).get
    val parts = scan.partitionFilters.map(_.toString).mkString(";")
    assert(parts.toLowerCase.contains("dynamicpruning"),
      s"expected a runtime pruning subquery on the fact scan, got: $parts")
  }
}
