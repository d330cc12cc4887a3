package flowbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.Tables
import graft.operators.{CurationQueries, DailyIngest, LLMQueries, ReleaseBuild,
  SpecPipeline, StateMachine, VectorQueries}
import graft.sinks.Sinks

/** A written artifact: its name, directory and format (parquet or json). */
final case class Artifact(name: String, path: String, format: String)

/** One iteration's output: every artifact it wrote and the rows it
  * collected. flowbench/check.py hashes and checks both. */
final case class Outcome(artifacts: Seq[Artifact], collected: Seq[Row])

/** One product flow as a benchmark workload over the generated tables in
  * `data`. */
trait Flow {
  /** The workload's one-time program work, part of setup_s. */
  def setup(spark: SparkSession, spans: Spans, dir: String): Unit = ()
  /** Untimed preparation of the fresh iteration directory `dir`. */
  def prepare(dir: String): Unit = ()
  def iterate(spark: SparkSession, spans: Spans, dir: String): Outcome
  /** Standalone calls the traced run records as spans of their own, after
    * the traced iteration that wrote into `dir`. */
  def standalone(spark: SparkSession, spans: Spans, dir: String): Unit = ()
}

object Flows {
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def apply(name: String, data: String): Flow = name match {
    case "spec_cycle" => new SpecCycle(data)
    case "ingest_chain" => new IngestChain(data)
    case "release_build" => new ReleaseFlow(data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
import Flows.noop

/** The reference's whole request-to-result flow over the generated
  * `orders` table: validate and write the error file, poll and merge the
  * job ledger, merge results into the target docs, roll outcomes up, and
  * write the structured logs. */
final class SpecCycle(data: String) extends Flow {
  def iterate(spark: SparkSession, spans: Spans, dir: String): Outcome = {
    spans("spec.validate") {
      Sinks.writeJsonl(SpecPipeline.ingestValidation(spark, data),
        s"$dir/errors")
    }
    spans("spec.poll") {
      val merged = StateMachine.mergeLedger(StateMachine.ledger(spark, data),
        StateMachine.pollDispatch(spark, data))
      Sinks.overwriteSwap(merged, s"$dir/ledger")
    }
    spans("spec.merge") {
      Sinks.overwriteSwap(SpecPipeline.flagshipResults(spark, data),
        s"$dir/targets")
    }
    val rollup = spans("spec.rollup") {
      SpecPipeline.resultOutcomes(spark, data).collect()
    }
    spans("spec.logs") {
      Sinks.writeLogs(StateMachine.structuredLogs(spark, data), s"$dir/logs")
    }
    Outcome(Seq(Artifact("errors", s"$dir/errors", "json"),
      Artifact("ledger", s"$dir/ledger", "parquet"),
      Artifact("targets", s"$dir/targets", "parquet"),
      Artifact("logs", s"$dir/logs", "json")), rollup.toSeq)
  }
}

/** The first day of a cold-start delta-ingest chain: day 0's batch
  * (DailyIngest's doc_id mod 7 split) through the incremental gates
  * against a delta root seeded with all seven days pending (an empty
  * corpus), then the fold of the root's generations into one. The
  * traced run adds day 1 on top of day 0's generation as its own span. */
final class IngestChain(data: String) extends Flow {
  private var seedRoot: String = _
  private val families = Seq("text_hash", "norm_hash", "text_bands",
    "text_sets", "substr_windows", "eval_grams", "eval_bands", "eval_sets")
  private val dayArtifacts = Seq("kept_docs.parquet", "disposition.parquet",
    "novelty_report.parquet", "substring_report.parquet", "ledger")

  override def setup(spark: SparkSession, spans: Spans, dir: String): Unit = {
    seedRoot = s"$dir/seed_root"
    spans("ingest.seed") {
      DailyIngest.writeIndexesDelta(spark, data, seedRoot,
        pendingDays = (0 until 7).toSet)
    }
  }

  override def prepare(dir: String): Unit =
    Files.copyTree(seedRoot, s"$dir/root")

  def iterate(spark: SparkSession, spans: Spans, dir: String): Outcome = {
    val root = s"$dir/root"
    val summary = spans("ingest.day_first") {
      DailyIngest.runDelta(spark, root, data, s"$dir/day0", day = 0).collect()
    }
    spans("ingest.fold") { DailyIngest.foldDelta(spark, root, s"$dir/fold") }
    Outcome(
      dayArtifacts.map(a => Artifact(s"day0/$a", s"$dir/day0/$a", "parquet")) ++
        Seq(Artifact("day0/logs", s"$dir/day0/logs", "json")) ++
        families.flatMap(f => Seq(
          Artifact(s"root/$f", s"$root/$f.parquet", "parquet"),
          Artifact(s"fold/$f", s"$dir/fold/$f.parquet", "parquet"))),
      summary.toSeq)
  }

  override def standalone(spark: SparkSession, spans: Spans,
      dir: String): Unit = {
    // day 1 reads the seed and day 0's generations the iteration wrote,
    // from a copy: the iteration's own root is one of its checked artifacts
    Files.copyTree(s"$dir/root", s"$dir/root1")
    spans("ingest.day_last") {
      DailyIngest.runDelta(spark, s"$dir/root1", data, s"$dir/day1", day = 1)
        .collect()
    }
    val batch = DailyIngest.split(spark, data, 0, Set(0))._2
    spans("ingest.signatures") {
      val (bands, sets) = LLMQueries.signatureTables(batch)
      noop(bands); noop(sets)
    }
    spans("ingest.windows") { noop(CurationQueries.docWindows(batch)) }
    def idx(f: String): DataFrame =
      spark.read.parquet(s"$seedRoot/$f.parquet").drop("gen")
    spans("ingest.gates") {
      noop(DailyIngest.dispositionOf(batch, idx("text_hash"),
        idx("norm_hash"), idx("text_bands"), idx("text_sets"),
        idx("eval_grams"), idx("eval_bands"), idx("eval_sets")))
    }
  }
}

/** The release build over the generated corpus and embeddings. */
final class ReleaseFlow(data: String) extends Flow {
  def iterate(spark: SparkSession, spans: Spans, dir: String): Outcome = {
    val out = s"$dir/release"
    val summary = spans("release.run") {
      ReleaseBuild.run(spark, data, out).collect()
    }
    Outcome(summary.map(r => Artifact(r.getString(0),
      s"$out/${r.getString(0)}.parquet", "parquet")).toSeq ++ Seq(
      Artifact("ledger", s"$out/ledger", "parquet"),
      Artifact("logs", s"$out/logs", "json")), summary.toSeq)
  }

  override def standalone(spark: SparkSession, spans: Spans,
      dir: String): Unit = {
    spans("release.funnel") {
      noop(CurationQueries.funnelDispositionOf(
        Tables(spark, data, "documents")))
    }
    spans("release.vectors") {
      noop(VectorQueries.keptVectorsOf(Tables(spark, data, "embeddings")))
    }
  }
}
