package graft

import graft.operators.{SpecPipeline, StateMachine}
import graft.sinks.Sinks
import org.apache.spark.sql.functions._

/** End-to-end lifecycle on sf0.001 with real sinks on temp dirs —
  * mirrors the reference's integration tests
  * (/root/reference/README.md:176-178): ingest validation → job ledger
  * submit → polling cycle merge (applied twice: at-least-once) →
  * result-processing final state, with cross-query consistency between
  * the per-document frame and the rollup.
  */
class PipelineIntegrationSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = s"${tempDir(s"graft-it-$name")}/t"

  test("ingest → ledger → poll-merge (replayed) → results, end to end") {
    // §3.1 ingest: validation produces line-granular errors for the
    // seeded defects; the rest of the file is accepted
    val errors = SpecPipeline.ingestValidation(spark, sfDir)
    val nErrors = errors.count()
    assert(nErrors > 0)
    val total = Tables(spark, sfDir, "orders").count()
    assert(nErrors < total) // most lines are valid

    // submit: ledger rows land via the append sink, partitioned by status
    val ledgerDir = tmp("ledger")
    Sinks.appendLedger(StateMachine.ledger(spark, sfDir), ledgerDir)
    val ledger0 = spark.read.parquet(ledgerDir)
    assert(ledger0.count() == total)

    // §3.2 polling cycle: dispatch + merge + overwrite-swap upsert
    val targetDir = tmp("merged")
    val delta = StateMachine.pollDispatch(spark, sfDir)
    Sinks.overwriteSwap(
      StateMachine.mergeLedger(ledger0, delta), targetDir)
    val after1 = spark.read.parquet(targetDir)
      .select("job_id", "status").as[(Long, String)].collect().toMap

    // at-least-once: replay the SAME delta through the sink path
    Sinks.overwriteSwap(
      StateMachine.mergeLedger(
        spark.read.parquet(targetDir).drop("openai_status"), delta),
      targetDir)
    val after2 = spark.read.parquet(targetDir)
      .select("job_id", "status").as[(Long, String)].collect().toMap
    assert(after1 == after2) // replay is a no-op

    // terminal states never left the frozen set
    val l0 = StateMachine.ledger(spark, sfDir)
      .select("job_id", "status").as[(Long, String)].collect().toMap
    l0.foreach { case (id, s0) =>
      if (s0 == "completed" || s0 == "failed") assert(after1(id) == s0)
    }

    // §3.3 results: per-doc final state agrees with the outcome rollup
    val perDoc = SpecPipeline.flagshipResults(spark, sfDir)
      .groupBy("ai_status").count().as[(String, Long)].collect().toMap
    val rollup = SpecPipeline.resultOutcomes(spark, sfDir)
      .agg(sum("n_completed"), sum($"n_errors" + $"n_invalid"))
      .as[(Long, Long)].collect().head
    assert(perDoc("completed") == rollup._1)
    assert(perDoc("failed") == rollup._2)
  }
}
