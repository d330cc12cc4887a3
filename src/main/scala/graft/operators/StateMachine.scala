package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import scala.collection.immutable.ListMap

/** The reference's polling workflow as batch-incremental state machine
  * operators (/root/reference/README.md:80-110, SURVEY.md §2.10):
  * active-job filter (P5), 4-way openai_status dispatch (P6), ledger-
  * context join (J3), and the idempotent join-based merge that stands in
  * for a MERGE/upsert sink (T5/S6 — no Delta offline, so merge =
  * read→join→conditional-rewrite, with the directory-swap write handled by
  * [[graft.sinks.Sinks]]).
  *
  * The job ledger is derived deterministically from `orders` (README.md:114-127
  * field set). Scale posture: the merge joins ledger↔delta on the job key —
  * one hash shuffle of the (small) delta side; transitions are evaluated
  * per-row with no window or collect.
  */
object StateMachine {

  /** batch_jobs ledger (README.md:114-127): job_id, openai_batch_id,
    * status ∈ {submitted, processing, completed, failed}, openai_status
    * mirror, model, created_at. Status mix keyed off o_orderkey.
    */
  def ledger(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders").select(
      col("o_orderkey").as("job_id"),
      concat(lit("batch_"), col("o_orderkey")).as("openai_batch_id"),
      when(col("o_orderkey") % 4 === 0, "completed")
        .when(col("o_orderkey") % 4 === 1, "failed")
        .when(col("o_orderkey") % 4 === 2, "processing")
        .otherwise("submitted").as("status"),
      lit("gpt-4o-mini").as("model"),
      col("o_orderdate").as("created_at"))

  /** Polled openai_status per job, as the scheduler would observe it
    * (README.md:84): a deterministic mix over the OpenAI status vocabulary.
    */
  def polled(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders").select(
      col("o_orderkey").as("job_id"),
      when(col("o_orderkey") % 7 === 0, "completed")
        .when(col("o_orderkey") % 7 === 1, "failed")
        .when(col("o_orderkey") % 7 === 2, "expired")
        .when(col("o_orderkey") % 7 === 3, "cancelling")
        .when(col("o_orderkey") % 7 === 4, "cancelled")
        .when(col("o_orderkey") % 7 === 5, "in_progress")
        .otherwise("finalizing").as("openai_status"))

  /** P6: the README.md:86-110 dispatch — openai_status → (ledger status,
    * action). `completed` → processing + process_results; failed/expired →
    * failed + mark_docs_failed; cancelling/cancelled → mirrored status;
    * anything else leaves the job untouched until the next cycle.
    */
  def dispatch(statusCol: Column): (Column, Column) = {
    val newStatus =
      when(statusCol === "completed", "processing")
        .when(statusCol.isin("failed", "expired"), "failed")
        .when(statusCol.isin("cancelling", "cancelled"), statusCol)
        .otherwise(lit(null).cast("string"))
    val action =
      when(statusCol === "completed", "process_results")
        .when(statusCol.isin("failed", "expired"), "mark_docs_failed")
        .when(statusCol.isin("cancelling", "cancelled"), "mirror_status")
        .otherwise("wait")
    (newStatus, action)
  }

  /** q13: one polling cycle's dispatch decisions — P5 active filter, J3
    * ledger-context join (ledger ⋈ polled status), P6 branch. Output is
    * the per-job decision frame the merge consumes.
    */
  def pollDispatch(spark: SparkSession, dir: String): DataFrame = {
    val active = ledger(spark, dir)
      .filter(!col("status").isin("completed", "failed"))
    val (newStatus, action) = dispatch(col("openai_status"))
    active.join(polled(spark, dir), Seq("job_id"))
      .select(col("job_id"), col("status").as("old_status"),
        col("openai_status"),
        newStatus.as("new_status"), action.as("action"))
      .orderBy(col("job_id"))
  }

  /** T5/S6: idempotent merge of a status delta into the ledger.
    * Left join ledger→delta; a row changes only when the delta carries a
    * non-null new_status AND the transition is legal (terminal states are
    * frozen — re-applying the same delta is a no-op, the at-least-once
    * guarantee the spec's polling loop needs, README.md:84,110).
    */
  def mergeLedger(ledgerDf: DataFrame, delta: DataFrame): DataFrame = {
    val terminal = Seq("completed", "failed", "cancelled")
    ledgerDf.join(
      delta.select(col("job_id"), col("new_status"), col("openai_status")),
      Seq("job_id"), "left")
      .withColumn("status",
        when(col("new_status").isNotNull &&
          !col("status").isin(terminal: _*), col("new_status"))
          .otherwise(col("status")))
      .drop("new_status")
  }

  /** q14: ledger state after applying one polling cycle — the merged
    * status distribution (applied twice in the ScalaTest idempotence
    * property; here the post-merge rollup is the oracle-checked surface).
    */
  def ledgerAfterPoll(spark: SparkSession, dir: String): DataFrame = {
    val merged = mergeLedger(ledger(spark, dir), pollDispatch(spark, dir))
    merged.groupBy(col("status"))
      .agg(count(lit(1)).as("n_jobs"),
        count(when(col("openai_status").isNotNull, 1)).as("n_polled"))
      .orderBy(col("status"))
  }

  /** q15: S8 structured log sink shape (README.md:150-156) — one JSON log
    * record per dispatch decision with the mandatory field set. The JSON
    * text itself is the checked value (both engines emit compact,
    * insertion-ordered objects).
    */
  def structuredLogs(spark: SparkSession, dir: String): DataFrame =
    pollDispatch(spark, dir)
      // sorted before the log line is built: the range exchange's
      // bound-sampling job and its map stage each re-run their input, so
      // to_json above the sort runs once, in the write stage
      .orderBy(col("job_id"))
      .select(col("job_id"), to_json(struct(
        lit("2024-06-01T00:00:00Z").as("timestamp"),
        when(col("action") === "mark_docs_failed", "WARN").otherwise("INFO")
          .as("level"),
        concat(lit("job_"), col("action")).as("event"),
        concat(lit("job "), col("job_id"), lit(" -> "),
          coalesce(col("new_status"), col("old_status"))).as("message"),
        col("job_id").as("job_id"))).as("log_line"))

  val queries: ListMap[String, graft.Q] = ListMap(
    "q13_poll_dispatch" -> (pollDispatch _),
    "q14_ledger_after_poll" -> (ledgerAfterPoll _),
    "q15_structured_logs" -> (structuredLogs _))

  private val ledgerCte =
    """ledger AS (
      |  SELECT o_orderkey AS job_id,
      |    CASE WHEN o_orderkey % 4 = 0 THEN 'completed'
      |         WHEN o_orderkey % 4 = 1 THEN 'failed'
      |         WHEN o_orderkey % 4 = 2 THEN 'processing'
      |         ELSE 'submitted' END AS status
      |  FROM orders),
      |polled AS (
      |  SELECT o_orderkey AS job_id,
      |    CASE WHEN o_orderkey % 7 = 0 THEN 'completed'
      |         WHEN o_orderkey % 7 = 1 THEN 'failed'
      |         WHEN o_orderkey % 7 = 2 THEN 'expired'
      |         WHEN o_orderkey % 7 = 3 THEN 'cancelling'
      |         WHEN o_orderkey % 7 = 4 THEN 'cancelled'
      |         WHEN o_orderkey % 7 = 5 THEN 'in_progress'
      |         ELSE 'finalizing' END AS openai_status
      |  FROM orders),
      |dispatch AS (
      |  SELECT job_id, status AS old_status, openai_status,
      |    CASE WHEN openai_status = 'completed' THEN 'processing'
      |         WHEN openai_status IN ('failed', 'expired') THEN 'failed'
      |         WHEN openai_status IN ('cancelling', 'cancelled')
      |           THEN openai_status END AS new_status,
      |    CASE WHEN openai_status = 'completed' THEN 'process_results'
      |         WHEN openai_status IN ('failed', 'expired') THEN 'mark_docs_failed'
      |         WHEN openai_status IN ('cancelling', 'cancelled') THEN 'mirror_status'
      |         ELSE 'wait' END AS action
      |  FROM ledger JOIN polled USING (job_id)
      |  WHERE status NOT IN ('completed', 'failed'))
      |""".stripMargin

  val oracle: Map[String, String] = Map(
    "q13_poll_dispatch" -> (s"WITH $ledgerCte" +
      """SELECT job_id, old_status, openai_status, new_status, action
        |FROM dispatch ORDER BY job_id""".stripMargin),
    "q14_ledger_after_poll" -> (s"WITH $ledgerCte" +
      """SELECT
        |  CASE WHEN d.new_status IS NOT NULL
        |         AND l.status NOT IN ('completed', 'failed', 'cancelled')
        |       THEN d.new_status ELSE l.status END AS status,
        |  count(*) AS n_jobs,
        |  count(*) FILTER (d.openai_status IS NOT NULL) AS n_polled
        |FROM ledger l LEFT JOIN dispatch d USING (job_id)
        |GROUP BY 1 ORDER BY status""".stripMargin),
    "q15_structured_logs" -> (s"WITH $ledgerCte" +
      """SELECT job_id,
        |  CAST(json_object(
        |    'timestamp', '2024-06-01T00:00:00Z',
        |    'level', CASE WHEN action = 'mark_docs_failed'
        |             THEN 'WARN' ELSE 'INFO' END,
        |    'event', 'job_' || action,
        |    'message', 'job ' || job_id || ' -> '
        |               || coalesce(new_status, old_status),
        |    'job_id', job_id) AS VARCHAR) AS log_line
        |FROM dispatch ORDER BY job_id""".stripMargin))
}
