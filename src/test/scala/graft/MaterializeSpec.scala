package graft

import org.apache.spark.sql.functions._

/** The shared-intermediate materialization policy: both forms must be
  * the localCheckpoint they stand for, with the same rows as the input.
  */
class MaterializeSpec extends SparkSpec {

  private def frame = spark.range(100)
    .select(col("id"), (col("id") % 7).as("k"))

  test("default mode is a localCheckpoint (lineage truncated lazily)") {
    val m = Materialize.shared(frame)
    assert(m.queryExecution.analyzed.collectLeaves().nonEmpty)
    assert(m.count() === 100)
    val n = Materialize.now(frame)
    assert(n.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
  }
}
