package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LogicalPlan}
import org.apache.spark.sql.functions._

/** [[Explode]] returns exactly `explode`'s and `posexplode`'s rows, and
  * its plan keeps the array expression out of any filter below the
  * Generate. */
class ExplodeSpec extends SparkSpec {

  /** id 0: null array; 1: empty; 2: a null element; 3: duplicates. The
    * arrays are computed, not local data, so the optimizer keeps the
    * Project the explode reads. */
  private def arrays: DataFrame = spark.range(4).select(col("id"),
    when(col("id") === 1, array().cast("array<string>"))
      .when(col("id") === 2, array(lit("a"), lit(null).cast("string")))
      .when(col("id") === 3, array(lit("b"), lit("b"), lit("c")))
      .as("arr"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("values returns explode's rows for null, empty, null-element and " +
      "duplicate arrays") {
    val got = Explode.values(arrays, col("arr"), "v", col("id"))
    assert(got.columns.toSeq == Seq("id", "v"))
    assert(rows(got) ==
      rows(arrays.select(col("id"), explode(col("arr")).as("v"))))
    assert(rows(got) == Seq("[2,a]", "[2,null]", "[3,b]", "[3,b]", "[3,c]"))
  }

  test("positions returns posexplode's rows") {
    val got = Explode.positions(arrays, col("arr"), "p", "v", col("id"))
    assert(got.columns.toSeq == Seq("id", "p", "v"))
    assert(rows(got) == rows(arrays.select(col("id"),
      posexplode(col("arr")).as(Seq("p", "v")))))
    assert(rows(got) ==
      Seq("[2,0,a]", "[2,1,null]", "[3,0,b]", "[3,1,b]", "[3,2,c]"))
  }

  /** Filters the optimizer placed below any Generate of the plan. */
  private def filtersBelowGenerate(df: DataFrame): Seq[LogicalPlan] =
    df.queryExecution.optimizedPlan.collect { case g: Generate =>
      g.child.collect { case f: Filter => f }
    }.flatten

  test("no filter below the Generate, unlike a plain explode") {
    // the inferred filter this helper avoids: size(arr) > 0 on the
    // CASE expression, pushed below the Project that computes it
    val plain = arrays.select(col("id"), explode(col("arr")).as("v"))
    assert(filtersBelowGenerate(plain).nonEmpty)
    assert(filtersBelowGenerate(
      Explode.values(arrays, col("arr"), "v", col("id"))).isEmpty)
    assert(filtersBelowGenerate(
      Explode.positions(arrays, col("arr"), "p", "v", col("id"))).isEmpty)
  }
}
