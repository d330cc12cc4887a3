package graft.functions

import graft.SparkSpec
import graft.functions.CosineSimilarity.cosineSim
import org.apache.spark.sql.functions._

/** The native expression must agree BIT-EXACTLY with the higher-order
  * function formulation (same left-to-right double fold), including under
  * whole-stage codegen and in interpreted mode.
  */
class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = graft.Tables(spark, sfDir, "embeddings")
    .select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))

  private lazy val paired = vecs.as("a")
    .join(vecs.as("b"), col("a.vec_id") + 1 === col("b.vec_id"))
    .select(col("a.vec_id").as("id"), col("a.v").as("x"), col("b.v").as("y"))

  private val hof =
    expr("aggregate(zip_with(x, y, (p, q) -> p * q), 0D, (s, e) -> s + e)") /
      (sqrt(expr("aggregate(x, 0D, (s, e) -> s + e * e)")) *
        sqrt(expr("aggregate(y, 0D, (s, e) -> s + e * e)")))

  test("native expression matches the HOF formulation bit-exactly") {
    val diff = paired
      .select(cosineSim(col("x"), col("y")).as("native"), hof.as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("known values: parallel, orthogonal, antiparallel") {
    val df = Seq(
      (Array(1.0, 0.0), Array(2.0, 0.0)),   // parallel → 1
      (Array(1.0, 0.0), Array(0.0, 3.0)),   // orthogonal → 0
      (Array(1.0, 2.0), Array(-1.0, -2.0))) // antiparallel → -1
      .toDF("x", "y")
    val out = df.select(cosineSim(col("x"), col("y"))).as[Double].collect()
    assert(out(0) == 1.0 && out(1) == 0.0)
    assert(math.abs(out(2) - -1.0) < 1e-12) // sqrt(5)*sqrt(5) != 5 exactly
  }

  test("null inputs yield null") {
    val df = Seq((Some(Array(1.0, 2.0)), Option.empty[Array[Double]]))
      .toDF("x", "y")
    val out = df.select(cosineSim(col("x"), col("y"))).collect()
    assert(out.head.isNullAt(0))
  }

  test("l2 parity: native squared distance matches the HOF formulation") {
    import graft.functions.L2Distance.l2Sq
    val hofL2 = expr(
      "aggregate(zip_with(x, y, (p, q) -> (p - q) * (p - q)), 0D, (s, e) -> s + e)")
    val diff = paired
      .select(l2Sq(col("x"), col("y")).as("native"), hofL2.as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
    // interpreted path agrees too
    val row = Seq((Array(1.0, 2.0, 3.0), Array(2.0, 0.0, 3.0)))
      .toDF("x", "y")
    val out = row.select(l2Sq(col("x"), col("y"))).as[Double].collect()
    assert(out.head == 5.0)
  }

  test("interpreted mode (codegen off) agrees with codegen") {
    val before = spark.conf.getOption("spark.sql.codegen.wholeStage")
    try {
      val on = paired.select(cosineSim(col("x"), col("y"))).as[Double]
        .collect()
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val off = paired.select(cosineSim(col("x"), col("y"))).as[Double]
        .collect()
      assert(on.toSeq == off.toSeq)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage",
        before.getOrElse("true"))
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
