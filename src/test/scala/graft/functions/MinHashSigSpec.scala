package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Parity contract of the fused native [[MinHashBandKeys]] against the
  * higher-order formulation it replaced in LLMQueries.bandsOf:
  * `h_j = array_min(transform(sh, s -> substring(md5(concat('j:', s)), 1, 16)))`,
  * band key b = `h_{b·r} || … || h_{b·r+r-1}`. Bit-equality here is what
  * keeps q64 (and the incremental near-dup path) oracle-green.
  */
class MinHashSigSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced HOF formulation, kept verbatim as the reference. */
  private def hofKeys(df: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val sigCols = (0 until numHashes).map { j =>
      array_min(expr(
        s"transform(sh, s -> substring(md5(concat('$j:', s)), 1, 16))"))
        .as(s"h$j")
    }
    val sigs = df.select(col("id") +: sigCols: _*)
    val keys = (0 until numHashes / rowsPerBand).map { b =>
      concat((0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)
    }
    sigs.select(col("id"), array(keys: _*).as("keys"))
  }

  private def nativeKeys(df: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame =
    df.select(col("id"),
      MinHashBandKeys.minhashBandKeys(col("sh"), numHashes, rowsPerBand).as("keys"))

  private val fixture = Seq(
    (1L, Seq("the quick brown", "quick brown fox", "brown fox jumps")),
    (2L, Seq("a single shingle")),
    (3L, Seq("ünïcode shìngle ✓", "多字节 字符 集", "mixed ascii 和汉字")),
    (4L, Seq("repeated", "repeated", "other")), // dup shingles: min unaffected
    (5L, (1 to 300).map(i => s"gram $i of many")) // larger set
  ).toDF("id", "sh")

  test("band keys are bit-identical to the HOF formulation (8x2)") {
    val hof = hofKeys(fixture, 8, 2).collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val nat = nativeKeys(fixture, 8, 2).collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(nat == hof)
    assert(nat(1L).forall(k => k.length == 32 && k.matches("[0-9a-f]+")))
  }

  test("parity holds for seeds >= 10 (two-digit prefix) and other band shapes") {
    val hof = hofKeys(fixture, 12, 3).collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val nat = nativeKeys(fixture, 12, 3).collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(nat == hof)
  }

  test("parity holds in interpreted (non-codegen) evaluation") {
    val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val hof = hofKeys(fixture, 8, 2).collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val nat = nativeKeys(fixture, 8, 2).collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(nat == hof)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", prev)
  }

  test("empty shingle set yields null, null input stays null") {
    val df = Seq((1L, Some(Seq.empty[String])), (2L, None))
      .toDF("id", "sh")
    val rows = nativeKeys(df, 8, 2).orderBy("id").collect()
    assert(rows.forall(_.isNullAt(1)))
  }

  test("null ELEMENTS are skipped like the HOF's array_min; all-null is null") {
    // HOF: md5(concat('j:', null)) is null and array_min ignores nulls,
    // so keys equal those of the non-null residue
    val withNulls = Seq((1L, Seq[String]("keep me", null, "and me")))
      .toDF("id", "sh")
    val residue = Seq((1L, Seq("keep me", "and me"))).toDF("id", "sh")
    assert(nativeKeys(withNulls, 8, 2).collect().head.getSeq[String](1) ==
      nativeKeys(residue, 8, 2).collect().head.getSeq[String](1))
    val allNull = Seq((1L, Seq[String](null, null))).toDF("id", "sh")
    assert(nativeKeys(allNull, 8, 2).collect().head.isNullAt(1))
  }

  test("seeds beyond two decimal digits are rejected, not silently wrong") {
    assertThrows[IllegalArgumentException](
      nativeKeys(fixture, 100, 2).collect())
  }

  test("generated-code kernels have the static forwarders Janino resolves") {
    // every doGenCode that calls `graft.functions.X.method(...)` relies
    // on the Scala static forwarder on class X. A forwarder is SUPPRESSED
    // when the class inherits a member of the same name (Expression.eval
    // did exactly this to MinHashBandKeys.kernel's old name) — the
    // whole-stage compile then fails and the stage silently falls back
    // to the non-codegen path. Pin the forwarders by reflection.
    def hasStatic(cls: Class[_], name: String): Boolean =
      cls.getMethods.exists(m => m.getName == name &&
        java.lang.reflect.Modifier.isStatic(m.getModifiers))
    assert(hasStatic(classOf[MinHashBandKeys], "kernel"),
      "MinHashBandKeys.kernel lost its static forwarder")
    assert(hasStatic(classOf[JsonTokenKind], "kindAt") &&
      hasStatic(classOf[JsonTokenKind], "elementKindsAt") &&
      hasStatic(classOf[JsonTokenKind], "probeAt"),
      "JsonTokenKind kernels lost their static forwarders")
  }
}
