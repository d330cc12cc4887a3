package graft.functions

import graft.SparkSpec
import graft.operators.SpecPipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The multi-path JSON probe against the expressions it replaces: its
  * text slot equals `get_json_object`, its kind slot equals
  * `json_token_kind` on well-formed documents without duplicate keys,
  * interpreted eval equals generated code, and the result line's fields
  * equal the `from_json` reading the result path used before.
  */
class JsonProbeSpec extends SparkSpec {

  // well-formed, no duplicate keys, strict JSON: both slots have parity
  private val plain = Seq(
    """{"s":"a\"b\\c\/d\né中😀","u":"héllo 中文 😀"}""",
    """{"n":5,"neg":-7,"d":2.50,"e":1e3,"E":-1.5E-7,"z":-0,"zf":-0.0,""" +
      """"x":0.1,"tiny":5e-324,"max":1.7976931348623157e308}""",
    """{"i":2147483648,"long":9007199254740993,""" +
      """"big":12345678901234567890,"inf":1e400,"ninf":-1e400}""",
    """{"t":true,"f":false,"nul":null}""",
    """{"o":{"a":[1,{"b":"x\"y"},null,2.50],"c":{},"d":{"e":"é""" +
      "\\u0001" + """"}},"arr":[[1,2],[],"s"]}""",
    """{"a":[1]}""",
    """{"a":{"b":{"c":[10,20,{"d":true}]}}}""",
    "\"root string\"", "42", "null", """[1,"two",[3]]""", "{}", "[]")

  // duplicate keys, lenient syntax, malformed and trailing text
  private val odd = Seq(
    """{"a":1,"a":2}""", """{"a":null,"a":3}""",
    """{"a":{"x":1},"a":{"b":2}}""", """{"a":[null],"a":{"b":"x"}}""",
    "{\"c\":\"tab\there\"}", "{'s':'single'}",
    """{"a":1,"b":""", """{"a":1,}""", """{"a":tru}""", "not json", "",
    """{"a":"open}""", """{"o":{"a":[1,2}}""",
    """{"a":1} trailing""", """{"a":1}}""", "[1,2] [3]",
    """{"a":"x"}{"a":"y"}""")

  private val paths = Seq("$", "$.s", "$.u", "$.c", "$.n", "$.neg", "$.d",
    "$.e", "$.E", "$.z", "$.zf", "$.x", "$.tiny", "$.max", "$.i", "$.long",
    "$.big", "$.inf", "$.ninf", "$.t", "$.f", "$.nul", "$.o", "$.o.a",
    "$.o.a[0]", "$.o.a[1]", "$.o.a[1].b", "$.o.a[2]", "$.o.a[3]",
    "$.o.a[9]", "$.o.c", "$.o.d", "$.o.d.e", "$.arr", "$.arr[0]",
    "$.arr[0][1]", "$.arr[1]", "$.arr[2]", "$.a", "$.a.b", "$.a[0]",
    "$.a[3]", "$.a.b.c", "$.a.b.c[2].d", "$.a.b.c[1]", "$.b", "$[0]",
    "$[1]", "$[2][0]", "$.missing")
  private val probe = JsonPaths(paths)

  /** `docs` as a column `j` the plan cannot fold, so the projections over
    * it run in generated code. */
  private def frame(docs: Seq[String]): DataFrame =
    spark.range(docs.size).select(col("id"),
      element_at(typedLit(docs), col("id").cast("int") + 1).as("j"))

  private def interpreted(doc: String): Seq[String] = {
    val row = JsonProbe(Literal(UTF8String.fromString(doc), StringType),
      probe).eval(null)
    if (row == null) null
    else row.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      .toSeq(probe.schema).map(v => Option(v).map(_.toString).orNull)
  }

  private def keyOnly(path: String): Option[Seq[String]] =
    if (path.contains("[")) None
    else Some(path.stripPrefix("$").split('.').toSeq.filter(_.nonEmpty))

  /** Per doc and path: probe (kind, text), get_json_object, token kind.
    * Ten paths per probe keep each plan under whole-stage codegen's field
    * limit (spark.sql.codegen.maxFields, 100 by default). */
  private def compared(docs: Seq[String])
      : Seq[(String, String, String, String, String, String)] =
    paths.grouped(10).toSeq.flatMap { group =>
      val jp = JsonPaths(group)
      val df = frame(docs).select(col("j"), jp.probe(col("j")).as("p"),
        array(group.map(get_json_object(col("j"), _)): _*).as("texts"),
        array(group.map(path => keyOnly(path)
          .map(JsonTokenKind.tokenKind(col("j"), _))
          .getOrElse(lit(null).cast("string"))): _*).as("kinds"))
      val rows = df.collect()
      assert(codegenString(df.queryExecution.executedPlan)
        .contains("graft.functions.JsonTokenKind.probeAt("),
        "the probe did not run in generated code")
      rows.toSeq.flatMap { r =>
        val p = Option(r.getStruct(1))
        group.indices.map { i =>
          (r.getString(0), group(i), p.map(_.getString(2 * i)).orNull,
            p.map(_.getString(2 * i + 1)).orNull,
            r.getSeq[String](2)(i), r.getSeq[String](3)(i))
        }
      }
    }

  test("text equals get_json_object and kind equals json_token_kind") {
    val rows = compared(plain)
    rows.foreach { case (doc, path, kind, text, expText, expKind) =>
      assert(text == expText, s"text of $path in $doc")
      if (keyOnly(path).nonEmpty)
        assert(kind == expKind, s"kind of $path in $doc")
    }
    // the cases the list is meant to reach do reach non-null values
    val hits = rows.collect { case (_, path, _, text, _, _)
      if text != null => path }.toSet
    Seq("$.s", "$.u", "$.d", "$.e", "$.E", "$.zf", "$.big", "$.inf",
      "$.t", "$.f", "$.o", "$.o.a[1].b", "$.o.a[2]", "$.arr[0][1]",
      "$.a.b.c[2].d", "$", "$[1]", "$[2][0]").foreach(p =>
      assert(hits(p), s"no document reaches $p"))
  }

  test("duplicate keys, lenient syntax, malformed and trailing text") {
    val rows = compared(odd)
    rows.foreach { case (doc, path, _, text, expText, _) =>
      assert(text == expText, s"text of $path in $doc")
    }
    // a malformed document gives null in every slot
    val broken = Seq("""{"a":1,"b":""", """{"a":1,}""", """{"a":tru}""",
      "not json", "", """{"a":"open}""", """{"o":{"a":[1,2}}""")
    rows.filter(r => broken.contains(r._1)).foreach { r =>
      assert(r._3 == null && r._4 == null, s"${r._2} of ${r._1}")
    }
    // the kind comes from the value the text comes from
    def slots(doc: String, path: String) =
      rows.collect { case (`doc`, `path`, k, t, _, _) => (k, t) }.head
    assert(slots("""{"a":null,"a":3}""", "$.a") == ("number", "3"))
    assert(slots("""{"a":{"x":1},"a":{"b":2}}""", "$.a.b") == ("number", "2"))
    assert(slots("""{"a":1,"a":2}""", "$.a") == ("number", "1"))
    // an index reaching null matches, with the text `null`
    assert(slots("""{"a":[null],"a":{"b":"x"}}""", "$.a[0]") ==
      ("null", "null"))
    assert(slots("""{"a":[null],"a":{"b":"x"}}""", "$.a.b") ==
      ("string", "x"))
  }

  test("interpreted eval equals generated code") {
    val docs = plain ++ odd
    val generated = frame(docs).select(col("j"), probe.probe(col("j")))
      .collect().map(r => r.getString(0) ->
        Option(r.getStruct(1)).map(_.toSeq.map(v =>
          Option(v).map(_.toString).orNull)).orNull).toMap
    docs.foreach(d => assert(interpreted(d) == generated(d), d))
  }

  test("a string inside a larger buffer parses at its own offset") {
    val doc = """{"o":{"a":[1,{"b":"é"}]},"s":"x"}"""
    val bytes = doc.getBytes("UTF-8")
    val buf = Array.fill[Byte](7)('{'.toByte) ++ bytes ++
      Array.fill[Byte](5)(']'.toByte)
    val view = UTF8String.fromBytes(buf, 7, bytes.length)
    val row = JsonTokenKind.probeAt(view, probe)
    assert(row != null)
    assert(row.toSeq(probe.schema).map(v => Option(v).map(_.toString).orNull)
      == interpreted(doc))
  }

  test("paths take keys and indexes only, each once") {
    Seq("a", "$.a[*]", "$..a", "$['a']", "$.a[-1]", "$.").foreach { p =>
      intercept[IllegalArgumentException](JsonPaths(Seq(p)))
    }
    intercept[IllegalArgumentException](JsonPaths(Seq("$.a", "$.a")))
    intercept[IllegalArgumentException](probe.text(col("p"), "$.nope"))
  }

  test("line fields equal the from_json reading over adversarial lines") {
    val resultSchema = StructType.fromDDL(
      """custom_id string,
        |error struct<code: string, message: string>,
        |response struct<status_code: bigint,
        |  body: struct<choices: array<struct<
        |    message: struct<role: string, content: string>>>>>""".stripMargin)
    def ok(id: String, content: String) =
      s"""{"custom_id":"$id","response":{"status_code":200,"body":""" +
        s"""{"choices":[{"message":{"role":"assistant","content":$content}}]}}}"""
    val lines = Seq(
      ok("a", "\"{\\\"category\\\":\\\"x\\\",\\\"confidence\\\":0.5}\""),
      """{"custom_id":"b","error":null,"response":{"status_code":200,""" +
        """"body":{"choices":[{"message":{"content":"fine"}}]}}}""",
      """{"custom_id":"c","error":"boom"}""",
      """{"custom_id":"d","error":{"code":"rate","message":"m"}}""",
      """{"custom_id":"e","error":{}}""",
      """{"custom_id":"f","response":{"status_code":200,"body":{"choices":[]}}}""",
      ok("g", "5"), ok("h", """{"a":[1,2.50,1e3],"b":"é"}"""), ok("i", "null"),
      ok("j", "true"),
      """{"custom_id":"k","response":{"status_code":200,"bo""",
      """{"response":{"body":{"choices":[{"message":{"content":"no id"}}]}}}""",
      """{"custom_id":7,"response":{"body":{"choices":[null]}}}""")
    val src = frame(lines).withColumnRenamed("j", "line")
    val before = src.withColumn("r", from_json(col("line"), resultSchema))
      .select(col("id"), coalesce(col("r.custom_id"), lit("")).as("custom_id"),
        col("r.error").isNotNull.as("is_err"),
        expr("try_element_at(r.response.body.choices, 1)")
          .getField("message").getField("content").as("content"))
      .collect().toSet
    val after = SpecPipeline.lineFields(src)
      .select("id", "custom_id", "is_err", "content").collect().toSet
    assert(after == before)
    assert(before.contains(Row(3L, "d", true, null)) &&
      before.contains(Row(2L, "c", false, null)))
  }
}
