package graft.functions

import java.io.ByteArrayOutputStream

import com.fasterxml.jackson.core.{JsonEncoding, JsonFactory, JsonFactoryBuilder,
  JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression,
  GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression reporting the RAW JSON token kind at an
  * object-key path — the piece `get_json_object` cannot provide because
  * it strips quotes: the JSON number `5` and the JSON string `"5"` both
  * extract as the text `5`, so a schema validator built purely on path
  * extracts cannot enforce `type: string`/`boolean` strictly (VERDICT
  * r5–r8, closed by this expression).
  *
  * `elements = false`: kind of the value at the path — one of
  * `string | number | boolean | null | object | array`, or SQL NULL if
  * the path is missing or the document is malformed.
  * `elements = true`: array of element kinds if the path holds an
  * array, SQL NULL otherwise — lets `items` type checks stay strict
  * even though elements travel through `from_json(ArrayType(String))`
  * coercion (which quote-strips scalars exactly like get_json_object).
  *
  * One streaming Jackson pass per evaluation (the same parser family
  * get_json_object uses), `skipChildren` over non-matching subtrees, no
  * DOM allocation; codegen calls the same static helper as interpreted
  * eval (parity by construction, asserted in JsonSchemaLiteSpec).
  * Path steps are object keys only; first occurrence of a duplicated key
  * wins, matching Jackson's streaming order.
  *
  * JsonSchemaLite's scalar checks and q10/q11 read kinds through
  * [[JsonProbe]] instead, which reports the same kind and the
  * `get_json_object` text for many paths in one pass. This single-path
  * form is the reference the probe's kind slot is tested against;
  * `elements = true` still serves `items` checks.
  */
case class JsonTokenKind(child: Expression, steps: Seq[String],
    elements: Boolean)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType =
    if (elements) ArrayType(StringType) else StringType
  override def nullable: Boolean = true
  override def prettyName: String =
    if (elements) "json_element_kinds" else "json_token_kind"

  private val stepsArr = steps.toArray

  override def nullSafeEval(s: Any): Any =
    if (elements) JsonTokenKind.elementKindsAt(s.asInstanceOf[UTF8String], stepsArr)
    else JsonTokenKind.kindAt(s.asInstanceOf[UTF8String], stepsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stepsRef = ctx.addReferenceObj("steps", stepsArr, "java.lang.String[]")
    val fn = if (elements) "elementKindsAt" else "kindAt"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.JsonTokenKind.$fn($c, $stepsRef);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(
      newChild: Expression): JsonTokenKind = copy(child = newChild)
}

/** Native one-pass probe of a JSON string column over several paths, the
  * only way the result path (JsonSchemaLite, q10/q11) reads a JSON string.
  * Per path of [[JsonPaths]] it returns two slots, the raw token kind and
  * the text `get_json_object` returns, from ONE streaming Jackson pass
  * over the string's UTF-8 bytes instead of one full parse per path.
  *
  * Text parity with `get_json_object` holds by construction: the same
  * parser features (single quotes and unescaped control characters
  * allowed), the same resolution order (document order; a key whose value
  * is JSON null does not match, so a later duplicate key still can),
  * strings unquoted, numbers in Jackson's normalized form, objects and
  * arrays re-serialized compactly by Jackson's own `copyCurrentStructure`,
  * and the whole first value read, so a malformed or truncated document
  * gives null for every path while trailing text after it is ignored.
  * The kind is that of the value the text comes from (as
  * [[JsonTokenKind]] reports it on documents without duplicate keys); a
  * path whose only match is JSON null has kind `null` and a null text.
  * Invalid UTF-8 fails the parse (null), where `get_json_object` decodes
  * it to U+FFFD first. Codegen calls the same static helper as
  * interpreted eval; parity is asserted in JsonProbeSpec.
  */
case class JsonProbe(child: Expression, paths: JsonPaths)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = paths.schema
  override def nullable: Boolean = true
  override def prettyName: String = "json_probe"

  override def nullSafeEval(s: Any): Any =
    JsonTokenKind.probeAt(s.asInstanceOf[UTF8String], paths)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pathsRef = ctx.addReferenceObj("paths", paths, classOf[JsonPaths].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.JsonTokenKind.probeAt($c, $pathsRef);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(
      newChild: Expression): JsonProbe = copy(child = newChild)
}

/** The paths one [[JsonProbe]] reads, compiled once on the driver into the
  * trie the kernel walks. A path is `$` followed by object keys (`.name`,
  * up to the next `.` or `[`) and array indexes (`[n]`), the subset of
  * `get_json_object` paths without wildcards. Builds the probe Column and
  * reads its slots: `k<i>` (kind) and `t<i>` (text) for path `i`.
  */
final case class JsonPaths(paths: Seq[String]) {
  require(paths.distinct.size == paths.size,
    s"duplicate probe paths: ${paths.mkString(", ")}")
  private[functions] val root: JsonTokenKind.Node =
    JsonTokenKind.trie(paths.map(JsonTokenKind.steps).zipWithIndex)

  def schema: StructType = StructType(paths.indices.flatMap(i =>
    Seq(StructField(s"k$i", StringType), StructField(s"t$i", StringType))))

  /** One probe of `json` over these paths; project it as its own column
    * and read every slot from that column to parse each row once. */
  def probe(json: Column): Column =
    ColumnShim.column(JsonProbe(ColumnShim.expression(json), this))

  /** The raw token kind at `path` in a [[probe]] column. */
  def kind(probe: Column, path: String): Column =
    probe.getField(s"k${slot(path)}")

  /** The `get_json_object` text at `path` in a [[probe]] column. */
  def text(probe: Column, path: String): Column =
    probe.getField(s"t${slot(path)}")

  private def slot(path: String): Int = {
    val i = paths.indexOf(path)
    require(i >= 0, s"$path is not probed (${paths.mkString(", ")})")
    i
  }

  override def toString: String = paths.mkString("[", ", ", "]")
}

object JsonTokenKind {
  private val factory = new JsonFactory()

  /** Walk object-key steps; returns the value token positioned at the
    * parser, or null if any step is missing / the input is malformed. */
  private def navigate(p: JsonParser, steps: Array[String]): JsonToken = {
    var t = p.nextToken()
    var si = 0
    while (si < steps.length) {
      if (t != JsonToken.START_OBJECT) return null
      var found = false
      var tok = p.nextToken() // FIELD_NAME or END_OBJECT
      while (!found && tok == JsonToken.FIELD_NAME) {
        val name = p.currentName()
        val v = p.nextToken() // the field's value token
        if (name == steps(si)) { t = v; found = true }
        else { p.skipChildren(); tok = p.nextToken() }
      }
      if (!found) return null
      si += 1
    }
    t
  }

  private def kindOf(t: JsonToken): UTF8String = t match {
    case JsonToken.VALUE_STRING => K_STRING
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT => K_NUMBER
    case JsonToken.VALUE_TRUE | JsonToken.VALUE_FALSE => K_BOOLEAN
    case JsonToken.VALUE_NULL => K_NULL
    case JsonToken.START_OBJECT => K_OBJECT
    case JsonToken.START_ARRAY => K_ARRAY
    case _ => null
  }

  private val K_STRING = UTF8String.fromString("string")
  private val K_NUMBER = UTF8String.fromString("number")
  private val K_BOOLEAN = UTF8String.fromString("boolean")
  private val K_NULL = UTF8String.fromString("null")
  private val K_OBJECT = UTF8String.fromString("object")
  private val K_ARRAY = UTF8String.fromString("array")

  /** Shared by interpreted eval and generated code. */
  def kindAt(s: UTF8String, steps: Array[String]): UTF8String = {
    val p = factory.createParser(s.toString)
    try kindOf(navigate(p, steps))
    catch { case _: java.io.IOException => null }
    finally p.close()
  }

  /** Element kinds of the array at the path; null if not an array. */
  def elementKindsAt(s: UTF8String, steps: Array[String]): ArrayData = {
    val p = factory.createParser(s.toString)
    try {
      if (navigate(p, steps) != JsonToken.START_ARRAY) return null
      val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
      var tok = p.nextToken()
      while (tok != null && tok != JsonToken.END_ARRAY) {
        out += kindOf(tok)
        if (tok == JsonToken.START_OBJECT || tok == JsonToken.START_ARRAY)
          p.skipChildren()
        tok = p.nextToken()
      }
      new GenericArrayData(out.toArray[Any])
    } catch { case _: java.io.IOException => null }
    finally p.close()
  }

  // ---- the multi-path probe (JsonProbe) ------------------------------

  /** `get_json_object`'s parser and generator features. */
  private val lenient: JsonFactory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .build()

  /** A path step: an object key (Left) or an array index (Right). */
  private[functions] def steps(path: String): List[Either[String, Int]] = {
    require(path.startsWith("$"), s"a probe path starts with $$: $path")
    val out = List.newBuilder[Either[String, Int]]
    var i = 1
    while (i < path.length) {
      if (path(i) == '.') {
        var j = i + 1
        while (j < path.length && path(j) != '.' && path(j) != '[') j += 1
        require(j > i + 1, s"empty key in probe path $path")
        out += Left(path.substring(i + 1, j))
        i = j
      } else {
        val j = path.indexOf(']', i)
        val n = if (path(i) == '[' && j > i + 1) path.substring(i + 1, j) else ""
        require(n.nonEmpty && n.forall(_.isDigit),
          s"probe paths take keys and array indexes only: $path")
        out += Right(n.toInt)
        i = j + 1
      }
    }
    out.result()
  }

  /** A trie node: the slots whose path ends here, the key and index
    * steps below it, and every slot at or below it. */
  private[functions] final class Node(val ends: Array[Int],
      val keys: Array[String], val keyKids: Array[Node],
      val indexes: Array[Int], val indexKids: Array[Node])
      extends Serializable {
    val below: Array[Int] =
      ends ++ keyKids.flatMap(_.below) ++ indexKids.flatMap(_.below)

    def key(name: String): Node = {
      var i = 0
      while (i < keys.length) {
        if (keys(i) == name) return keyKids(i)
        i += 1
      }
      null
    }

    def index(n: Int): Node = {
      var i = 0
      while (i < indexes.length) {
        if (indexes(i) == n) return indexKids(i)
        i += 1
      }
      null
    }
  }

  private[functions] def trie(
      paths: Seq[(List[Either[String, Int]], Int)]): Node = {
    def kids[S](step: PartialFunction[Either[String, Int], S]) = {
      val below = paths.collect { case (h :: rest, i) if step.isDefinedAt(h) =>
        (step(h), (rest, i)) }
      val order = below.map(_._1).distinct
      (order, order.map(s => trie(below.collect { case (`s`, e) => e })))
    }
    val (keys, keyKids) = kids { case Left(k) => k }
    val (indexes, indexKids) = kids { case Right(n) => n }
    new Node(paths.collect { case (Nil, i) => i }.toArray, keys.toArray,
      keyKids.toArray, indexes.toArray, indexKids.toArray)
  }

  private val T_NULL = UTF8String.fromString("null")
  private val T_TRUE = UTF8String.fromString("true")
  private val T_FALSE = UTF8String.fromString("false")

  /** One probe evaluation: per-slot state while the parser walks the
    * document once. Objects and arrays whose text a slot needs are
    * recorded as byte spans and re-serialized after the pass succeeded. */
  private final class ProbeRun(bytes: Array[Byte], off: Int, len: Int,
      n: Int) {
    val p: JsonParser = lenient.createParser(bytes, off, len)
    val kinds = new Array[UTF8String](n)
    val texts = new Array[UTF8String](n)
    private val done = new Array[Boolean](n)
    private var spans: Array[Long] = null // start, end per slot

    private def pending(node: Node): Boolean = {
      var i = 0
      while (i < node.below.length) {
        if (!done(node.below(i))) return true
        i += 1
      }
      false
    }

    /** The parser is at the value `node`'s path steps reached. */
    def walk(node: Node, viaKey: Boolean): Unit = {
      val t = p.currentToken()
      val container =
        t == JsonToken.START_OBJECT || t == JsonToken.START_ARRAY
      var start = -1L
      var i = 0
      while (i < node.ends.length) {
        val id = node.ends(i)
        if (!done(id)) {
          // get_json_object: a key holding null does not match
          if (viaKey && t == JsonToken.VALUE_NULL) kinds(id) = K_NULL
          else {
            done(id) = true
            kinds(id) = kindOf(t)
            if (!container) texts(id) = scalarText(t)
            else {
              if (start < 0) start = p.currentTokenLocation().getByteOffset
              if (spans == null) spans = Array.fill(2 * n)(-1L)
              spans(2 * id) = start
            }
          }
        }
        i += 1
      }
      if (t == JsonToken.START_OBJECT && node.keys.nonEmpty) {
        var tok = p.nextToken()
        while (tok == JsonToken.FIELD_NAME) {
          val kid = node.key(p.currentName())
          p.nextToken()
          if (kid != null && pending(kid)) walk(kid, viaKey = true)
          else p.skipChildren()
          tok = p.nextToken()
        }
      } else if (t == JsonToken.START_ARRAY && node.indexes.nonEmpty) {
        var tok = p.nextToken()
        var at = 0
        while (tok != JsonToken.END_ARRAY && tok != null) {
          val kid = node.index(at)
          if (kid != null && pending(kid)) walk(kid, viaKey = false)
          else p.skipChildren()
          at += 1
          tok = p.nextToken()
        }
      } else p.skipChildren()
      if (start >= 0) {
        val end = p.currentTokenLocation().getByteOffset + 1
        i = 0
        while (i < node.ends.length) {
          val id = node.ends(i)
          if (spans(2 * id) == start && spans(2 * id + 1) < 0)
            spans(2 * id + 1) = end
          i += 1
        }
      }
    }

    /** `get_json_object`'s text of a scalar: numbers as its generator
      * writes them, anything unusual through that generator itself. */
    private def scalarText(t: JsonToken): UTF8String = t match {
      case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
      case JsonToken.VALUE_TRUE => T_TRUE
      case JsonToken.VALUE_FALSE => T_FALSE
      case JsonToken.VALUE_NULL => T_NULL
      case JsonToken.VALUE_NUMBER_INT
          if p.getNumberType == JsonParser.NumberType.INT =>
        UTF8String.fromString(Integer.toString(p.getIntValue))
      case JsonToken.VALUE_NUMBER_INT
          if p.getNumberType == JsonParser.NumberType.LONG =>
        UTF8String.fromString(java.lang.Long.toString(p.getLongValue))
      case JsonToken.VALUE_NUMBER_FLOAT
          if p.getNumberType == JsonParser.NumberType.DOUBLE &&
            java.lang.Double.isFinite(p.getDoubleValue) =>
        UTF8String.fromString(java.lang.Double.toString(p.getDoubleValue))
      case _ => generate(_.copyCurrentEvent(p))
    }

    /** The spans' texts, once the whole document parsed. */
    def copySpans(): Unit = if (spans != null) {
      var id = 0
      while (id < n) {
        val s = spans(2 * id)
        if (s >= 0) {
          val q = lenient.createParser(bytes, off + s.toInt,
            (spans(2 * id + 1) - s).toInt)
          try {
            q.nextToken()
            texts(id) = generate(_.copyCurrentStructure(q))
          } finally q.close()
        }
        id += 1
      }
    }
  }

  private def generate(
      write: com.fasterxml.jackson.core.JsonGenerator => Unit): UTF8String = {
    val out = new ByteArrayOutputStream()
    val g = lenient.createGenerator(out, JsonEncoding.UTF8)
    try write(g) finally g.close()
    UTF8String.fromBytes(out.toByteArray)
  }

  /** Shared by interpreted eval and generated code: the probe's row of
    * (kind, text) slots, or null when the document is malformed. */
  def probeAt(s: UTF8String, paths: JsonPaths): InternalRow = {
    val n = paths.paths.length
    val run = s.getBaseObject match {
      case b: Array[Byte] => new ProbeRun(b,
        (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes, n)
      case _ => new ProbeRun(s.getBytes, 0, s.numBytes, n)
    }
    try {
      if (run.p.nextToken() == null) return null
      run.walk(paths.root, viaKey = false)
      run.copySpans()
    } catch { case _: java.io.IOException => return null }
    finally run.p.close()
    val row = new Array[Any](2 * n)
    var i = 0
    while (i < n) {
      row(2 * i) = run.kinds(i)
      row(2 * i + 1) = run.texts(i)
      i += 1
    }
    new GenericInternalRow(row)
  }

  /** Kind of the raw token at `$.a.b`-style object-key path. */
  def tokenKind(c: Column, steps: Seq[String]): Column =
    ColumnShim.column(JsonTokenKind(ColumnShim.expression(c), steps,
      elements = false))

  /** Element kinds of the array at the path (null if not an array). */
  def elementKinds(c: Column, steps: Seq[String]): Column =
    ColumnShim.column(JsonTokenKind(ColumnShim.expression(c), steps,
      elements = true))
}
