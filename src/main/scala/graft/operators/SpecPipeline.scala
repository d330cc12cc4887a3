package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.functions.JsonPaths
import scala.collection.immutable.ListMap

/** The reference system's own dataflows, rendered Spark-first:
  *
  *  - q10/q11 — the result-processing pipeline (/root/reference/README.md:86-104):
  *    JSONL result scan (S2) → nested extract of
  *    `response.body.choices[0].message.content` (F1/F2/F3) → response/error
  *    branch (P4) → user-schema validation → key-equi join to target docs
  *    (J2) → `$push` array append on success, `failed` status otherwise
  *    (F2/F6, README.md:100-102) → per-job outcome rollup (A7).
  *  - q12 — the ingest validation path (README.md:55-67): line-numbered
  *    JSONL scan (S1), malformed-JSON split (P2), required-keys predicate
  *    (P1), model-consistency check against the FIRST line's model (A1,
  *    README.md:61), `custom_id` existence anti-join (J1, README.md:67),
  *    error-detail projection (P3, README.md:43-52).
  *
  * The batch-result and request "files" are derived deterministically from
  * `orders` (driver contract: inputs come from the sf parquet tables), then
  * serialized through to_json and parsed again — so the JSON scan/extract
  * path is exercised for real, not simulated. q10/q11 parse each JSON
  * string (the line, its content, q10's last event) once per row, through
  * one native [[graft.functions.JsonProbe]] projected as its own column;
  * q12 keeps from_json, whose corrupt-record split is the spec's
  * malformed-line check. The DuckDB oracle rebuilds the same JSON with
  * json_object and extracts through the same paths.
  *
  * Scale posture: everything is a single pass over orders plus one
  * key-equi join (J2) that shuffles both sides on custom_id; no windows, no
  * collects. A1's first-line-model lookup is a 1-row broadcast.
  */
object SpecPipeline {

  // ---- shared derivation ---------------------------------------------

  /** Deterministic defect taxonomy, keyed off o_orderkey:
    *   %13 → OpenAI-level error line (P4 error branch)
    *   %7  → content missing the required `category` key (schema-invalid)
    *   %9  → confidence shifted +0.5, may exceed the [0,1] bound
    *   %5  → target doc has a pre-existing event_response entry
    */
  private def base(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"))
      // The sf parquet is one file → a one-partition scan, and nothing
      // below introduces an exchange before the CPU-heavy JSON
      // serialize/parse stages — so without this explicit repartition the
      // whole pipeline (including the broadcast-side build) runs in ONE
      // task (observed 8–120 s single-threaded at sf0.1 vs ~2 s wide).
      // Width AQE-sized since round 16 (Scale.byKey): the slim (k, prio)
      // shuffle coalesces to a handful of ≥1 MB tasks — measured ~1-2 s
      // of JSON work each at sf0.1 — instead of 32 pinned tasks whose
      // fixed overhead dominated. Hash on the key keeps the layout
      // deterministic (round-robin would need a sort to be retry-safe).
      .transform(graft.Scale.byKey(_, col("k")))
      .withColumn("custom_id", concat(lit("order-"), col("k")))
      .withColumn("category",
        when(col("k") % 7 =!= 0,
          lower(element_at(split(col("prio"), "-"), 2))))
      .withColumn("confidence",
        (col("k") % 1000).cast("double") / 1000.0 +
          when(col("k") % 9 === 0, 0.5).otherwise(0.0))

  /** S2 stand-in: one OpenAI batch-result JSONL line per order, serialized
    * for real with to_json (null branches are omitted from the JSON, like
    * absent keys in the reference's result file, README.md:96).
    */
  private def resultLines(spark: SparkSession, dir: String): DataFrame =
    base(spark, dir)
      .withColumn("content",
        to_json(struct(col("category"), col("confidence"))))
      .select(col("k"), col("prio"), to_json(struct(
        col("custom_id"),
        when(col("k") % 13 === 0,
          struct(lit("rate_limit_exceeded").as("code"),
            lit("Rate limit reached").as("message"))).as("error"),
        when(col("k") % 13 =!= 0,
          struct(lit(200L).as("status_code"),
            struct(array(struct(
              struct(lit("assistant").as("role"), col("content"))
                .as("message"))).as("choices")).as("body"))).as("response")))
        .as("line"))

  private val ContentPath = "$.response.body.choices[0].message.content"
  /** The result line's paths (README.md:93-96), read by one probe. */
  private val linePaths =
    JsonPaths(Seq("$.custom_id", "$.error", ContentPath))

  /** The user-supplied response-content schema (README.md:99 — callers
    * pass a JSON Schema string at request time). Compiled once on the
    * driver by [[graft.functions.JsonSchemaLite]] into a Column
    * predicate; semantically identical to the previous hand-rolled
    * check (`required` rejects a missing category the way
    * `.isNotNull` did; a missing/non-numeric confidence nulls the
    * bound comparison, which the compiled predicate coalesces to
    * false exactly as `between`'s null behaved under `when`). */
  private val ResponseSchemaJson =
    """{"type":"object","required":["category"],
      |"properties":{"category":{"type":"string"},
      |"confidence":{"type":"number","minimum":0,"maximum":1}}}"""
      .stripMargin
  private val responseValid = graft.functions.JsonSchemaLite
    .compile(ResponseSchemaJson)

  /** A result-line frame's `line` column replaced by its custom_id,
    * is_err and content (README.md:93-96), all read from one probe of
    * [[linePaths]] projected as its own column, so the line is parsed
    * once per row. */
  private[graft] def lineFields(lines: DataFrame): DataFrame = {
    val line = col("line_probe")
    lines.withColumn("line_probe", linePaths.probe(col("line")))
      // non-nullable join key: for a nullable one q10's join infers an
      // isnotnull filter, which pushdown rewrites to the whole to_json →
      // parse and runs in the one-task scan stage before Scale.byKey's
      // exchange. Exact: no target id is empty.
      .withColumn("custom_id",
        coalesce(linePaths.text(line, "$.custom_id"), lit("")))
      // an `error` that is not an object is no error, as a struct-typed
      // from_json read of it gives null
      .withColumn("is_err",
        linePaths.kind(line, "$.error").eqNullSafe("object"))
      .withColumn("content", linePaths.text(line, ContentPath))
      .drop("line", "line_probe")
  }

  /** Parse + extract + validate each result line (README.md:93-102): the
    * line through [[lineFields]], the content through one probe of the
    * user schema's paths, which also yields the confidence.
    * Columns: k, prio, custom_id, is_err, content, is_valid, confidence.
    */
  private def judgedResults(spark: SparkSession, dir: String): DataFrame = {
    val content = col("content_probe")
    lineFields(resultLines(spark, dir))
      .withColumn("content_probe", responseValid.paths.probe(col("content")))
      .withColumn("is_valid",
        !col("is_err") && responseValid(col("content"), content))
      .withColumn("confidence", responseValid.paths
        .text(content, "$.confidence").try_cast("double"))
      .drop("content_probe")
  }

  /** Target document collection (README.md:129-138): keyed by custom_id,
    * status `in_progress`, with an existing event_response array for a
    * deterministic subset so the `$push`-append genuinely appends.
    */
  private def targets(spark: SparkSession, dir: String): DataFrame = {
    val emptyResponses =
      array().cast("array<struct<event_response:string,updated:timestamp>>")
    base(spark, dir).select(
      col("custom_id"),
      when(col("k") % 5 === 0,
        array(struct(
          lit("""{"category":"seed","confidence":0.5}""").as("event_response"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("updated"))))
        .otherwise(emptyResponses).as("event_response"))
  }

  // ---- q10: the flagship merge ---------------------------------------

  /** The paths q10 reads of the merged array's last event_response. */
  private val lastPaths = JsonPaths(Seq("$.category", "$.confidence"))

  /** Per-document final state after result processing: `$push` of
    * {event_response, updated} + ai_status=completed on valid content;
    * ai_status=failed (array untouched) on error or invalid content
    * (README.md:100-102). Output projects the merged array's size and its
    * last element so the append semantics are oracle-checkable.
    */
  def flagshipResults(spark: SparkSession, dir: String): DataFrame = {
    val now = lit("2024-06-01 00:00:00").cast("timestamp")
    val last = col("last_probe")
    targets(spark, dir)
      .join(judgedResults(spark, dir), Seq("custom_id"))
      .withColumn("merged",
        when(col("is_valid"),
          concat(col("event_response"),
            array(struct(col("content").as("event_response"),
              now.as("updated")))))
          .otherwise(col("event_response")))
      .select(col("custom_id"),
        when(col("is_valid"), "completed").otherwise("failed").as("ai_status"),
        size(col("merged")).cast("long").as("n_responses"),
        expr("try_element_at(merged, -1)").getField("event_response")
          .as("last_event"))
      // sorted before the last element is parsed: the range exchange's
      // bound-sampling job and its map stage each re-run their input, so
      // the JSON projection above the sort runs once, in the write stage
      .orderBy(col("custom_id"))
      .withColumn("last_probe", lastPaths.probe(col("last_event")))
      .select(col("custom_id"), col("ai_status"), col("n_responses"),
        lastPaths.text(last, "$.category").as("last_category"),
        lastPaths.text(last, "$.confidence").cast("double")
          .as("last_confidence"))
  }

  /** A7 rollup of the same run: per priority, counts of error lines,
    * schema-invalid content, and successful updates (README.md:100-102's
    * outcome split), plus the exact mean confidence of accepted content.
    */
  def resultOutcomes(spark: SparkSession, dir: String): DataFrame =
    judgedResults(spark, dir)
      .groupBy(col("prio"))
      .agg(
        count(lit(1)).as("n_lines"),
        count(when(col("is_err"), 1)).as("n_errors"),
        count(when(!col("is_err") && !col("is_valid"), 1)).as("n_invalid"),
        count(when(col("is_valid"), 1)).as("n_completed"),
        round(sum(when(col("is_valid"), col("confidence"))
          .cast("decimal(18,6)")).cast("double")
          / count(when(col("is_valid"), 1)), 6).as("avg_confidence"))
      .orderBy(col("prio"))

  // ---- q12: ingest validation ----------------------------------------

  /** S1 stand-in: one request JSONL line per order with deterministic
    * defects. %101 → malformed JSON (closing brace chopped); %37 → missing
    * required `custom_id`; %23 → method GET instead of POST; %17 → model
    * differs from the first line's. Target collection = docs whose key is
    * not ≡0 mod 11, so %11 lines fail the existence check (README.md:67).
    */
  private def requestLines(spark: SparkSession, dir: String): DataFrame = {
    // line_no via the scalable range-partition + offset pattern: a global
    // row_number window would funnel the whole file through ONE task and
    // serialize the JSON build downstream of it (graft.functions.LineNumbers)
    graft.functions.LineNumbers
      .byKey(base(spark, dir), "k", "line_no",
        spark.sessionState.conf.numShufflePartitions)
      .select(col("k"), col("line_no"), to_json(struct(
        when(col("k") % 37 =!= 0, col("custom_id")).as("custom_id"),
        when(col("k") % 23 === 0, "GET").otherwise("POST").as("method"),
        lit("/v1/chat/completions").as("url"),
        struct(
          when(col("k") % 17 === 0, "gpt-4o").otherwise("gpt-4o-mini")
            .as("model"),
          array(struct(lit("user").as("role"),
            concat(lit("summarize order "), col("k")).as("content")))
            .as("messages")).as("body"))).as("line"))
      .withColumn("line",
        when(col("k") % 101 === 0,
          expr("substring(line, 1, length(line) - 1)"))
          .otherwise(col("line")))
  }

  private val requestSchema = StructType.fromDDL(
    """custom_id string, method string, url string,
      |body struct<model: string,
      |  messages: array<struct<role: string, content: string>>>,
      |_corrupt_record string""".stripMargin)

  /** The §4 validation verdict (README.md:55-67) as one error-detail frame
    * {line, error_type, custom_id} (P3, README.md:43-52). Precedence per
    * line: malformed JSON > required keys > model mismatch > unknown
    * custom_id — one error per line, like the reference's per-line checks.
    */
  def ingestValidation(spark: SparkSession, dir: String): DataFrame = {
    // single pass over the file: parse once, classify with one CASE chain
    // (a branch-per-frame union would re-run the scan + parse + global
    // line-number window once per error class — measured 4×+ the cost).
    // Materialized eagerly: two concurrent consumers (the expected-model
    // broadcast and the classification join). Lazily, column pruning
    // gives each consumer its own subtree, so each re-ran the line-number
    // window → to_json → from_json; a lazy checkpoint read by the two
    // racing stages can still compute twice (Materialize scaladoc).
    val parsed = graft.Materialize.now(requestLines(spark, dir)
      .withColumn("r", from_json(col("line"), requestSchema,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")))
      .select(col("line_no"),
        col("r._corrupt_record").isNotNull.as("is_corrupt"),
        col("r.custom_id").as("custom_id"),
        col("r.method").as("method"),
        col("r.body.model").as("model")))

    // A1: the expected model is the FIRST line's (README.md:61) — a 1-row
    // aggregate broadcast back across the file. Corrupt lines are
    // excluded inside the aggregate: min_by skips null ordering keys, as
    // DuckDB's arg_min does.
    val expected = parsed
      .agg(min_by(col("model"),
        when(!col("is_corrupt"), col("line_no"))).as("expected_model"))

    // J1: existence check against the target collection's keys — a left
    // join whose null side IS the anti-join result, so the classification
    // below stays one pass. Key set projected straight off the base keys
    // (NOT via targets(), whose event_response arrays would be built just
    // to be pruned), and NOT force-broadcast: the target collection is the
    // big side at scale, so the key join shuffles and AQE may still
    // broadcast it when small.
    val known = base(spark, dir).filter(col("k") % 11 =!= 0)
      .select(col("custom_id"), lit(true).as("found"))

    parsed.crossJoin(broadcast(expected))
      .join(known, Seq("custom_id"), "left")
      .withColumn("error_type",
        when(col("is_corrupt"), "jsonl_format_error")
          .when(col("custom_id").isNull || col("method") =!= "POST",
            "jsonl_format_error")
          .when(col("model") =!= col("expected_model"), "model_mismatch")
          .when(col("found").isNull, "custom_id_not_found"))
      .filter(col("error_type").isNotNull)
      .select(col("line_no"), col("error_type"),
        when(col("is_corrupt"), lit(null).cast("string"))
          .otherwise(col("custom_id")).as("custom_id"))
      .orderBy(col("line_no"))
  }

  /** Single-pass data-quality counters for the ingest path via Spark's
    * Observation API: total / corrupt / missing-key / bad-method line
    * counts are collected as accumulator-backed metrics ON the same scan
    * that produces the result — no second pass over the file. At 100 TB
    * a separate counting aggregate re-reads the corpus; `observe()` is
    * free. Returns (validated frame, metrics map) — the caller must run
    * an action on the frame before reading the map.
    */
  def observedIngest(spark: SparkSession, dir: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("ingest_quality")
    val out = ingestValidation(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_error_lines"),
        count(when(col("error_type") === "jsonl_format_error", 1))
          .as("n_format_errors"),
        count(when(col("error_type") === "model_mismatch", 1))
          .as("n_model_mismatch"),
        count(when(col("error_type") === "custom_id_not_found", 1))
          .as("n_unknown_ids"))
    (out, obs)
  }

  // ---- q99: array-schema validation ----------------------------------

  /** The user-supplied schema for q99 — exercises the keywords the q10
    * schema cannot (array `type`, per-element `items` constraints,
    * `pattern`, `maxLength`) on top of required/bounds. */
  private val TagSchemaJson =
    """{"type":"object","required":["tags","code"],
      |"properties":{
      |"tags":{"type":"array",
      |  "items":{"type":"string","minLength":2,"pattern":"^[a-z]+$"}},
      |"code":{"type":"string","pattern":"^[A-Z]{2}-","maxLength":8},
      |"score":{"type":"integer","minimum":0,"maximum":100}}}""".stripMargin
  private val tagSchemaValid =
    graft.functions.JsonSchemaLite.compile(TagSchemaJson)

  /** q99: user-schema validation over ARRAY-valued response content
    * (README.md:99 — schemas with list fields, the gap VERDICT r4 named).
    * Deterministic defect taxonomy keyed off doc_id; the when-chain ORDER
    * is mirrored by the oracle's CASE:
    *   %17 → tags is a string, not an array   (type: array fails)
    *   %7  → one tag is "Beta"                (items pattern fails)
    *   %19 → code omitted                     (required fails)
    *   %11 → code 12 chars                    (maxLength fails)
    *   %13 → score 150                        (maximum fails)
    * Scale shape: pure per-row projection, one JSON probe per document
    * (plus the `items` element parse) — no shuffle except the determinism
    * sort. */
  def schemaValidation(spark: SparkSession, dir: String): DataFrame = {
    val k = col("doc_id")
    val tags = when(k % 17 === 0, lit("\"notanarray\""))
      .when(k % 7 === 0, lit("""["alpha","Beta"]"""))
      .otherwise(lit("""["alpha","beta"]"""))
    val code = when(k % 11 === 0,
        concat(lit("AB-"), lpad((k % 1000).cast("string"), 9, "0")))
      .otherwise(concat(lit("AB-"), (k % 100).cast("string")))
    val codePart = when(k % 19 === 0, lit(""))
      .otherwise(concat(lit(",\"code\":\""), code, lit("\"")))
    val score = when(k % 13 === 0, lit(150L)).otherwise(k % 100)
    val js = concat(lit("{\"tags\":"), tags, codePart,
      lit(",\"score\":"), score.cast("string"), lit("}"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), js.as("js"))
      .withColumn("js_probe", tagSchemaValid.paths.probe(col("js")))
      .select(col("doc_id"),
        tagSchemaValid(col("js"), col("js_probe")).as("valid"))
      .orderBy(col("doc_id"))
  }

  val queries: ListMap[String, graft.Q] = ListMap(
    "q10_flagship_results" -> (flagshipResults _),
    "q11_result_outcomes" -> (resultOutcomes _),
    "q12_ingest_validation" -> (ingestValidation _),
    "q99_schema_validation" -> (schemaValidation _))

  /** Shared oracle CTE: the same defect taxonomy + JSON round-trip, built
    * with DuckDB json_object and extracted through the same JSON paths.
    */
  private val oracleBase =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |    'order-' || o_orderkey AS custom_id,
      |    CASE WHEN o_orderkey % 7 <> 0
      |      THEN lower(string_split(o_orderpriority, '-')[2]) END AS category,
      |    (o_orderkey % 1000) / 1000.0 +
      |      CASE WHEN o_orderkey % 9 = 0 THEN 0.5 ELSE 0.0 END AS confidence,
      |    (o_orderkey % 13 = 0) AS is_err,
      |    (o_orderkey % 5 = 0) AS has_seed,
      |    o_orderpriority AS prio
      |  FROM orders),
      |lines AS (
      |  SELECT k, prio, has_seed, custom_id,
      |    CASE WHEN is_err THEN
      |      CAST(json_object('custom_id', custom_id,
      |        'error', json_object('code', 'rate_limit_exceeded',
      |                             'message', 'Rate limit reached')) AS VARCHAR)
      |    ELSE
      |      CAST(json_object('custom_id', custom_id,
      |        'response', json_object('status_code', 200,
      |          'body', json_object('choices', json_array(
      |            json_object('message', json_object(
      |              'role', 'assistant',
      |              'content', CAST(CASE WHEN category IS NULL
      |                THEN json_object('confidence', confidence)
      |                ELSE json_object('category', category,
      |                                 'confidence', confidence) END
      |                AS VARCHAR))))))) AS VARCHAR)
      |    END AS line
      |  FROM base),
      |judged AS (
      |  SELECT k, prio, has_seed, custom_id,
      |    (json_extract(line, '$.error') IS NOT NULL) AS is_err,
      |    line ->> '$.response.body.choices[0].message.content' AS content,
      |    (json_extract(line, '$.error') IS NULL
      |      AND ((line ->> '$.response.body.choices[0].message.content')
      |            ->> '$.category') IS NOT NULL
      |      AND CAST((line ->> '$.response.body.choices[0].message.content')
      |            ->> '$.confidence' AS DOUBLE) BETWEEN 0.0 AND 1.0)
      |      AS is_valid
      |  FROM lines)
      |""".stripMargin

  val oracle: Map[String, String] = Map(
    // q99: same JSON construction (CASE order mirrors the when-chain),
    // validation re-derived through DuckDB's JSON machinery — TRY_CAST
    // of a non-array to VARCHAR[] nulls, coalesced exactly like
    // JsonSchemaLite's null-means-fail semantics. `->>`/`->` fully
    // parenthesized (DuckDB binds them looser than AND).
    "q99_schema_validation" ->
      """WITH j AS (
        |  SELECT doc_id,
        |    '{"tags":' ||
        |    CASE WHEN doc_id % 17 = 0 THEN '"notanarray"'
        |         WHEN doc_id % 7 = 0 THEN '["alpha","Beta"]'
        |         ELSE '["alpha","beta"]' END ||
        |    CASE WHEN doc_id % 19 = 0 THEN ''
        |         ELSE ',"code":"' ||
        |           CASE WHEN doc_id % 11 = 0
        |                THEN 'AB-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 9, '0')
        |                ELSE 'AB-' || CAST(doc_id % 100 AS VARCHAR) END
        |           || '"' END ||
        |    ',"score":' || CAST(CASE WHEN doc_id % 13 = 0 THEN 150
        |                             ELSE doc_id % 100 END AS VARCHAR)
        |    || '}' AS js
        |  FROM documents)
        |SELECT doc_id,
        |  (starts_with((js ->> '$.tags'), '[')
        |   AND coalesce(len(list_filter(TRY_CAST((js -> '$.tags') AS VARCHAR[]),
        |       x -> NOT (length(x) >= 2 AND regexp_matches(x, '^[a-z]+$')))) = 0,
        |     TRUE)
        |   AND ((js ->> '$.code') IS NOT NULL)
        |   AND coalesce(regexp_matches((js ->> '$.code'), '^[A-Z]{2}-'), FALSE)
        |   AND coalesce(length((js ->> '$.code')) <= 8, FALSE)
        |   AND coalesce(TRY_CAST((js ->> '$.score') AS DOUBLE) >= 0, FALSE)
        |   AND coalesce(TRY_CAST((js ->> '$.score') AS DOUBLE) <= 100, FALSE))
        |    AS valid
        |FROM j ORDER BY doc_id""".stripMargin,
    "q10_flagship_results" -> (oracleBase +
      """SELECT custom_id,
        |  CASE WHEN is_valid THEN 'completed' ELSE 'failed' END AS ai_status,
        |  CAST((CASE WHEN has_seed THEN 1 ELSE 0 END) +
        |       (CASE WHEN is_valid THEN 1 ELSE 0 END) AS BIGINT) AS n_responses,
        |  CASE WHEN is_valid THEN content ->> '$.category'
        |       WHEN has_seed THEN 'seed' END AS last_category,
        |  CASE WHEN is_valid THEN CAST(content ->> '$.confidence' AS DOUBLE)
        |       WHEN has_seed THEN 0.5 END AS last_confidence
        |FROM judged
        |ORDER BY custom_id""".stripMargin),
    "q11_result_outcomes" -> (oracleBase +
      """SELECT prio, count(*) AS n_lines,
        |  count(*) FILTER (is_err) AS n_errors,
        |  count(*) FILTER (NOT is_err AND NOT is_valid) AS n_invalid,
        |  count(*) FILTER (is_valid) AS n_completed,
        |  round(CAST(sum(CASE WHEN is_valid THEN
        |      CAST(CAST(content ->> '$.confidence' AS DOUBLE) AS DECIMAL(18,6))
        |    END) AS DOUBLE) / count(*) FILTER (is_valid), 6) AS avg_confidence
        |FROM judged GROUP BY prio ORDER BY prio""".stripMargin),
    "q12_ingest_validation" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, 'order-' || o_orderkey AS custom_id,
        |    row_number() OVER (ORDER BY o_orderkey) AS line_no
        |  FROM orders),
        |req AS (
        |  SELECT k, line_no,
        |    CAST(json_object(
        |      'custom_id', CASE WHEN k % 37 <> 0 THEN custom_id END,
        |      'method', CASE WHEN k % 23 = 0 THEN 'GET' ELSE 'POST' END,
        |      'url', '/v1/chat/completions',
        |      'body', json_object(
        |        'model', CASE WHEN k % 17 = 0 THEN 'gpt-4o' ELSE 'gpt-4o-mini' END,
        |        'messages', json_array(json_object('role', 'user',
        |          'content', 'summarize order ' || k)))) AS VARCHAR) AS line
        |  FROM base),
        |chopped AS (
        |  SELECT k, line_no,
        |    CASE WHEN k % 101 = 0
        |      THEN substring(line, 1, length(line) - 1) ELSE line END AS line
        |  FROM req),
        |parsed AS (
        |  SELECT k, line_no, NOT json_valid(line) AS is_corrupt,
        |    CASE WHEN json_valid(line) THEN line ->> '$.custom_id' END AS custom_id,
        |    CASE WHEN json_valid(line) THEN line ->> '$.method' END AS method,
        |    CASE WHEN json_valid(line) THEN line ->> '$.body.model' END AS model
        |  FROM chopped),
        |expected AS (
        |  SELECT arg_min(model, line_no) AS expected_model
        |  FROM parsed WHERE NOT is_corrupt)
        |SELECT line_no, 'jsonl_format_error' AS error_type,
        |       CAST(NULL AS VARCHAR) AS custom_id
        |FROM parsed WHERE is_corrupt
        |UNION ALL
        |SELECT line_no, 'jsonl_format_error', custom_id
        |FROM parsed WHERE NOT is_corrupt
        |  AND (custom_id IS NULL OR method <> 'POST')
        |UNION ALL
        |SELECT line_no, 'model_mismatch', custom_id
        |FROM parsed, expected
        |WHERE NOT is_corrupt AND custom_id IS NOT NULL AND method = 'POST'
        |  AND model <> expected_model
        |UNION ALL
        |SELECT line_no, 'custom_id_not_found', custom_id
        |FROM parsed, expected
        |WHERE NOT is_corrupt AND custom_id IS NOT NULL AND method = 'POST'
        |  AND model = expected_model AND k % 11 = 0
        |ORDER BY line_no""".stripMargin)
}
