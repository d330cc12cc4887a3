package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Tokenizer family (L20/L20d/L35): BPE pair counts, the unrolled
  * merge-training loop, tokenization with a trained vocab, fertility,
  * and sliding-window chunking — q94/q108/q113/q123/q134 + the
  * unrolled BPE oracle CTEs.
  *
  * Split out of LLMQueries by family (round 13, pure moves).
  */
private[operators] trait TextTokenizers {
  this: LLMQueries.type =>

  /** Top pair count for [[bpePairCounts]]. */
  private val BpeTopPairs = 20

  /** BPE tokenizer training, step one: corpus-wide adjacent character-pair
    * frequencies (each pair weighted by its word's corpus frequency) —
    * the statistic the first BPE merge maximizes. At round 0 every
    * symbol is a single char, so an adjacent SYMBOL pair coincides with
    * a 2-char substring, which both engines slice identically — no
    * engine-specific char-split is needed for this first-round
    * statistic. The actual training loop ([[bpeMergeLoop]], q108) is
    * full symbol-level BPE over symbol ARRAYS: later rounds recount
    * pairs over merged symbols, so merge №2 can consume merge №1's
    * output symbol (cascading-merge fixture pinned in LLMQueriesSpec).
    *
    * Scale shape: the word-frequency aggregation is the only corpus-wide
    * shuffle (vocabulary-sized output); pair counting then runs over the
    * VOCABULARY (times ~word-length pairs each), not the corpus — the
    * same collapse a real BPE trainer relies on. Top pairs via
    * TakeOrderedAndProject (deterministic total+pair tie-break), never a
    * global-window single reducer.
    */
  def bpePairCounts(spark: SparkSession, dir: String): DataFrame =
    bpePairCountsOf(docs(spark, dir))

  private[operators] def bpePairCountsOf(docsDf: DataFrame): DataFrame = {
    val wc = docsDf
      .select(explode(split(col("text"), "\\s+")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    wc.filter(length(col("t")) >= 2)
      .select(col("n"), explode(expr(
        "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("n")).as("total"))
      .orderBy(col("total").desc, col("pair"))
      .limit(BpeTopPairs)
  }

  /** Merge rounds for the BPE training loop (q108). */
  private[operators] val BpeMergeRounds = 4

  /** L20b: the BPE tokenizer-training LOOP — q94 stops at the statistic
    * the first merge maximizes; this runs the actual training iteration
    * (pick best pair → apply the merge to every vocabulary word →
    * recount → repeat) for [[BpeMergeRounds]] rounds and emits the merge
    * table, the artifact a tokenizer trainer persists (VERDICT r8 "Next
    * round" #2).
    *
    * Greedy left-to-right merge without a sequential fold: a position i
    * is marked iff (s[i], s[i+1]) is the best pair; marked positions are
    * only ever ADJACENT when pa = pb (runs of a repeated symbol), and
    * greedy scanning keeps exactly the even-offset marks of each maximal
    * marked run. That turns the merge into three pure array lambdas
    * (marks → kept → rebuild), identical in Spark and DuckDB — no UDF,
    * no explode, no per-word recursion. The kept lambda's run-start
    * search is O(word²) worst case, on vocabulary words (≤ ~20 chars),
    * not corpus text.
    *
    * Scale shape, per round: pair recount = one vocabulary-sized groupBy
    * (map-side combined); best pair = TakeOrderedAndProject(1); merge =
    * a broadcast single-row cross join + narrow projection. Rounds are
    * driver-side plan iterations with lineage truncated per round (the
    * star-CC pattern); at a real tokenizer's 50k merges the same loop
    * runs with the vocabulary cached — nothing here is corpus-sized
    * after the initial word count.
    */
  def bpeMergeLoop(spark: SparkSession, dir: String): DataFrame =
    bpeMergeLoopOf(docs(spark, dir), BpeMergeRounds)

  private[operators] def bpeMergeLoopOf(
      docsDf: DataFrame, rounds: Int): DataFrame =
    bpeLoop(docsDf, rounds)._1.get.orderBy(col("round"))

  /** The trained vocabulary after `rounds` merges: (t, s, n) with `s`
    * the word's final symbol sequence — what [[bpeTokenize]] applies.
    * private[graft] so [[graft.Soak]]'s `bpe` scenario can price
    * realistic merge counts. */
  private[graft] def bpeVocabAfter(
      docsDf: DataFrame, rounds: Int): DataFrame =
    bpeLoop(docsDf, rounds)._2

  private def bpeLoop(
      docsDf: DataFrame, rounds: Int): (Option[DataFrame], DataFrame) = {
    // initial vocabulary: word → corpus frequency, word as char symbols.
    // Single-char words can never merge nor contribute pairs — dropped,
    // matching q94's pair universe (length >= 2). The original word `t`
    // rides along so the trained vocabulary can be joined back to text.
    var vocab = docsDf
      .select(explode(split(col("text"), "\\s+")).as("t"))
      .filter(length(col("t")) >= 2)
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .select(col("t"), expr(
        "transform(sequence(1, length(t)), i -> substring(t, i, 1))")
        .as("s"), col("n"))
      .transform(graft.Materialize.shared)
    var out: Option[DataFrame] = None
    for (r <- 1 to rounds) {
      // recount adjacent pairs over the CURRENT vocabulary (weighted by
      // word frequency), then take the single best (total desc, then
      // lexicographic pair — the portable tie-break)
      val best = vocab
        .filter(size(col("s")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(1, size(s) - 1)," +
            " i -> struct(element_at(s, i) AS pa," +
            " element_at(s, i + 1) AS pb))")).as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("n")).as("total"))
        .orderBy(col("total").desc, col("pa"), col("pb"))
        .limit(1)
        .transform(graft.Materialize.shared) // feeds output row + merge join
      val row = best.select(lit(r).cast("long").as("round"),
        col("pa"), col("pb"), col("total"))
      out = Some(out.map(_.unionByName(row)).getOrElse(row))
      // LEFT join on the 1-row best pair, not a cross join: once the
      // pair space is EXHAUSTED (every word fully merged — reachable at
      // realistic merge counts, see `Soak bpe`) `best` is empty, and a
      // cross join would silently erase the vocabulary; under the left
      // join pa/pb are null, no position marks, and every word passes
      // through unchanged — training becomes a fixed point, which is
      // what a real trainer's early-stop produces. Identical output
      // whenever a best pair exists (the q108 oracle regime).
      vocab = vocab.join(broadcast(best.select(col("pa"), col("pb"))),
          lit(true), "left")
        // marks[i] ⟺ (s[i], s[i+1]) is the best pair (1-based, empty
        // for 1-symbol words — sequence(1, 0) DESCENDS in Spark, guard)
        .withColumn("marks", expr(
          "if(size(s) >= 2, transform(sequence(1, size(s) - 1)," +
            " i -> element_at(s, i) = pa AND element_at(s, i + 1) = pb)," +
            " cast(array() as array<boolean>))"))
        // greedy keep: within each maximal run of marks keep even
        // offsets from the run start (runs only exist when pa = pb)
        .withColumn("kept", expr(
          "if(size(marks) = 0, cast(array() as array<boolean>)," +
            " transform(sequence(1, size(marks))," +
            " i -> element_at(marks, i) AND (i - 1 -" +
            " coalesce(array_max(filter(sequence(1, size(marks))," +
            " j -> j < i AND NOT element_at(marks, j))), 0)) % 2 = 0))"))
        // rebuild: kept position emits the merged symbol, the position
        // after a kept one is consumed, everything else passes through
        .select(col("t"), expr(
          "if(size(kept) = 0, s, flatten(transform(sequence(1, size(s))," +
            " i -> CASE WHEN i < size(s) AND element_at(kept, i)" +
            " THEN array(concat(element_at(s, i), element_at(s, i + 1)))" +
            " WHEN i > 1 AND element_at(kept, i - 1)" +
            " THEN cast(array() as array<string>)" +
            " ELSE array(element_at(s, i)) END)))").as("s"), col("n"))
        // truncate per-round lineage; EAGERLY every 16 rounds — a lazy
        // checkpoint only truncates after its first action, so a long
        // training run (`Soak bpe` at 256 merges) otherwise serializes the
        // whole multi-hundred-round RDD chain into each task and dies
        // in a deserialization StackOverflowError (~round 200,
        // measured). Eager every 16 bounds the chain at 16 rounds and
        // changes nothing at the shipped 4-round queries.
        .transform(ds => if (r % 16 == 0) graft.Materialize.now(ds)
          else graft.Materialize.shared(ds))
    }
    (out, vocab)
  }

  /** L20c: tokenize the corpus with the TRAINED tokenizer — apply the
    * q108 merge table and count per-document tokens, the statistic every
    * training-data budget is denominated in (q61's whitespace/regex
    * counts approximate it; this is the real number under the learned
    * vocabulary). Scale shape: the merges run over the VOCABULARY
    * (q108's loop, unchanged); the corpus-sized work is one word explode
    * joined to the broadcast-sized vocabulary and a doc_id-keyed sum —
    * exactly how a production tokenizer amortizes (encode each distinct
    * word once, not each occurrence). Words under 2 chars are single
    * tokens by construction (never merge), covered by the coalesce. */
  def bpeTokenize(spark: SparkSession, dir: String): DataFrame =
    bpeTokenizeOf(docs(spark, dir), BpeMergeRounds)

  /** The trained vocabulary as the PERSISTABLE artifact (t, n_tok) —
    * what a production pipeline writes once per tokenizer release
    * (IndexStore family `bpe_vocab`). */
  private[operators] def bpeVocabOf(d: DataFrame, rounds: Int): DataFrame =
    bpeVocabAfter(d, rounds)
      .select(col("t"), size(col("s")).cast("long").as("n_tok"))

  /** Apply a (possibly disk-read) trained vocabulary to a document
    * frame — the daily leg of the tokenizer lifecycle. */
  private[operators] def tokenizeWithVocab(tokens: DataFrame,
      d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("t"))
      .filter(length(col("t")) >= 1)
      .join(broadcast(tokens), Seq("t"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_tok"), lit(1L))).as("n_tokens"))
      .orderBy(col("doc_id"))

  private[operators] def bpeTokenizeOf(d: DataFrame, rounds: Int): DataFrame =
    tokenizeWithVocab(bpeVocabOf(d, rounds), d)

  /** L20d/q134: tokenizer FERTILITY by language — the per-release
    * evaluation every multilingual tokenizer gets: tokens-per-word
    * (fertility) and chars-per-token under the trained vocabulary,
    * aggregated per language. A language with outlier fertility is
    * under-served by the merge table (its words shatter into chars),
    * which silently taxes its effective context window and its share
    * of a token-denominated training budget — the number a mixture
    * designer reads next to q90/q133.
    *
    * Scale shape: q113's tokenize (merges run over the VOCABULARY, the
    * corpus-sized work is one explode + broadcast join + doc_id sum)
    * followed by one |languages|-row aggregate; ratios are exact
    * integer micro-units (non-negative, so Spark `div` == DuckDB
    * `//`). */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    bpeTokenizeOf(d, BpeMergeRounds)
      .join(d.select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("fertility_micro",
        expr("n_tokens * 1000000L div n_words"))
      .withColumn("chars_per_token_micro",
        expr("n_chars * 1000000L div n_tokens"))
      .orderBy(col("lang"))
  }

  /** Chunk window and stride (words) for q123; stride < window, so
    * consecutive chunks overlap by ChunkTokens − ChunkStride words — the
    * standard RAG/embedding chunker contract (boundary-straddling
    * content appears intact in at least one chunk). */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** L35/q123: overlapping token-window CHUNKING — the primitive between
    * curation and embedding in every retrieval/embedding pipeline: each
    * document becomes ceil-covering [[ChunkTokens]]-word windows at
    * [[ChunkStride]] word steps with stable (doc_id, chunk_idx) keys, so
    * chunk embeddings stay joinable back to their documents across
    * reruns and appends. Short docs yield exactly one (possibly short)
    * chunk; the final window may be a partial tail.
    *
    * Scale shape: a pure per-row lambda (the word array binds once — the
    * [[fingerprintExpr]] idiom) into ONE posexplode; no join, no
    * aggregation, no shuffle beyond the output's ORDER BY. Chunk count
    * is 1 + ceil((n − window)/stride) — identical integer arithmetic in
    * both engines. */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame =
    chunkDocsOf(docs(spark, dir))

  private[operators] def chunkDocsOf(d: DataFrame): DataFrame = {
    val chunksExpr = expr(
      "transform(array(split(text, '\\\\s+')), w -> " +
        s"transform(sequence(0, greatest(1, cast(ceil((size(w) - " +
        s"$ChunkTokens) / ${ChunkStride}.0d) as int) + 1) - 1), " +
        s"i -> concat_ws(' ', slice(w, i * $ChunkStride + 1, " +
        s"$ChunkTokens))))[0]")
    d.select(col("doc_id"), chunksExpr.as("cl"))
      .select(col("doc_id"), posexplode(col("cl")))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        size(split(col("col"), "\\s+")).cast("long").as("n_tokens"),
        col("col").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Unrolled BPE-training CTEs (the q100 kmeans pattern): `v0` is the
    * char-split vocabulary with the original word `t` carried through;
    * per round r, `b{r}` picks the best pair and `v{r}` applies the
    * SAME positional greedy-merge lambdas as the engine (micro-tested
    * equivalent). Shared by q108 (merge table) and q113 (tokenize), so
    * the training oracle and the application oracle cannot drift. */
  private def bpeCtes(rounds: Int): String = {
    def bestCte(r: Int) =
      s"""b$r AS (
         |  SELECT pa, pb, CAST(sum(n) AS BIGINT) AS total
         |  FROM (SELECT s[i] AS pa, s[i + 1] AS pb, n
         |        FROM v${r - 1}, LATERAL unnest(range(1, len(s))) AS x(i))
         |  GROUP BY pa, pb ORDER BY total DESC, pa, pb LIMIT 1)""".stripMargin
    def mergeCte(r: Int) =
      s"""v$r AS (
         |  SELECT t, CASE WHEN len(kept) = 0 THEN s
         |    ELSE flatten(list_transform(range(1, len(s) + 1),
         |      i -> CASE WHEN i < len(s) AND kept[i] THEN [s[i] || s[i + 1]]
         |                WHEN i > 1 AND kept[i - 1] THEN []::VARCHAR[]
         |                ELSE [s[i]] END)) END AS s, n
         |  FROM (
         |    SELECT t, s, n, CASE WHEN len(marks) = 0 THEN []::BOOLEAN[]
         |      ELSE list_transform(range(1, len(marks) + 1),
         |        i -> marks[i] AND (i - 1 - coalesce(list_max(list_filter(
         |          range(1, len(marks) + 1), j -> j < i AND NOT marks[j])),
         |          0)) % 2 = 0) END AS kept
         |    FROM (
         |      SELECT t, s, n, CASE WHEN len(s) >= 2
         |        THEN list_transform(range(1, len(s)),
         |               i -> s[i] = b.pa AND s[i + 1] = b.pb)
         |        ELSE []::BOOLEAN[] END AS marks
         |      FROM v${r - 1}, b$r AS b)))""".stripMargin
    s"""v0 AS (
       |  SELECT t, list_transform(range(1, length(t) + 1),
       |           i -> substr(t, i, 1)) AS s, n
       |  FROM (SELECT t, count(*) AS n
       |        FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS t
       |              FROM documents)
       |        WHERE length(t) >= 2 GROUP BY t)),
       |""".stripMargin +
      (1 to rounds).map(r => s"${bestCte(r)},\n${mergeCte(r)}")
        .mkString(",\n")
  }

  /** q113's oracle SQL, shared with the q134 fertility composition. */
  private def bpeTokenizeSql: String =
    s"""WITH ${bpeCtes(BpeMergeRounds)},
       |tok AS (SELECT t, CAST(len(s) AS BIGINT) AS n_tok
       |        FROM v$BpeMergeRounds),
       |words AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t
       |  FROM documents),
       |ws AS (SELECT doc_id, t FROM words WHERE length(t) >= 1)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(coalesce(n_tok, 1)) AS BIGINT) AS n_tokens
       |FROM ws LEFT JOIN tok USING (t)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle SQL of the tokenizer family — merged into [[LLMQueries.oracle]]. */
  private[operators] def tokenizerOracle: Map[String, String] = Map(
    "q108_bpe_merge_loop" -> {
      val unioned = (1 to BpeMergeRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, pa, pb, total FROM b$r")
        .mkString("\n  UNION ALL ")
      s"""WITH ${bpeCtes(BpeMergeRounds)}
         |SELECT round, pa, pb, total FROM (
         |  $unioned) ORDER BY round""".stripMargin
    },
    // q113: per-doc token counts under the TRAINED vocabulary — the
    // final merged vocab v{N} joined back to the corpus word stream;
    // sub-2-char words are single tokens (never in the vocab → coalesce)
    "q113_bpe_tokenize" -> bpeTokenizeSql,
    // q134 NESTS the q113 oracle (the q115/q110 composition pattern) so
    // fertility and the tokenizer cannot drift apart
    "q134_tokenizer_fertility" ->
      s"""WITH pd AS (SELECT doc_id, n_words, n_tokens FROM (
         |$bpeTokenizeSql)),
         |j AS (
         |  SELECT pd.doc_id, pd.n_words, pd.n_tokens, d.lang, d.n_chars
         |  FROM pd JOIN documents d USING (doc_id))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_words,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  CAST(sum(n_tokens) * 1000000 // sum(n_words) AS BIGINT)
         |    AS fertility_micro,
         |  CAST(sum(n_chars) * 1000000 // sum(n_tokens) AS BIGINT)
         |    AS chars_per_token_micro
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin,
    // q123: same ceil-covering chunk-count arithmetic, DuckDB list_slice
    // is end-inclusive where Spark slice takes a length
    "q123_chunk_docs" ->
      s"""WITH wa AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w
         |  FROM documents),
         |ch AS (
         |  SELECT doc_id, i AS chunk_idx,
         |    array_to_string(list_slice(w, i * $ChunkStride + 1,
         |      i * $ChunkStride + $ChunkTokens), ' ') AS chunk_text
         |  FROM wa, LATERAL unnest(range(0, greatest(1,
         |    CAST(ceil((len(w) - $ChunkTokens) / ${ChunkStride}.0)
         |      AS INT) + 1))) AS t(i))
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(len(string_split_regex(chunk_text, '\\s+')) AS BIGINT)
         |    AS n_tokens,
         |  chunk_text
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "q94_bpe_pairs" ->
      s"""WITH words AS (
         |  SELECT unnest(string_split_regex(text, '\\s+')) AS t
         |  FROM documents),
         |wc AS (SELECT t, count(*) AS n FROM words GROUP BY t),
         |pairs AS (
         |  SELECT substr(t, i, 2) AS pair, n
         |  FROM wc, LATERAL unnest(range(1, length(t))) AS x(i)
         |  WHERE length(t) >= 2)
         |SELECT pair, CAST(sum(n) AS BIGINT) AS total
         |FROM pairs GROUP BY pair
         |ORDER BY total DESC, pair LIMIT $BpeTopPairs""".stripMargin)
}
