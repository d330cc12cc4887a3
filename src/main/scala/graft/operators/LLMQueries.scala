package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Explode
import scala.collection.immutable.ListMap

/** LLM-training-data pipeline operators over `documents` (SURVEY.md §2.9):
  * exact dedup (L1), MinHash+LSH near-dup with exact-Jaccard verification
  * (L2), SimHash signatures (L2), text stats / quality scoring / token
  * counting / language-ID heuristic (L5), TF-IDF term weighting (L6),
  * per-language rollups (L7), and rolling-hash document fingerprinting.
  *
  * Hashing is md5/sha2-based in BOTH engines so every query is
  * oracle-checkable: a fixed-width lowercase-hex substring compares
  * lexicographically exactly like the number it encodes, so `min(hex)` is
  * a portable MinHash without any engine-specific hash function.
  *
  * Scale posture: everything is explode → hash-partitioned groupBy (no
  * driver collects). The near-dup search is LSH-banded — candidate pairs
  * come from equi-joins on band keys, so the shuffle is O(candidate
  * pairs), never the O(n²) all-pairs cross join (SURVEY.md §4.3).
  */
object LLMQueries extends TextDedup
    with TextExactDedup
    with TextRetrieval
    with TextTokenizers {

  private val Stopwords = Seq("the", "a", "and", "of", "to", "in", "is")

  /** L5: per-document text statistics — word/BPE-ish token counts, lexical
    * diversity, stopword ratio, a composite quality score, and an n-gram
    * language-ID heuristic (stopword-density-based).
    */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val stopList = Stopwords.map(s => s"'$s'").mkString(", ")
    docs(spark, dir)
      .withColumn("w", split(col("text"), "\\s+"))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("n_tokens",
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0)))
          .cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("w"))).cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(w, x -> x IN ($stopList)))").cast("long"))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / col("n_words"), 6))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("n_words"), 6))
      .withColumn("quality",
        round(least(lit(1.0), col("n_words").cast("double") / 120.0) *
          (col("n_distinct").cast("double") / col("n_words")), 6))
      .withColumn("lang_guess",
        when(col("n_stop").cast("double") / col("n_words") >= 0.12, "en")
          .otherwise("other"))
      .select(col("doc_id"), col("lang"), col("n_words"), col("n_tokens"),
        col("n_distinct"), col("n_stop"), col("distinct_ratio"),
        col("stop_ratio"), col("quality"), col("lang_guess"))
      .orderBy(col("doc_id"))
  }

  /** L5/L7: per-language rollup of the text statistics — the
    * language-partitioned pipeline shape (partition key = lang).
    */
  def langRollup(spark: SparkSession, dir: String): DataFrame =
    textStats(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        // integer milli-average: (sum*1000) div n is exact in both engines,
        // where round(sum/n, 6) on doubles is last-ulp unstable across
        // comparators (ADVICE r2 — q62 hash_match=false)
        expr("(sum(n_words) * 1000) div count(*)").as("avg_words_milli"),
        count(when(col("lang_guess") === "en", 1)).as("n_guessed_en"),
        // exact integer micro-units: quality is already rounded to 6 dp,
        // so round(q*1e6) is an exact long in both engines and the sum is
        // order-independent. Integers also dodge comparator dtype traps
        // (decimal→float64 coercion differs between pandas bridges); the
        // mean stays derivable as total_quality_micros / n_docs / 1e6
        sum(round(col("quality") * 1e6).cast("long"))
          .as("total_quality_micros"))
      .orderBy(col("lang"))

  /** L6: TF-IDF-lite — term frequency per doc × ln(N/df), top-3 terms per
    * document (df computed over the full corpus; output limited to
    * doc_id < 50 to keep the verify frame small).
    *
    * `df` is VOCABULARY-sized, so its join strategy is left to AQE (no
    * explicit broadcast hint): testdata vocabularies broadcast; at
    * web-corpus vocabulary size a forced broadcast would OOM the driver
    * and the join degrades gracefully to a t-keyed shuffle — the same
    * caveat [[bm25Topk]] documents for its df table.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val words = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("t"))
    val tf = words.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    // df derived FROM tf (one row per (doc,t) already) — shares tf's
    // (doc_id,t) shuffle via exchange reuse instead of a second
    // explode+distinct pass over the corpus
    val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val n = docs(spark, dir).select(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, Seq("t"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("t"))
    scored.filter(col("doc_id") < 50)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("t").as("term"),
        col("tf"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** q61's composite quality score as a per-row expression (same
    * lambda-bind idiom). */
  private[graft] val qualityExpr = expr(
    "round(transform(array(split(text, '\\\\s+'))," +
      " w -> least(1.0d, size(w) / 120.0d)" +
      " * (size(array_distinct(w)) / cast(size(w) as double)))[0], 6)")

  /** Character-n-gram profiles per language (public-linguistics common
    * trigram sets; the synthetic corpus is same-vocab across langs, so
    * this exercises the MECHANISM — profile-count scoring with a
    * deterministic argmax — not real-world accuracy). */
  private val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("sch", "ein", "der"),
    "en" -> Seq("the", "ing", "and"),
    "es" -> Seq("los", "que", "cio"),
    "fr" -> Seq("les", "ent", "des"),
    "zh" -> Seq("zh", "ng", "sh"))

  /** Occurrence count of a literal substring via the replace trick —
    * identical semantics in Spark and DuckDB. */
  private def occSql(colName: String, g: String): String =
    s"(length($colName) - length(replace($colName, '$g', ''))) / ${g.length}"

  /** L5 (n-gram lang-ID): score each language's trigram profile against
    * the text, predict the argmax (ties break alphabetically via the CASE
    * order). One narrow projection pass — no explode, no shuffle except
    * the final rollup.
    */
  /** The q73 scorer, factored so the doc-level classifier (q73) and the
    * segment-level code-switch scan (q162) share ONE definition: per
    * language, the profile-trigram occurrence sum over a column named
    * `t`, and the argmax CASE (ties break by profile order). */
  private val langScoreCols = LangProfiles.map { case (lang, grams) =>
    expr(grams.map(g => occSql("t", g)).mkString(" + ")).as(s"s_$lang")
  }
  private val langPredSql = {
    val langs = LangProfiles.map(_._1)
    langs.map { l =>
      val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o")
        .mkString(" AND ")
      s"WHEN $geAll THEN '$l'"
    }.mkString("CASE ", " ", " END")
  }

  def langIdNgram(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), lower(col("text")).as("t"))
      .select(Seq(col("doc_id"), col("lang")) ++ langScoreCols: _*)
      .withColumn("pred_lang", expr(langPredSql))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred_lang"))

  /** Segment width (words) for q162's code-switch scan — short enough
    * that a half-and-half bilingual page yields several segments of
    * each kind at every sf. */
  private[operators] val MixSegWords = 20

  /** Minority share above which a doc is flagged mixed (30%). */
  private[operators] val MixedThresholdMicro = 300000L

  /** L65/q162: CODE-SWITCHING / language-MIX detection — the curation
    * gap a per-doc classifier cannot see: q73's argmax happily labels a
    * half-German page "en", and a monolingual training mix silently
    * ingests the German half. Per doc: segment the lowercased word
    * array into [[MixSegWords]]-word chunks, lang-ID each segment with
    * the SAME trigram profiles and argmax CASE as q73 (one definition —
    * the two scorers cannot drift), majority-vote the primary language
    * (ties: fewer-segments loses, then profile order), and report the
    * minority share in micro units plus the `is_mixed` flag a routing
    * gate consumes (mixed docs go to splitting or exclusion, not to a
    * monolingual shard — the q62 partitioned pipeline upstream).
    *
    * Scale shape: one projection explodes each doc into O(words /
    * [[MixSegWords]]) slim (doc_id, segment-scores) rows — text dies at
    * the scan; the shuffles carry (doc_id, pred) counts only, two
    * partial-aggregating groupBys, no window (the majority vote is a
    * min(struct) aggregate — a mega-doc map-side-combines). */
  def langMixReport(spark: SparkSession, dir: String): DataFrame =
    langMixReportDocs(docs(spark, dir))

  private[graft] def langMixReportDocs(docsDf: DataFrame): DataFrame = {
    val segs = docsDf
      .select(col("doc_id"), col("lang"), expr(
        s"""transform(array(split(lower(text), '\\\\s+')), w ->
           |  transform(sequence(0,
           |      cast(ceil(size(w) / ${MixSegWords}.0) as int) - 1),
           |    i -> array_join(
           |      slice(w, i * $MixSegWords + 1, $MixSegWords), ' ')))[0]
           |""".stripMargin).as("segarr"))
      .transform(Explode.values(_, col("segarr"), "t", col("doc_id"),
        col("lang")))
    val perPred = segs
      .select(Seq(col("doc_id"), col("lang")) ++ langScoreCols: _*)
      .withColumn("pred", expr(langPredSql))
      .groupBy(col("doc_id"), col("lang"), col("pred"))
      .agg(count(lit(1)).as("cnt"))
    perPred.groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).as("n_segments"),
        min(struct((-col("cnt")).as("nc"), col("pred"))).as("best"))
      .select(col("doc_id"), col("lang"),
        col("best.pred").as("primary_lang"), col("n_segments"),
        (-col("best.nc")).as("n_primary"),
        expr("(n_segments - (-best.nc)) * 1000000L div n_segments")
          .as("mix_micro"))
      .withColumn("is_mixed", col("mix_micro") >= MixedThresholdMicro)
      .orderBy(col("doc_id"))
  }

  val queries: ListMap[String, graft.Q] = ListMap(
    "q60_exact_dedup" -> (exactDedup _),
    "q136_normalized_dedup" -> (normalizedDedup _),
    "q139_incremental_normalized_dedup" -> (incrementalNormalizedDedupDaily _),
    "q144_incremental_bm25" -> (incrementalBm25Daily _),
    "q71_dedup_keep_best" -> (dedupKeepBest _),
    "q73_langid_ngram" -> (langIdNgram _),
    "q162_lang_mix" -> (langMixReport _),
    "q61_text_stats" -> (textStats _),
    "q62_lang_rollup" -> (langRollup _),
    "q63_tfidf_top_terms" -> (tfidfTopTerms _),
    "q93_bm25_topk" -> (bm25Topk _),
    "q163_ql_topk" -> (qlTopk _),
    "q164_rrf_fusion" -> (rrfFusion _),
    "q170_hybrid_dense_rrf" -> (hybridDenseRrf _),
    "q179_retrieval_quality" -> (retrievalQuality _),
    "q94_bpe_pairs" -> (bpePairCounts _),
    "q108_bpe_merge_loop" -> (bpeMergeLoop _),
    "q113_bpe_tokenize" -> (bpeTokenize _),
    "q134_tokenizer_fertility" -> (tokenizerFertility _),
    "q123_chunk_docs" -> (chunkDocs _),
    "q64_minhash_pairs" -> (minhashPairs _),
    "q189_text_band_occupancy" -> (textBandOccupancy _),
    "q191_text_band_cap_curve" -> (textBandCapCurve _),
    "q166_edit_verified_dups" -> (editVerifiedDups _),
    "q125_minhash_recall" -> (minhashRecall _),
    "q127_minhash_precision" -> (minhashPrecision _),
    "q96_incremental_near_dups" -> (incrementalNearDupsDaily _),
    "q192_incremental_text_pairs" -> (incrementalTextPairsDaily _),
    "q97_incremental_exact_dedup" -> (incrementalExactDedupDaily _),
    "q66_simhash_signatures" -> (simhashSignatures _),
    "q70_doc_fingerprints" -> (docFingerprints _))

  // ---- oracle SQL -----------------------------------------------------

  private val statsCte =
    """stats AS (
      |  SELECT doc_id, lang,
      |    CAST(len(w) AS BIGINT) AS n_words,
      |    CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
      |    CAST(len(list_filter(w,
      |      x -> x IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS n_stop
      |  FROM (SELECT doc_id, lang, text,
      |          string_split_regex(text, '\s+') AS w FROM documents))
      |""".stripMargin


  /** Assembled from the family traits + the stats/lang entries here,
    * so each oracle lives beside the operator it checks. */
  val oracle: Map[String, String] = Map(
    "q61_text_stats" -> (s"WITH $statsCte" +
      """SELECT doc_id, lang, n_words, n_tokens, n_distinct, n_stop,
        |  round(CAST(n_distinct AS DOUBLE) / n_words, 6) AS distinct_ratio,
        |  round(CAST(n_stop AS DOUBLE) / n_words, 6) AS stop_ratio,
        |  round(least(1.0, CAST(n_words AS DOUBLE) / 120.0) *
        |        (CAST(n_distinct AS DOUBLE) / n_words), 6) AS quality,
        |  CASE WHEN CAST(n_stop AS DOUBLE) / n_words >= 0.12
        |       THEN 'en' ELSE 'other' END AS lang_guess
        |FROM stats ORDER BY doc_id""".stripMargin),
    "q62_lang_rollup" -> (s"WITH $statsCte" +
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_words,
        |  CAST((sum(n_words) * 1000) // count(*) AS BIGINT) AS avg_words_milli,
        |  count(*) FILTER (CAST(n_stop AS DOUBLE) / n_words >= 0.12)
        |    AS n_guessed_en,
        |  CAST(sum(CAST(round(round(least(1.0, CAST(n_words AS DOUBLE) / 120.0) *
        |        (CAST(n_distinct AS DOUBLE) / n_words), 6) * 1000000) AS BIGINT))
        |      AS BIGINT) AS total_quality_micros
        |FROM stats GROUP BY lang ORDER BY lang""".stripMargin),
    "q63_tfidf_top_terms" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM words GROUP BY doc_id, t),
        |df AS (SELECT t, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, t FROM words) GROUP BY t),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, t, tf,
        |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
        |  FROM tf JOIN df USING (t) CROSS JOIN n)
        |SELECT doc_id, rk, t AS term, tf, score FROM (
        |  SELECT *, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, t) AS rk
        |  FROM scored WHERE doc_id < 50)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q73_langid_ngram" -> {
      val scoreSelects = LangProfiles.map { case (lang, grams) =>
        grams.map(g => occSql("t", g)).mkString(" + ") + s" AS s_$lang"
      }.mkString(",\n    ")
      val langs = LangProfiles.map(_._1)
      val predSql = langs.map { l =>
        val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o")
          .mkString(" AND ")
        s"WHEN $geAll THEN '$l'"
      }.mkString("CASE ", " ", " END")
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |    $scoreSelects
         |  FROM (SELECT doc_id, lang, lower(text) AS t FROM documents))
         |SELECT lang, $predSql AS pred_lang, count(*) AS n
         |FROM scored GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin
    },
    // q162 reuses q73's exact score/argmax fragments over SEGMENTS; the
    // majority vote is the row_number twin of Spark's min(struct(-cnt,
    // pred)) — (cnt DESC, pred) — so both engines elect identically.
    "q162_lang_mix" -> {
      val scoreSelects = LangProfiles.map { case (lang, grams) =>
        grams.map(g => occSql("t", g)).mkString(" + ") + s" AS s_$lang"
      }.mkString(",\n    ")
      val langs = LangProfiles.map(_._1)
      val predSql = langs.map { l =>
        val geAll = langs.filter(_ != l).map(o => s"s_$l >= s_$o")
          .mkString(" AND ")
        s"WHEN $geAll THEN '$l'"
      }.mkString("CASE ", " ", " END")
      s"""WITH segs AS (
         |  SELECT doc_id, lang, unnest(list_transform(
         |    range(0, CAST(ceil(len(w) / ${MixSegWords}.0) AS INT)),
         |    i -> array_to_string(list_slice(w,
         |      i * $MixSegWords + 1, i * $MixSegWords + $MixSegWords),
         |      ' '))) AS t
         |  FROM (SELECT doc_id, lang,
         |          string_split_regex(lower(text), '\\s+') AS w
         |        FROM documents)),
         |scored AS (
         |  SELECT doc_id, lang,
         |    $scoreSelects
         |  FROM segs),
         |pp AS (
         |  SELECT doc_id, lang, $predSql AS pred, count(*) AS cnt
         |  FROM scored GROUP BY 1, 2, 3),
         |pd AS (
         |  SELECT doc_id, lang, pred AS primary_lang, cnt AS n_primary
         |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |          ORDER BY cnt DESC, pred) AS rn FROM pp)
         |  WHERE rn = 1),
         |tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_segments
         |        FROM pp GROUP BY doc_id)
         |SELECT pd.doc_id, pd.lang, pd.primary_lang, tot.n_segments,
         |  CAST(pd.n_primary AS BIGINT) AS n_primary,
         |  CAST((tot.n_segments - pd.n_primary) * 1000000
         |    // tot.n_segments AS BIGINT) AS mix_micro,
         |  (tot.n_segments - pd.n_primary) * 1000000
         |    // tot.n_segments >= $MixedThresholdMicro AS is_mixed
         |FROM pd JOIN tot USING (doc_id)
         |ORDER BY pd.doc_id""".stripMargin
    }) ++
    dedupOracle ++ exactDedupOracle ++ retrievalOracle ++ tokenizerOracle
}
