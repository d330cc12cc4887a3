package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Explode

/** Counting-LM family (L18/L41/L68/L71): add-one and Kneser-Ney
  * bigram models, fluency scoring, NLL bucketing and the incremental
  * bigram-table legs — q92/q133/q165/q167/q169.
  *
  * Split out of CurationQueries by family (round 11, pure moves) —
  * the object mixes every family trait back in, so call sites and
  * behavior are unchanged; shared constants/oracles stay on the
  * object, reachable through the self-type.
  */
private[operators] trait CurationLm {
  this: CurationQueries.type =>

  /** CCNet-style LM fluency scoring (the "perplexity filter"): an add-one
    * bigram model is estimated on a reference slice of the corpus
    * (doc_id % 10 == 0 — in production: Wikipedia or another clean
    * corpus), and every other document is scored by its mean bigram NLL
    * under that model. High mean NLL = text the reference LM finds
    * surprising = boilerplate/garble candidates.
    *
    * Determinism: each bigram's NLL is rounded to integer micro-nats
    * BEFORE the per-doc sum, so the aggregate is an exact integer sum —
    * order- and partition-independent — and the mean is an integer
    * floor-division (values are non-negative, so Spark's truncating
    * `div` and DuckDB's floor `//` agree). ln() itself is the same
    * exposure q63's TF-IDF score already has.
    *
    * Scale shape: the model (bigram + unigram counts, vocab size) is
    * bounded by the REFERENCE corpus, not the training corpus — CCNet
    * uses Wikipedia — so both model tables broadcast; the training side
    * is one explode + two broadcast joins + one doc_id rollup. The
    * unigram table derives from the bigram table (sum over w1), sharing
    * its aggregation rather than re-scanning the reference.
    */
  def lmFluencyDocs(docsDf: DataFrame): DataFrame = {
    val allWords = docsDf
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
    val wordsArr = allWords
      // sequence(0, -1) DESCENDS in Spark: a 1-word doc must not reach
      // the bigram transform (DuckDB's range(1, 1) is empty naturally)
      .filter(size(col("w")) >= 2)
    val biExpr = expr(
      "transform(sequence(0, size(w) - 2)," +
        " i -> struct(w[i] AS w1, w[i+1] AS w2))")
    val refBi = wordsArr.filter(col("doc_id") % 10 === 0)
      .select(explode(biExpr).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("cb"))
    val refUni = refBi.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cu"))
    // vocab from the UNfiltered reference slice — the oracle counts a
    // 1-word ref doc's token in V even though it yields no bigram
    val vocab = allWords.filter(col("doc_id") % 10 === 0)
      .transform(Explode.values(_, col("w"), "t"))
      .agg(count_distinct(col("t")).as("v"))
    wordsArr.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), explode(biExpr).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .join(broadcast(refBi), Seq("w1", "w2"), "left")
      .join(broadcast(refUni), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("nll", expr(
        "cast(round(-ln(cast(coalesce(cb, 0) + 1 as double)" +
          " / (coalesce(cu, 0) + v)) * 1e6) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        // exact integer division — nll sums are non-negative, so Spark's
        // truncating `div` equals DuckDB's floor `//`
        expr("sum(nll) div count(*)").as("avg_nll_micro"))
      .withColumn("is_fluent", col("avg_nll_micro") <= FluencyNllMicro)
      .orderBy(col("doc_id"))
  }

  def lmFluency(spark: SparkSession, dir: String): DataFrame =
    lmFluencyDocs(docs(spark, dir))

  /** L46/q165: interpolated Kneser–Ney bigram estimation — the
    * LM-training counts table behind the q92-style fluency filters: for
    * each bigram, its raw count, context total, fan-out/fan-in TYPE
    * counts (how many distinct continuations/contexts — KN's "novel
    * continuation" statistic), and the discounted interpolated
    * probability. Add-one (q92) over-smooths frequent contexts; KN's
    * continuation probability is the production choice for counting-LM
    * quality filters.
    *
    * Determinism: every input to the formula is an exact integer count;
    * the single double expression is rounded to micro-units; top-k by
    * (count, bigram) total order via TakeOrderedAndProject.
    *
    * Scale shape: ONE corpus-wide shuffle (the bigram-type count, which
    * collapses at vocab²-bounded cardinality); every derived statistic
    * aggregates the slim count table, not the corpus. `ctx`/`fanIn` are
    * vocabulary-sized broadcasts here — t-keyed shuffle joins at
    * web-corpus vocab, exactly the q93 df trade. */
  def knBigramLm(spark: SparkSession, dir: String): DataFrame =
    knFromBigrams(knBigramTable(docs(spark, dir)))

  /** The corpus bigram-TYPE count table (w1, w2, cb) — the KN family's
    * ENTIRE persistable state: counts are additive across disjoint
    * document sets (bigrams never cross a document boundary), so two
    * tables merge by groupBy-sum and every other KN statistic derives
    * from the merged table. */
  private[operators] def knBigramTable(docsDf: DataFrame): DataFrame = {
    val wordsArr = docsDf
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
      // sequence(0, -1) DESCENDS in Spark: a 1-word doc must not reach
      // the bigram transform (DuckDB's range(1, 1) is empty naturally)
      .filter(size(col("w")) >= 2)
    val biExpr = expr(
      "transform(sequence(0, size(w) - 2)," +
        " i -> struct(w[i] AS w1, w[i+1] AS w2))")
    wordsArr.select(explode(biExpr).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("cb"))
  }

  /** Additive merge of two bigram-count tables (the KN family's
    * compaction AND daily-merge rule — same shape as bm25's tf union). */
  private[operators] def mergeBigrams(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("w1"), col("w2"))
      .agg(sum(col("cb")).as("cb"))

  /** The KN head over a bigram-count table: context totals, type
    * fan-out/fan-in, the type total, and the discounted estimate. */
  private[operators] def knFromBigrams(bi0: DataFrame): DataFrame = {
    // One materialization of the bigram-count table: ctx/fanIn/types
    // and the final scoring join each rebuilt the full
    // tokenize+explode+count (or merge) subtree — Catalyst cannot share
    // it across consumers aggregating by different keys (4 rebuilds in
    // the q165/q167 plans; guide §2.4). EAGER because the three derived
    // stats feed broadcast builds racing on concurrent threads (the
    // AnnFrames seal rationale, VERDICT r11 #2).
    val bi = bi0.transform(graft.Materialize.now)
    val ctx = bi.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cu"), count(lit(1)).as("n1f"))
    val fanIn = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val types = bi.agg(count(lit(1)).as("bt"))
    bi.join(broadcast(ctx), Seq("w1"))
      .join(broadcast(fanIn), Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("pkn_micro", expr(KnScoreSql))
      .select(col("w1"), col("w2"), col("cb"), col("cu"),
        col("n1f"), col("n1b"), col("pkn_micro"))
      .orderBy(col("cb").desc, col("w1"), col("w2"))
      .limit(KnTopBigrams)
  }

  /** The per-bigram interpolated-KN probability with an add-one-smoothed
    * continuation floor, over (cb, cu, n1f, n1b, bt, v) where NULL
    * cb/cu/n1b mean "unseen in the reference" — identical text (modulo
    * double-literal suffix) in both engines:
    * seen pair   → (c−D)/cu + D·n1f/cu · pcont
    * seen w1     → D·n1f/cu · pcont          (discount mass backs off)
    * unseen w1   → pcont                     (all mass to continuation)
    * pcont(w2) = (N1+(·,w2)+1)/(B+V) — positive everywhere, so NLL is
    * always finite and non-negative (p ≤ 1 since n1f ≤ cu). */
  private[operators] def knProbSql(suffix: String): String =
    s"(CASE WHEN cb IS NOT NULL THEN (cb - $KnDiscount$suffix) / cu" +
      s" ELSE 0.0$suffix END" +
      s" + (CASE WHEN cu IS NOT NULL THEN $KnDiscount$suffix * n1f / cu" +
      s" ELSE 1.0$suffix END)" +
      " * ((coalesce(n1b, 0) + 1) / (bt + v)))"

  /** L46c/q169: KN-model fluency scoring — the q92 flow with the q165
    * model: an interpolated Kneser–Ney bigram LM is estimated on the
    * reference slice (doc_id % 10 == 0, q92's convention) and every
    * other document is scored by its mean bigram NLL under it. Add-one
    * (q92) over-penalizes frequent contexts with many continuations;
    * KN's discounted interpolation is what production perplexity
    * filters (CCNet-class) actually run, so the two scorers bracket the
    * same gate and this one is the production-shaped instance.
    *
    * Determinism: one double expression per bigram rounded to integer
    * micro-nats before the per-doc sum (the q92 rule); the mean is a
    * non-negative integer floor-division.
    *
    * Scale shape: the model (bigram counts + context/continuation type
    * tables + two scalars) is bounded by the REFERENCE corpus — all
    * broadcasts; the training side is one explode + three broadcast
    * left-joins + one doc_id rollup. Exactly q92's join plan with one
    * more |vocab|-row broadcast. */
  def knFluency(spark: SparkSession, dir: String): DataFrame =
    knFluencyDocs(docs(spark, dir))

  private[operators] def knFluencyDocs(docsDf: DataFrame): DataFrame = {
    val allWords = docsDf
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
    val wordsArr = allWords.filter(size(col("w")) >= 2)
    val biExpr = expr(
      "transform(sequence(0, size(w) - 2)," +
        " i -> struct(w[i] AS w1, w[i+1] AS w2))")
    val refBi = wordsArr.filter(col("doc_id") % 10 === 0)
      .select(explode(biExpr).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("cb"))
    val ctx = refBi.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cu"), count(lit(1)).as("n1f"))
    val fanIn = refBi.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    // bt (bigram types) and v (add-one vocab, q92's unfiltered-slice
    // rule) collapse to one broadcast row
    val scalars = refBi.agg(count(lit(1)).as("bt")).crossJoin(
      allWords.filter(col("doc_id") % 10 === 0)
        .transform(Explode.values(_, col("w"), "t"))
        .agg(count_distinct(col("t")).as("v")))
    wordsArr.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), explode(biExpr).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .join(broadcast(refBi), Seq("w1", "w2"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .join(broadcast(fanIn), Seq("w2"), "left")
      .crossJoin(broadcast(scalars))
      .withColumn("nll", expr(
        s"cast(round(-ln(${knProbSql("d")}) * 1e6) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        // non-negative (p ≤ 1), so truncating div == flooring //
        expr("sum(nll) div count(*)").as("avg_nll_micro"))
      .withColumn("is_fluent", col("avg_nll_micro") <= KnFluencyNllMicro)
      .orderBy(col("doc_id"))
  }

  /** L46b/q167: incremental KN — a daily batch updates the LM by
    * MERGING its bigram counts into the persisted corpus table
    * (additive, so merge == full recount by construction); corpus TEXT
    * is never re-scanned. The (corpus ∪ batch) union covers the whole
    * documents table, so the answer IS q165's — one shared oracle,
    * zero drift. */
  def incrementalKn(corpusBi: DataFrame, newDocs: DataFrame): DataFrame =
    knFromBigrams(mergeBigrams(corpusBi, knBigramTable(newDocs)))

  /** q167 as an oracle query: corpus bigram table built in-query (as
    * the oracle must), batch merged against it. */
  def incrementalKnDaily(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    incrementalKn(
      knBigramTable(d.filter(col("doc_id") % LLMQueries.BatchMod =!= 0)),
      d.filter(col("doc_id") % LLMQueries.BatchMod === 0))
  }

  /** L41/q133: CCNet-style perplexity BUCKETING — the published CCNet
    * move downstream of the q92 scorer: within each language, docs are
    * split into head / middle / tail terciles of LM score (head =
    * lowest NLL = most reference-like), and training mixes sample the
    * buckets at different rates instead of hard-filtering at one
    * threshold (q92's flag). Per-language terciles matter for the same
    * reason as q122's per-source cutoffs: a single global boundary
    * over-prunes whole languages.
    *
    * Determinism: scores are q92's exact integer micro-nats; the two
    * cutoffs are interpolated percentiles rounded to 6 dp before any
    * comparison (the q122 rule — Spark `percentile` and DuckDB
    * `quantile_cont` share the (n-1)·p interpolation). Scale shape:
    * the exact percentile buffers one language's scores per group —
    * swap in `percentile_approx` (q86) at 100 TB; the cutoff table is
    * |languages| rows and broadcasts back for bucket assignment. */
  def nllBucketsDocs(docsDf: DataFrame): DataFrame = {
    val scored = lmFluencyDocs(docsDf)
      .select(col("doc_id"), col("avg_nll_micro"))
    val wl = scored.join(docsDf.select(col("doc_id"), col("lang")), "doc_id")
    val cuts = wl.groupBy(col("lang")).agg(
      round(expr("percentile(avg_nll_micro, cast(1 as double)/3)"), 6)
        .as("c1"),
      round(expr("percentile(avg_nll_micro, cast(2 as double)/3)"), 6)
        .as("c2"))
    wl.join(broadcast(cuts), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("avg_nll_micro"),
        when(col("avg_nll_micro") <= col("c1"), "head")
          .when(col("avg_nll_micro") <= col("c2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  def nllBuckets(spark: SparkSession, dir: String): DataFrame =
    nllBucketsDocs(docs(spark, dir))

  /** Oracle SQL of the language-model family — merged into
    * [[CurationQueries.oracleMain]] (pure move, round 14). */
  private[operators] def lmOracleMain: Map[String, String] = Map(
    "q165_kn_bigram" -> knOracle,
    // q167: the (corpus ∪ batch) bigram-count merge covers the whole
    // documents table and counts are additive, so the incremental
    // answer IS the full q165 answer — one shared oracle, zero drift
    "q167_incremental_kn" -> knOracle,
    // q169: the q92 oracle shape with the KN model CTEs; the prob
    // formula text is knProbSql modulo the double-literal suffix
    "q169_kn_fluency" ->
      s"""WITH wordsarr AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w
         |  FROM documents),
         |refbi AS (
         |  SELECT w[i] AS w1, w[i+1] AS w2, count(*) AS cb
         |  FROM wordsarr, LATERAL unnest(range(1, len(w))) AS t(i)
         |  WHERE doc_id % 10 = 0 GROUP BY 1, 2),
         |ctx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu, count(*) AS n1f
         |        FROM refbi GROUP BY w1),
         |fanin AS (SELECT w2, count(*) AS n1b FROM refbi GROUP BY w2),
         |scalars AS (
         |  SELECT (SELECT count(*) FROM refbi) AS bt,
         |         (SELECT count(*) FROM (
         |            SELECT DISTINCT unnest(w) FROM wordsarr
         |            WHERE doc_id % 10 = 0)) AS v),
         |docbi AS (
         |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
         |  FROM wordsarr, LATERAL unnest(range(1, len(w))) AS t(i)
         |  WHERE doc_id % 10 <> 0),
         |scored AS (
         |  SELECT doc_id,
         |    CAST(round(-ln(${knProbSql("")}) * 1e6) AS BIGINT) AS nll
         |  FROM docbi
         |  LEFT JOIN refbi USING (w1, w2)
         |  LEFT JOIN ctx USING (w1)
         |  LEFT JOIN fanin USING (w2)
         |  CROSS JOIN scalars)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(nll) // count(*) AS BIGINT) AS avg_nll_micro,
         |  (CAST(sum(nll) // count(*) AS BIGINT)) <= $KnFluencyNllMicro
         |    AS is_fluent
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q92_lm_fluency" ->
      s"""WITH wordsarr AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w
         |  FROM documents),
         |refbi AS (
         |  SELECT w[i] AS w1, w[i+1] AS w2, count(*) AS cb
         |  FROM wordsarr, LATERAL unnest(range(1, len(w))) AS t(i)
         |  WHERE doc_id % 10 = 0 GROUP BY 1, 2),
         |refuni AS (
         |  SELECT w1, CAST(sum(cb) AS BIGINT) AS cu FROM refbi GROUP BY w1),
         |vocab AS (
         |  SELECT count(*) AS v FROM (
         |    SELECT DISTINCT unnest(w) FROM wordsarr WHERE doc_id % 10 = 0)),
         |docbi AS (
         |  SELECT doc_id, w[i] AS w1, w[i+1] AS w2
         |  FROM wordsarr, LATERAL unnest(range(1, len(w))) AS t(i)
         |  WHERE doc_id % 10 <> 0),
         |scored AS (
         |  SELECT doc_id,
         |    CAST(round(-ln(CAST(coalesce(cb, 0) + 1 AS DOUBLE) /
         |                   (coalesce(cu, 0) + v)) * 1e6) AS BIGINT) AS nll
         |  FROM docbi
         |  LEFT JOIN refbi USING (w1, w2)
         |  LEFT JOIN refuni USING (w1)
         |  CROSS JOIN vocab)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  CAST(sum(nll) // count(*) AS BIGINT) AS avg_nll_micro,
         |  (CAST(sum(nll) // count(*) AS BIGINT)) <= $FluencyNllMicro
         |    AS is_fluent
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)

  /** Shared by q165 (full pass) and q167 (incremental merge): bigram
    * counts are additive over disjoint doc sets, so both must produce
    * exactly this answer. Formula text matches [[KnScoreSql]]. */
  private[operators] def knOracle: String =
    s"""WITH wordsarr AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS w
       |  FROM documents),
       |bi AS (
       |  SELECT w[i] AS w1, w[i+1] AS w2, count(*) AS cb
       |  FROM wordsarr, LATERAL unnest(range(1, len(w))) AS t(i)
       |  GROUP BY 1, 2),
       |ctx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu, count(*) AS n1f
       |        FROM bi GROUP BY w1),
       |fanin AS (SELECT w2, count(*) AS n1b FROM bi GROUP BY w2),
       |types AS (SELECT count(*) AS bt FROM bi)
       |SELECT w1, w2, cb, cu, n1f, n1b,
       |  CAST(round((greatest(cb - $KnDiscount, 0.0) / cu
       |    + $KnDiscount * n1f / cu * n1b / bt) * 1e6) AS BIGINT)
       |    AS pkn_micro
       |FROM bi JOIN ctx USING (w1) JOIN fanin USING (w2) CROSS JOIN types
       |ORDER BY cb DESC, w1, w2 LIMIT $KnTopBigrams""".stripMargin
}
