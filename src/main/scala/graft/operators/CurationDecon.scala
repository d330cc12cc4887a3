package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Explode

/** Decontamination family (L8/L8b/L53/L74/L77): exact-gram
  * and fuzzy rungs, their incremental daily legs and audits —
  * q74/q137/q150/q172/q173/q176.
  *
  * Split out of CurationQueries by family (round 11, pure moves) —
  * the object mixes every family trait back in, so call sites and
  * behavior are unchanged; shared constants/oracles stay on the
  * object, reachable through the self-type.
  */
private[operators] trait CurationDecon {
  this: CurationQueries.type =>

  /** The eval-gram frame wrapped in the fail-fast cardinality guard
    * (the q100 kmeans packing-guard pattern): one slim count aggregate
    * of the already-bounded-in-production side, cross-joined as a
    * broadcast singleton; under the cap the projection is the identity,
    * over it every row raises before anything is broadcast-joined.
    * Shared by q74 (full pass) and q150 (daily flow) so both fail the
    * same way. */
  private[operators] def guardedEvalGrams(evalGrams: DataFrame,
      cap: Long = EvalGramBroadcastCap): DataFrame = {
    val n = evalGrams.agg(count(lit(1)).as("n_eval_grams"))
    evalGrams.crossJoin(broadcast(n))
      .select(when(col("n_eval_grams") <= cap, col("g"))
        .otherwise(raise_error(format_string(
          "decontamination eval-gram side is not benchmark-sized: " +
            s"%d distinct grams exceed the broadcast cap $cap — " +
            "screen against a bounded eval suite, not a corpus",
          col("n_eval_grams"))).cast("string")).as("g"))
  }

  /** Benchmark decontamination: docs sharing any 5-gram with the eval
    * set are contaminated and must be dropped before training. The eval
    * set here is carved from the corpus itself (doc_id % 10 == 0) so the
    * query is self-contained on the shipped tables; in production it is
    * any benchmark suite.
    *
    * Scale shape: the eval gram set is small (benchmarks are thousands
    * of documents, not billions) → distinct once, BROADCAST to every
    * executor — a precondition [[guardedEvalGrams]] enforces loudly
    * rather than assumes. The training side is a flat explode feeding a
    * broadcast hash join — no corpus-wide shuffle at all until the
    * per-doc rollup on doc_id (and that only over matching gram rows, a
    * tiny fraction of the corpus).
    */
  def decontaminateDocs(docsDf: DataFrame,
      evalCap: Long = EvalGramBroadcastCap): DataFrame = {
    val evalGrams = guardedEvalGrams(
      docsDf.filter(col("doc_id") % 10 === 0)
        .select(explode(gramsExpr).as("g")).distinct(), evalCap)
    val trainGrams = docsDf.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), gramsExpr.as("gs"))
      .transform(Explode.values(_, col("gs"), "g", col("doc_id"),
        size(col("gs")).cast("long").as("n_grams")))
    trainGrams
      .join(broadcast(evalGrams), Seq("g"))
      // gs is distinct per doc, so matching rows are unique (doc_id, g)
      // pairs and count(*) is the distinct overlapping-gram count
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_contaminated"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_grams"), 6)
          .as("contamination_ratio"))
      .orderBy(col("doc_id"))
  }

  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateDocs(docs(spark, dir))

  /** The persisted EVAL-gram index (IndexStore family `eval_grams`):
    * one distinct 5-gram per benchmark item — benchmark-sized, frozen
    * per benchmark RELEASE (it changes when the eval suite does, not
    * daily — the rebuild-class refresh cycle of bpe_vocab/dsir_model,
    * but read by every single ingest). */
  def evalGramIndex(docsDf: DataFrame): DataFrame =
    docsDf.filter(col("doc_id") % 10 === 0)
      .select(explode(gramsExpr).as("g")).distinct()

  /** L53/q150: incremental DECONTAMINATION — q74 as a daily-ingest
    * flow: only today's arriving train docs screen against the
    * persisted eval-gram index; yesterday's corpus was screened when
    * it arrived, and the per-doc check is independent across docs, so
    * the restriction provably equals the full pass on the batch. Daily
    * cost is O(batch grams) through one broadcast join — corpus text
    * never re-explodes, which is the entire point of freezing the eval
    * grams as an artifact. */
  def incrementalDecontaminate(evalGrams: DataFrame,
      newDocs: DataFrame,
      evalCap: Long = EvalGramBroadcastCap): DataFrame =
    newDocs
      .select(col("doc_id"), gramsExpr.as("gs"))
      .transform(Explode.values(_, col("gs"), "g", col("doc_id"),
        size(col("gs")).cast("long").as("n_grams")))
      .join(broadcast(guardedEvalGrams(evalGrams, evalCap)), Seq("g"))
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_contaminated"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_grams"), 6)
          .as("contamination_ratio"))
      .orderBy(col("doc_id"))

  /** q150 as an oracle query: eval index built in-query (as the oracle
    * must), today's train batch screened against it. */
  def incrementalDecontaminateDaily(spark: SparkSession,
      dir: String): DataFrame = {
    val d = docs(spark, dir)
    incrementalDecontaminate(evalGramIndex(d),
      d.filter(col("doc_id") % 10 =!= 0 &&
        col("doc_id") % DeconBatchMod === 0))
  }

  /** L74/q172: FUZZY decontamination — the near-dup verdict aimed
    * across the train/eval boundary. Exact-gram screening (q74) fires
    * on ANY single shared 5-gram, which is the recall-side instrument:
    * one quoted idiom flags a clean doc. This is the precision-side
    * one: a train doc is contaminated iff it would be elected into a
    * benchmark item's DUP CLUSTER — MinHash-banded candidates against
    * the eval suite, verified by exact shingle Jaccard ≥ the same
    * [[ClusterThreshold]] the dedup election uses (one threshold, one
    * meaning: "these are the same document"). The fuzzy/exact split is
    * how production decontamination actually runs (exact n-gram first,
    * similarity screen behind it); both rungs sit on the SAME persisted
    * signature machinery.
    *
    * Per contaminated train doc: how many eval items it collides with,
    * the smallest such eval id, and the strongest verified similarity.
    *
    * Scale shape: the probe side is the BOUNDED benchmark (the q74
    * broadcast argument, banded): eval bands probe the corpus band
    * index through [[LLMQueries.incrementalNearDupsFrom]], so corpus-
    * only buckets never enumerate, candidates require an eval endpoint,
    * and verification touches only candidate-endpoint shingle sets. At
    * 100 TB the corpus side is the ALREADY-PERSISTED text_bands/
    * text_sets families — fuzzy decon adds zero corpus-side artifacts. */
  def fuzzyDecontaminateDocs(docsDf: DataFrame): DataFrame = {
    val evalD = docsDf.filter(col("doc_id") % 10 === 0)
    val train = docsDf.filter(col("doc_id") % 10 =!= 0)
    val (tBands, tSets) = LLMQueries.signatureTables(train)
    val (eBandsRaw, eSets) = LLMQueries.signatureTables(evalD)
    fuzzyDeconRollup(LLMQueries.incrementalNearDupsFrom(tBands, tSets,
      eBandsRaw.transform(graft.Materialize.shared), eSets))
  }

  def fuzzyDecontaminate(spark: SparkSession, dir: String): DataFrame =
    fuzzyDecontaminateDocs(docs(spark, dir))

  /** The train-side rollup of verified cross-boundary pairs — shared by
    * the full pass and the daily leg so the two cannot drift. Same-side
    * pairs (train×train from the full pass's union leg, batch×batch
    * from the daily probe) are dedup's business, not decon's. */
  private[operators] def fuzzyDeconRollup(pairs: DataFrame): DataFrame =
    pairs
      .filter((col("doc_a") % 10 === 0) =!= (col("doc_b") % 10 === 0))
      .filter(col("jaccard") >= ClusterThreshold)
      .select(
        when(col("doc_a") % 10 =!= 0, col("doc_a")).otherwise(col("doc_b"))
          .as("doc_id"),
        when(col("doc_a") % 10 === 0, col("doc_a")).otherwise(col("doc_b"))
          .as("eval_id"),
        col("jaccard"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_eval_matches"),
        min(col("eval_id")).as("top_eval_id"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy(col("doc_id"))

  /** L74b/q173: the DAILY leg of fuzzy decontamination — today's batch
    * probes the persisted EVAL signature tables (benchmark-sized,
    * frozen per benchmark release: `eval_grams`' lifecycle, banded).
    * Candidates require a batch endpoint, eval-only buckets never
    * enumerate, and per-doc independence makes the restriction provably
    * equal the full q172 pass on the batch (the q150 argument). */
  def incrementalFuzzyDecontaminate(evalBands: DataFrame,
      evalSets: DataFrame, newDocs: DataFrame): DataFrame =
    fuzzyDeconRollup(
      LLMQueries.incrementalNearDups(evalBands, evalSets, newDocs))

  /** [[incrementalFuzzyDecontaminate]] with the batch's signature
    * tables supplied — the DailyIngest gate reuses the once-per-day
    * batch MinHash pass it already shares with the near-dup gate
    * (compute each batch pass once per day, not once per consumer). */
  def incrementalFuzzyDecontaminateFrom(evalBands: DataFrame,
      evalSets: DataFrame, batchBands: DataFrame,
      batchSets: DataFrame): DataFrame =
    fuzzyDeconRollup(LLMQueries.incrementalNearDupsFrom(evalBands,
      evalSets, batchBands, batchSets))

  /** q173 as an oracle query: eval signature tables built in-query (as
    * the oracle must), today's train batch screened against them. */
  def incrementalFuzzyDecontaminateDaily(spark: SparkSession,
      dir: String): DataFrame = {
    val d = docs(spark, dir)
    val (eBands, eSets) =
      LLMQueries.signatureTables(d.filter(col("doc_id") % 10 === 0))
    incrementalFuzzyDecontaminate(eBands, eSets,
      d.filter(col("doc_id") % 10 =!= 0 &&
        col("doc_id") % DeconBatchMod === 0))
  }

  /** L77/q176: decon RUNG comparison — the audit that closes the
    * two-rung story: per train doc, which decontamination rung(s) flag
    * it — `both`, `exact_only` (a shared 5-gram without document-level
    * similarity: the quoted-idiom case the fuzzy rung deliberately
    * ignores), `fuzzy_only` (document-level similarity with zero shared
    * 5-grams: heavy-rewrite leakage the exact rung cannot see), or
    * `clean`. The relative sizes are what an eval owner reads to set
    * the deployment (exact-only drops are the recall rung's false-
    * positive budget; fuzzy-only drops justify running the second
    * rung at all). Scale shape: two proven flag frames left-joined on
    * a slim id projection, one 4-group rollup — text never moves. */
  def deconRungReportDocs(docsDf: DataFrame): DataFrame = {
    val exactF = decontaminateDocs(docsDf)
      .select(col("doc_id"), lit(true).as("f_ex"))
    val fuzzyF = fuzzyDecontaminateDocs(docsDf)
      .select(col("doc_id"), lit(true).as("f_fz"))
    docsDf.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"))
      .join(exactF, Seq("doc_id"), "left")
      .join(fuzzyF, Seq("doc_id"), "left")
      .select(
        when(col("f_ex").isNotNull && col("f_fz").isNotNull, "both")
          .when(col("f_ex").isNotNull, "exact_only")
          .when(col("f_fz").isNotNull, "fuzzy_only")
          .otherwise("clean").as("rung"))
      .groupBy(col("rung")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("rung"))
  }

  def deconRungReport(spark: SparkSession, dir: String): DataFrame =
    deconRungReportDocs(docs(spark, dir))

  /** L8b/q137: CONTAMINATION REPORT — the audit mirror of q74. q74
    * answers "which train docs must be dropped"; this answers the
    * question an eval owner asks: per EVAL document, how many train
    * docs share a 5-gram with it and what fraction of its own grams
    * leak anywhere into the training side. An eval doc with a high hit
    * ratio is compromised as a benchmark item even AFTER q74 drops the
    * offending train docs (the next crawl re-introduces them);
    * zero-overlap eval docs appear with zeros, so the report is
    * complete over the eval set.
    *
    * Scale shape: the eval side is benchmark-sized → exploded grams
    * BROADCAST (the q74 argument, reversed); the train side is the
    * same flat explode feeding the broadcast hash join, and the rollup
    * aggregates only matching rows. count_distinct over two columns is
    * one Expand×2 of those matching rows — never corpus-sized. */
  def contaminationReportDocs(docsDf: DataFrame): DataFrame = {
    val evalDocs = docsDf.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("eval_id"), gramsExpr.as("gs"))
      .select(col("eval_id"), size(col("gs")).cast("long")
        .as("n_eval_grams"), col("gs"))
    val evalG = Explode.values(evalDocs, col("gs"), "g", col("eval_id"))
    val trainG = docsDf.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), explode(gramsExpr).as("g"))
    val hits = trainG.join(broadcast(evalG), Seq("g"))
      .groupBy(col("eval_id"))
      .agg(count_distinct(col("doc_id")).as("n_train_docs"),
        count_distinct(col("g")).as("n_hit_grams"))
    evalDocs.select(col("eval_id"), col("n_eval_grams"))
      .join(hits, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_eval_grams"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        round(coalesce(col("n_hit_grams"), lit(0L)).cast("double") /
          col("n_eval_grams"), 6).as("hit_ratio"))
      .orderBy(col("eval_id"))
  }

  def contaminationReport(spark: SparkSession, dir: String): DataFrame =
    contaminationReportDocs(docs(spark, dir))

  /** Oracle SQL of the decontamination family — merged into
    * [[CurationQueries.oracleMain]] (pure move, round 14). */
  private[operators] def deconOracleMain: Map[String, String] = Map(
    "q74_decontaminate" -> (s"WITH $gramsCte," +
      """ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  count(*) AS n_contaminated,
        |  round(CAST(count(*) AS DOUBLE) / n_grams, 6)
        |    AS contamination_ratio
        |FROM grams JOIN ev USING (g)
        |WHERE doc_id % 10 <> 0
        |GROUP BY doc_id, n_grams
        |ORDER BY doc_id""".stripMargin),
    // q150: q74's oracle restricted to today's train batch — the
    // per-doc check is independent, so restriction == the daily flow
    "q150_incremental_decontaminate" -> (s"WITH $gramsCte," +
      s"""ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0)
         |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  count(*) AS n_contaminated,
         |  round(CAST(count(*) AS DOUBLE) / n_grams, 6)
         |    AS contamination_ratio
         |FROM grams JOIN ev USING (g)
         |WHERE doc_id % 10 <> 0 AND doc_id % $DeconBatchMod = 0
         |GROUP BY doc_id, n_grams
         |ORDER BY doc_id""".stripMargin),
    // q172: the near-dup verdict across the train/eval boundary — the
    // shared pairs_all CTEs over ALL docs, cross pairs verified at the
    // same ClusterThreshold, rolled up per train endpoint
    "q172_fuzzy_decontaminate" ->
      (s"WITH ${LLMQueries.minhashPairsCtesOf("")}," +
      s"""cross_pairs AS (
         |  SELECT CASE WHEN doc_a % 10 <> 0 THEN doc_a ELSE doc_b END
         |      AS tid,
         |    CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END
         |      AS eval_id,
         |    jaccard
         |  FROM pairs_all
         |  WHERE ((doc_a % 10 = 0) <> (doc_b % 10 = 0))
         |    AND jaccard >= $ClusterThreshold)
         |SELECT tid AS doc_id,
         |  CAST(count(*) AS BIGINT) AS n_eval_matches,
         |  CAST(min(eval_id) AS BIGINT) AS top_eval_id,
         |  max(jaccard) AS max_jaccard
         |FROM cross_pairs GROUP BY tid ORDER BY doc_id""".stripMargin),
    // q173: the q172 rule on the (eval ∪ batch) universe — per-pair
    // functions make the restriction equal the full pass on the batch
    "q173_incremental_fuzzy_decontaminate" ->
      (s"WITH ${LLMQueries.minhashPairsCtesOf(
          s"WHERE doc_id % 10 = 0 OR doc_id % $DeconBatchMod = 0")}," +
      s"""cross_pairs AS (
         |  SELECT CASE WHEN doc_a % 10 <> 0 THEN doc_a ELSE doc_b END
         |      AS tid,
         |    CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END
         |      AS eval_id,
         |    jaccard
         |  FROM pairs_all
         |  WHERE ((doc_a % 10 = 0) <> (doc_b % 10 = 0))
         |    AND jaccard >= $ClusterThreshold)
         |SELECT tid AS doc_id,
         |  CAST(count(*) AS BIGINT) AS n_eval_matches,
         |  CAST(min(eval_id) AS BIGINT) AS top_eval_id,
         |  max(jaccard) AS max_jaccard
         |FROM cross_pairs GROUP BY tid ORDER BY doc_id""".stripMargin),
    "q137_contamination_report" -> (s"WITH $gramsCte," +
      """ev AS (SELECT doc_id AS eval_id, n_grams AS n_eval_grams, g
        |       FROM grams WHERE doc_id % 10 = 0),
        |tr AS (SELECT doc_id, g FROM grams WHERE doc_id % 10 <> 0),
        |hits AS (
        |  SELECT eval_id,
        |    CAST(count(DISTINCT tr.doc_id) AS BIGINT) AS n_train_docs,
        |    CAST(count(DISTINCT ev.g) AS BIGINT) AS n_hit_grams
        |  FROM ev JOIN tr USING (g) GROUP BY eval_id),
        |evdocs AS (
        |  SELECT doc_id AS eval_id, CAST(len(gs) AS BIGINT)
        |    AS n_eval_grams
        |  FROM garr WHERE doc_id % 10 = 0)
        |SELECT eval_id, n_eval_grams,
        |  coalesce(n_train_docs, 0) AS n_train_docs,
        |  coalesce(n_hit_grams, 0) AS n_hit_grams,
        |  round(CAST(coalesce(n_hit_grams, 0) AS DOUBLE) / n_eval_grams,
        |    6) AS hit_ratio
        |FROM evdocs LEFT JOIN hits USING (eval_id)
        |ORDER BY eval_id""".stripMargin))

  private[operators] def gramsCte =
    """garr AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 5
      |    THEN list_transform(range(1, len(w)-3),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
      |           w[i+3] || ' ' || w[i+4])
      |    ELSE [text] END) AS gs
      |  FROM (SELECT doc_id, text, string_split_regex(text, '\s+') AS w
      |        FROM documents)),
      |grams AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g
      |          FROM garr)
      |""".stripMargin
}
