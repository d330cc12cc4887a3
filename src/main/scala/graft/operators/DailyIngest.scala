package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Tables, sinks}
import sinks.Sinks

/** The DAILY-INGEST pipeline as one orchestrated flow — the product
  * composition a training-data team actually schedules: today's batch
  * runs the incremental gates against the PERSISTED corpus indexes
  * (never a corpus rescan), the survivors land as the day's kept-docs
  * artifact, the observability reports land beside them, the job
  * ledger and structured log record every step (the reference's
  * S5/S8 machinery — /root/reference/README.md:76,150 — wrapped around
  * the curation ops), and the indexes compact into the next snapshot.
  *
  * Every gate IS the proven incremental operator (q97/q139/q96/q150's
  * flows, q84's classifier); this object adds sequencing, artifact
  * layout, and bookkeeping — no new predicates. Daily cost is O(batch)
  * by construction: each step reads the batch plus a slim index table.
  *
  * Universe layout (the q150 residues, so the gates compose without
  * self-collision): eval docs (doc_id ≡ 0 mod 10) are the BENCHMARK —
  * they feed `eval_grams` and are never ingested; today's batch is the
  * train slice doc_id ≡ 0 mod [[CurationQueries.DeconBatchMod]]; the
  * corpus is every other train doc, already signed into the indexes.
  *
  * Gate order mirrors q115's funnel: exact dedup → normalized dedup →
  * near-dup (keep-min election: a batch doc loses only to a SMALLER
  * id, the q88 rule) → exact decontamination → FUZZY decontamination
  * (q173's similarity rung off the frozen eval signatures — both decon
  * rungs run, the production deployment) → quality classifier →
  * toxicity classifier (the second model family — q171's safety gate).
  * Drops are counted per FIRST failing gate (the q157 disposition
  * convention), so the summary's stage counts reconcile exactly.
  *
  * Artifacts under `outDir`:
  *   - `kept_docs.parquet` — surviving batch docs (full rows)
  *   - `disposition.parquet` — per batch doc, kept or first failing gate
  *   - `novelty_report.parquet` / `substring_report.parquet` — the
  *     q158/q156 reports off the same window index
  *   - `ledger/` — S5 job-ledger rows, one per step
  *   - `logs/` — S8 structured log lines
  *   - `index_next/` — compacted text_hash / norm_hash / substr_windows
  */
object DailyIngest {

  /** The text layouts' index families. */
  private val Families = Seq("text_hash", "norm_hash", "text_bands",
    "text_sets", "substr_windows", "eval_grams", "eval_bands", "eval_sets")

  /** (corpus, batch) on the train side; see the universe layout above.
    * `day` picks which DeconBatchMod residue arrives today, and
    * `pendingDays` are residues NOT yet ingested (tomorrow's batches) —
    * the corpus is every train doc outside the pending set, which is
    * what lets a multi-day chain start from a corpus that has not seen
    * any of the days it will ingest. */
  def split(spark: SparkSession, dataDir: String, day: Int = 0,
      pendingDays: Set[Int] = Set(0)): (DataFrame, DataFrame) = {
    require(pendingDays.contains(day), s"day $day already ingested")
    val train = graft.Scale.byKey(Tables(spark, dataDir, "documents"),
        col("doc_id"))
      .filter(col("doc_id") % 10 =!= 0)
    val residue = col("doc_id") % CurationQueries.DeconBatchMod
    (train.filter(!residue.isin(pendingDays.toSeq: _*)),
      train.filter(residue === day))
  }

  /** Writes the corpus-side indexes the pipeline reads — the once-per-
    * snapshot cost; `eval_grams` refreshes on the benchmark release
    * cycle instead but lives in the same layout. */
  def writeIndexes(spark: SparkSession, dataDir: String, dir: String,
      pendingDays: Set[Int] = Set(0)): Unit = {
    val (corpus, _) =
      split(spark, dataDir, pendingDays.head, pendingDays)
    def w(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    w(LLMQueries.hashIndex(corpus), "text_hash")
    w(LLMQueries.normHashIndex(corpus), "norm_hash")
    val (bands, sets) = LLMQueries.signatureTables(corpus)
    w(bands, "text_bands")
    w(sets, "text_sets")
    w(CurationQueries.substrWindowIndex(corpus), "substr_windows")
    val all = Tables(spark, dataDir, "documents")
    w(CurationQueries.evalGramIndex(all), "eval_grams")
    val (eBands, eSets) =
      LLMQueries.signatureTables(all.filter(col("doc_id") % 10 === 0))
    w(eBands, "eval_bands")
    w(eSets, "eval_sets")
  }

  /** Writes the corpus-side ASSET indexes [[runAssets]] reads — the
    * media convention's split (asset id ≡ 0 mod 10 is today's batch;
    * variants arrive with their originals), distinct from the text
    * layout's DeconBatchMod residues because assets have no benchmark
    * holdout. Tables: the canonical media trio (q111/q190's families,
    * members, canonical bands) + the frame and audio fingerprint
    * indexes — after this write, no corpus payload is ever re-decoded
    * by a daily run. */
  def writeAssetIndexes(spark: SparkSession, dataDir: String,
      dir: String): Unit =
    IndexStore.writeAssetIndexes(spark, dataDir, dir) // one layout (ADVICE r13)

  /** The per-ASSET daily ingest (VERDICT r12 "Next round" #4 — the
    * q157/q159 provenance convention extended past text): today's
    * batch assets run the three modality dedup verdicts off the
    * PERSISTED asset indexes — the q111 canonical-family flow, the
    * q183 frame-containment flow, the q128 audio-fingerprint flow;
    * only batch payloads decode — and land `kept_assets.parquet` +
    * `asset_disposition.parquet` beside the text artifacts, with the
    * same ledger/log bookkeeping and the compacted next-snapshot asset
    * indexes under `index_next/`. Disposition is
    * [[graft.multimodal.Multimodal.assetDispositionOf]] — ONE
    * definition with the q193 oracle, parity spec-pinned. Returns the
    * summary (step, n_docs). */
  def runAssets(spark: SparkSession, indexDir: String, dataDir: String,
      outDir: String, ts: String = "1970-01-01T00:00:00Z"): DataFrame = {
    val m = graft.multimodal.Multimodal
    runAssetsFrom(spark, indexDir,
      m.mediaSplit(spark, dataDir)._2,
      m.frameFpSplit(spark, dataDir)._2,
      m.audioFpSplit(spark, dataDir)._2,
      outDir, s"$outDir/index_next", ts)
  }

  /** The asset day's core given the three BATCH frames — shared by
    * [[runAssets]] (nightly, frames from the daily universe splits)
    * and [[graft.streaming.StreamingOps.continuousAssetIngest]] (per
    * micro-batch, frames decoded from arriving payloads), so the two
    * cadences gate, elect, and compact identically. `nextDir` receives
    * the complete next asset-index snapshot. */
  def runAssetsFrom(spark: SparkSession, indexDir: String,
      batchH0: DataFrame, batchFh0: DataFrame, batchAf0: DataFrame,
      outDir: String, nextDir: String, ts: String): DataFrame = {
    val m = graft.multimodal.Multimodal
    def idx(name: String): DataFrame =
      Tables.read(spark, s"$indexDir/$name.parquet")
    // ONE batch decode per modality per daily run: each checkpointed
    // frame feeds its gate AND its compactor (ADVICE r13 — the
    // compactors previously re-decoded the batch payloads)
    val batchH = batchH0
      .transform(graft.Materialize.shared) // media gate + kept join + compact
    val batchFh = batchFh0
      .transform(graft.Materialize.shared) // frame gate + compaction
    val batchAf = batchAf0
      .transform(graft.Materialize.shared) // audio gate + compaction
    val disposition = m.assetDispositionOf(
      batchH.select(col("doc_id"), col("kind")),
      m.incrementalMediaNearDupsCanonical(idx("media_fams"),
        idx("media_members"), idx("media_bands_c"), batchH),
      m.incrementalFrameNearDups(idx("frame_fps"), batchFh),
      m.incrementalAudioNearDups(idx("audio_fps"), batchAf))
      .transform(graft.Materialize.shared) // kept join + summary + write
    val kept = batchH.select(col("doc_id"), col("kind"), col("phash"))
      .join(disposition.filter(col("disposition") === "kept")
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    kept.orderBy(col("doc_id")).write.mode("overwrite")
      .parquet(s"$outDir/kept_assets.parquet")
    disposition.orderBy(col("doc_id")).write.mode("overwrite")
      .parquet(s"$outDir/asset_disposition.parquet")
    // next-snapshot asset indexes: the IndexStore compactors on the
    // same layout — shift-aware canonical merge, fingerprint appends —
    // fed the already-checkpointed batch frames (no second decode)
    IndexStore.compactMediaNearDupFrom(spark, indexDir, batchH, nextDir)
    IndexStore.compactFrameFpsFrom(spark, indexDir, batchFh, nextDir)
    IndexStore.compactAudioFpsFrom(spark, indexDir, batchAf, nextDir)
    val summary = disposition.groupBy(col("disposition").as("step"))
      .agg(count(lit(1)).as("n_docs"))
      .unionByName(batchH.agg(count(lit(1)).as("n_docs"))
        .select(lit("assets_in").as("step"), col("n_docs")))
      .orderBy(col("step"))
      .transform(graft.Materialize.shared) // feeds ledger, logs AND return
    Sinks.appendLedger(summary
      .select(xxhash64(lit(ts), lit("asset"), col("step")).as("job_id"),
        concat(lit("asset_"), col("step")).as("step"),
        col("n_docs"), lit(ts).as("ts"), lit("completed").as("status")),
      s"$outDir/ledger")
    Sinks.writeLogs(summary
      .select(lit(ts).as("ts"), lit("INFO").as("level"),
        lit("daily_asset_step").as("event"),
        concat_ws(" ", col("step"), col("n_docs")).as("message")),
      s"$outDir/logs")
    summary
  }

  /** The corpus-side VECTOR indexes [[runVectors]] reads — the q102
    * key index, the q103/q186 canonical trio, and the q104 semantic
    * tables, under IndexStore's one layout (the writeAssetIndexes
    * convention). */
  def writeVectorIndexes(spark: SparkSession, dataDir: String,
      dir: String): Unit =
    IndexStore.writeVectorIndexes(spark, dataDir, dir)

  /** The per-VECTOR daily ingest (VERDICT r13 "Next round" #1 — the
    * q157/q159/q193 provenance convention extended to the third data
    * type): today's batch vectors run the three dedup verdicts off the
    * PERSISTED vector indexes — the q102 key index, the q103/q186
    * canonical trio (self-contained: cosine verification reads
    * `vec_canon`; the lake is scanned only for the batch), the q104
    * semantic tables — and land `kept_vectors.parquet` +
    * `vector_disposition.parquet` beside the text/asset artifacts,
    * with the same ledger/log bookkeeping and the next-snapshot vector
    * indexes under `index_next/`. Disposition is
    * [[VectorQueries.vectorDispositionOf]] — ONE definition with the
    * q194 oracle, parity spec-pinned.
    *
    * The semantic tables are REBUILD-CLASS (the q105 freeze trade —
    * IndexStore's compaction table deliberately excludes sem_*): they
    * carry through to `index_next` unchanged and refresh by scheduled
    * rebuild, so day N+1's election gate runs against the same frozen
    * clusters while its exact/near gates see day N's batch. Returns
    * the summary (step, n_docs). */
  def runVectors(spark: SparkSession, indexDir: String, dataDir: String,
      outDir: String, ts: String = "1970-01-01T00:00:00Z"): DataFrame =
    runVectorsFrom(spark, indexDir,
      IndexStore.vecSplit(spark, dataDir)._2,
      outDir, s"$outDir/index_next", ts)

  /** The vector day's core given the BATCH frame — shared by
    * [[runVectors]] (nightly, batch from the daily universe split) and
    * [[graft.streaming.StreamingOps.continuousVectorIngest]] (per
    * micro-batch, batch from arriving rows), so the two cadences gate,
    * elect, and compact identically. `nextDir` receives the complete
    * next vector-index snapshot. The batch is checkpointed ONCE and
    * feeds the three gates AND both compactors (the ADVICE r13 asset
    * rule — the lake is never re-scanned by compaction). */
  def runVectorsFrom(spark: SparkSession, indexDir: String,
      batch0: DataFrame, outDir: String, nextDir: String,
      ts: String): DataFrame = {
    val v = VectorQueries
    def idx(name: String): DataFrame =
      Tables.read(spark, s"$indexDir/$name.parquet")
    val batch = batch0
      .transform(graft.Materialize.shared) // 3 gates + kept join + compactors
    val disposition = v.vectorDispositionOf(batch,
      v.incrementalVectorExactDedup(idx("vec_hash"), batch),
      v.incrementalVectorNearDupsCanonical(idx("vec_fams"),
        idx("vec_members"), idx("vec_bands_c"), idx("vec_canon"), batch),
      v.incrementalSemanticMembers(idx("sem_fams"), idx("sem_vecc"),
        idx("sem_bandsc"), idx("sem_ccc"), idx("sem_statsc"), batch))
      .transform(graft.Materialize.shared) // kept join + summary + write
    val kept = batch
      .join(disposition.filter(col("disposition") === "kept")
        .select(col("vec_id")), Seq("vec_id"), "left_semi")
    kept.orderBy(col("vec_id")).write.mode("overwrite")
      .parquet(s"$outDir/kept_vectors.parquet")
    disposition.orderBy(col("vec_id")).write.mode("overwrite")
      .parquet(s"$outDir/vector_disposition.parquet")
    // next-snapshot vector indexes: the compactable families merge the
    // batch (IndexStore compactors, spec-pinned == rebuild) off the
    // already-checkpointed frame; the rebuild-class sem_* tables carry
    // through unchanged (the eval_grams convention)
    IndexStore.compactVecExactFrom(spark, indexDir, batch, nextDir)
    IndexStore.compactVecNearDupFrom(spark, indexDir, batch, nextDir)
    Seq("sem_fams", "sem_vecc", "sem_bandsc", "sem_ccc", "sem_statsc")
      .foreach(n => idx(n).write.mode("overwrite")
        .parquet(s"$nextDir/$n.parquet"))
    val summary = disposition.groupBy(col("disposition").as("step"))
      .agg(count(lit(1)).as("n_docs"))
      .unionByName(batch.agg(count(lit(1)).as("n_docs"))
        .select(lit("vectors_in").as("step"), col("n_docs")))
      .orderBy(col("step"))
      .transform(graft.Materialize.shared) // feeds ledger, logs AND return
    Sinks.appendLedger(summary
      .select(xxhash64(lit(ts), lit("vector"), col("step")).as("job_id"),
        concat(lit("vector_"), col("step")).as("step"),
        col("n_docs"), lit(ts).as("ts"), lit("completed").as("status")),
      s"$outDir/ledger")
    Sinks.writeLogs(summary
      .select(lit(ts).as("ts"), lit("INFO").as("level"),
        lit("daily_vector_step").as("event"),
        concat_ws(" ", col("step"), col("n_docs")).as("message")),
      s"$outDir/logs")
    summary
  }

  /** The SCHEDULED REBUILD of the rebuild-class vector tables — the
    * orchestration the q160 drift report exists to trigger (VERDICT r14
    * "Next round" #2: [[runVectorsFrom]] carries sem_* through
    * unchanged by the q105 freeze trade and the drift report signals
    * when the frozen quantizer/clusters stop fitting the data, but no
    * path executed the refresh — the lifecycle ended one step before
    * its loop closed). Recomputes every rebuild-class family from the
    * CURRENT universe (corpus ∪ kept history — the caller supplies the
    * embeddings frame, because a scheduled rebuild is exactly the
    * amortized O(corpus) job the O(batch) daily exists to avoid):
    *
    *   - the q104 semantic tables (`sem_*`) — the next day's election
    *     gate runs against refreshed clusters;
    *   - the q105/q160 coarse quantizer + serving stats
    *     (`ivf_centroids` / `ivf_cell_stats`) — measured drift resets
    *     to the new quantizer's baseline by construction;
    *   - the q181/q182 IVFPQ serving artifacts (`ivfpq_centroids` /
    *     trained residual codebook / corpus codes — one Lloyd run).
    *
    * The compactable families (`vec_hash` + the canonical trio) CARRY
    * from `indexDir` unchanged — daily compaction owns them; the
    * rebuild owns exactly what compaction cannot express. `nextDir`
    * receives a COMPLETE next snapshot (the runVectorsFrom contract:
    * tomorrow's day reads it as its indexDir). DailyIngestSpec pins
    * rebuild == the carried tables when no batch arrived (the
    * compaction==rebuild rule, sem flavor) and the election-churn
    * surface of a refresh ([[VectorQueries.keptChurnOf]] — which
    * shipped vectors flip when the clusters refresh); `Soak lifecycle`
    * wires the drift-triggered example and prices build-vs-carry at
    * scale. Returns the summary (step, n_docs). */
  def rebuildSemantic(spark: SparkSession, indexDir: String,
      universeEmb: DataFrame, nextDir: String,
      ts: String = "1970-01-01T00:00:00Z"): DataFrame = {
    val v = VectorQueries
    def idx(name: String): DataFrame =
      Tables.read(spark, s"$indexDir/$name.parquet")
    def w(df: DataFrame, name: String): Long = {
      df.write.mode("overwrite").parquet(s"$nextDir/$name.parquet")
      Tables.read(spark, s"$nextDir/$name.parquet").count()
    }
    val emb = universeEmb
      .transform(graft.Materialize.shared) // centroids + vec projection
    val vecs = v.vecsOf(emb).select(col("vec_id"), col("v"))
      .transform(graft.Materialize.shared) // sem tables + assign + residuals
    val cents = v.centroidsOf(emb)
      .transform(graft.Materialize.shared) // 2 writes + stats + residuals
    val res = v.ivfPqResiduals(vecs, cents)
      .transform(graft.Materialize.shared) // trainer + encode
    // EAGER (the AnnFrames seal rule): the trained codebook feeds its
    // own write AND the encode's broadcast — lazy would pay the Lloyd
    // rounds once per consumer
    val rcb = v.pqTrainedCodebookOfMicro(
        res.select(col("vec_id"), col("rv").as("mv")))
      .transform(graft.Materialize.now)
    IndexStore.writeSemantic(vecs, nextDir)
    val counts =
      Seq("vec_hash", "vec_fams", "vec_members", "vec_bands_c",
        "vec_canon").map(n => s"carried_$n" -> w(idx(n), n)) ++
      Seq("sem_fams", "sem_vecc", "sem_bandsc", "sem_ccc", "sem_statsc")
        .map(n => s"rebuilt_$n" ->
          Tables.read(spark, s"$nextDir/$n.parquet").count()) ++
      Seq(
        "rebuilt_ivf_centroids" -> w(cents, "ivf_centroids"),
        "rebuilt_ivf_cell_stats" -> w(
          v.cellStatsOf(v.cellAssign(vecs, cents)), "ivf_cell_stats"),
        "rebuilt_ivfpq_centroids" -> w(cents, "ivfpq_centroids"),
        "rebuilt_ivfpq_codebook" -> w(rcb, "ivfpq_codebook"),
        "rebuilt_ivfpq_codes" -> w(
          v.ivfPqEncode(res, cents, rcb), "ivfpq_codes"))
    import spark.implicits._
    val summary = counts.toDF("step", "n_docs").orderBy(col("step"))
      .transform(graft.Materialize.shared) // feeds ledger, logs AND return
    Sinks.appendLedger(summary
      .select(xxhash64(lit(ts), lit("rebuild"), col("step")).as("job_id"),
        concat(lit("rebuild_"), col("step")).as("step"),
        col("n_docs"), lit(ts).as("ts"), lit("completed").as("status")),
      s"$nextDir/ledger")
    Sinks.writeLogs(summary
      .select(lit(ts).as("ts"), lit("INFO").as("level"),
        lit("vector_rebuild_step").as("event"),
        concat_ws(" ", col("step"), col("n_docs")).as("message")),
      s"$nextDir/logs")
    summary
  }

  /** The per-batch-doc disposition given the corpus-side index frames —
    * ONE definition for the pipeline (disk-read frames) and the q159
    * oracle query (in-query frames), so the shipped flow and the
    * DuckDB-checked flow can never disagree. A near-dup drop requires
    * a verified jaccard ≥ [[CurationQueries.ClusterThreshold]] against
    * a smaller id (the q85 cluster-membership criterion — banding alone
    * is a candidate generator, not a verdict). */
  def dispositionOf(batch: DataFrame, textHash: DataFrame,
      normHash: DataFrame, bands: DataFrame, sets: DataFrame,
      evalGrams: DataFrame, evalBands: DataFrame,
      evalSets: DataFrame): DataFrame = {
    val (batchBands, batchSets) = LLMQueries.signatureTables(batch)
    dispositionOf(batch, textHash, normHash, bands, sets, evalGrams,
      evalBands, evalSets,
      batchBands.transform(graft.Materialize.shared),
      batchSets.transform(graft.Materialize.shared))
  }

  /** [[dispositionOf]] with the batch's signature tables supplied —
    * [[writeDay]] computes them once per day and reuses them for index
    * persistence (one definition, one execution). Contract:
    * `batchBands`/`batchSets` must be reusable (each feeds the near-dup
    * AND fuzzy-decon gates) — pass lazy localCheckpoints. */
  def dispositionOf(batch: DataFrame, textHash: DataFrame,
      normHash: DataFrame, bands: DataFrame, sets: DataFrame,
      evalGrams: DataFrame, evalBands: DataFrame, evalSets: DataFrame,
      batchBands: DataFrame, batchSets: DataFrame): DataFrame = {
    val exactKeep = LLMQueries.incrementalExactDedup(textHash, batch)
      .select(col("keep_id").as("doc_id"), lit(true).as("f_exact"))
    val normKeep = LLMQueries.incrementalNormalizedDedup(normHash, batch)
      .select(col("keep_id").as("doc_id"), lit(true).as("f_norm"))
    val nearLoser = LLMQueries
      .incrementalNearDupsFrom(bands, sets, batchBands, batchSets)
      .filter(col("jaccard") >= CurationQueries.ClusterThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
      .select(col("doc_id"), lit(true).as("f_near"))
    val contaminated = CurationQueries
      .incrementalDecontaminate(evalGrams, batch)
      .select(col("doc_id"), lit(true).as("f_cont"))
    val fuzzyCont = CurationQueries
      .incrementalFuzzyDecontaminateFrom(evalBands, evalSets,
        batchBands, batchSets)
      .select(col("doc_id"), lit(true).as("f_fuzzy"))
    val qualityKeep = CurationQueries.qualityClassifierDocs(batch)
      .filter(col("decision") === "keep")
      .select(col("doc_id"), lit(true).as("f_qual"))
    val toxClean = CurationQueries.toxicityClassifierDocs(batch)
      .filter(col("decision") === "clean")
      .select(col("doc_id"), lit(true).as("f_tox"))
    batch.select(col("doc_id"))
      .join(exactKeep, Seq("doc_id"), "left")
      .join(normKeep, Seq("doc_id"), "left")
      .join(nearLoser, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .join(fuzzyCont, Seq("doc_id"), "left")
      .join(qualityKeep, Seq("doc_id"), "left")
      .join(toxClean, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("f_exact").isNull, "dropped_exact_dup")
          .when(col("f_norm").isNull, "dropped_normalized_dup")
          .when(col("f_near").isNotNull, "dropped_near_dup")
          .when(col("f_cont").isNotNull, "dropped_contaminated")
          .when(col("f_fuzzy").isNotNull, "dropped_fuzzy_contaminated")
          .when(col("f_qual").isNull, "dropped_quality")
          .when(col("f_tox").isNull, "dropped_toxicity")
          .otherwise("kept").as("disposition"))
  }

  /** q159: the ingest disposition as an ORACLE query — index frames
    * built in-query (as the oracle must; the pipeline reads the same
    * frames from parquet, parity spec-pinned in DailyIngestSpec). */
  def ingestDisposition(spark: SparkSession, dir: String): DataFrame = {
    val (corpus, batch) = split(spark, dir)
    val (bands, sets) = LLMQueries.signatureTables(corpus)
    val all = Tables(spark, dir, "documents")
    val (eBands, eSets) =
      LLMQueries.signatureTables(all.filter(col("doc_id") % 10 === 0))
    dispositionOf(batch, LLMQueries.hashIndex(corpus),
      LLMQueries.normHashIndex(corpus), bands, sets,
      CurationQueries.evalGramIndex(all), eBands, eSets)
      .orderBy(col("doc_id"))
  }

  /** Merges today's batch into the read index frames and writes a
    * COMPLETE next snapshot — additive/union compaction, never a
    * corpus rescan. ONE definition shared by [[run]] (nightly) and
    * [[graft.streaming.StreamingOps.continuousIngest]] (per
    * micro-batch), so the two cadences compact identically. */
  def compactIndexes(idx: String => DataFrame, batch: DataFrame,
      write: (DataFrame, String) => Unit): Unit = {
    val (batchBands, batchSets) = LLMQueries.signatureTables(batch)
    compactIndexes(idx, batch, batchBands, batchSets,
      CurationQueries.docWindows(batch), write)
  }

  /** [[compactIndexes]] with the batch's signature tables and window
    * rows supplied — see the [[dispositionOf]] overload's rationale
    * (compute each batch pass once per day, not once per consumer). */
  def compactIndexes(idx: String => DataFrame, batch: DataFrame,
      batchBands: DataFrame, batchSets: DataFrame,
      batchWins: DataFrame, write: (DataFrame, String) => Unit): Unit = {
    write(idx("text_hash")
      .unionByName(LLMQueries.hashIndex(batch)).distinct(), "text_hash")
    write(idx("norm_hash")
      .unionByName(LLMQueries.normHashIndex(batch)).distinct(), "norm_hash")
    write(idx("substr_windows")
      .unionByName(CurationQueries.substrWindowIndexFrom(batchWins))
      // corpus and batch ids are disjoint, so distinct-doc counts ADD
      .groupBy(col("wh")).agg(sum(col("nd")).as("nd")), "substr_windows")
    write(idx("text_bands").unionByName(batchBands), "text_bands")
    write(idx("text_sets").unionByName(batchSets), "text_sets")
    // frozen per benchmark release — carried through unchanged
    write(idx("eval_grams"), "eval_grams")
    write(idx("eval_bands"), "eval_bands")
    write(idx("eval_sets"), "eval_sets")
  }

  /** The day's shared core: disposition + artifacts + (layout-specific)
    * index persistence + bookkeeping. Its jobs are small, so it runs
    * independent ones concurrently ([[graft.Parallel]]) instead of
    * queueing one one-task job behind the next, in three steps:
    *
    *  1. the eight index reads run side by side (see below);
    *  2. the batch's signature tables (bands, sets) and window rows
    *     materialize side by side;
    *  3. four branches fan out: the disposition tail ([[dispositionTail]]:
    *     disposition, then `kept_docs` / `disposition.parquet` / ledger /
    *     logs), the novelty report, the substring report, and
    *     `persistNext` (the snapshot pipeline compacts into `index_next`,
    *     the delta pipeline appends a generation in place).
    *
    * A frame read by more than one concurrent job is EAGER
    * (`Materialize.now`), because concurrent jobs over a lazy checkpoint
    * each recompute it (the race the Materialize scaladoc describes): the
    * bands and sets feed the near-dup and fuzzy gates AND persistNext,
    * and the window rows feed both reports AND persistNext. `batch` must
    * come in eager for the same reason. A frame read by one branch stays
    * lazy.
    *
    * Every `idx` read the gates and reports use is constructed first
    * (each lists its files and reads one footer on the driver,
    * [[graft.Tables.read]]): a parquet read lists its files when it is
    * constructed, so none can list the generation the delta persistNext
    * is writing into the same root (that persistNext reads no index; the
    * snapshot one reads `indexDir`, which nothing writes). The
    * disposition's plan is built inside its branch: under AQE, building
    * a gate's lazy checkpoint already runs its shuffle stages. No branch
    * may mutate session conf (`Tables(…, "events")` does). */
  private def writeDay(spark: SparkSession, batch: DataFrame,
      idx: String => DataFrame, outDir: String, ts: String)(
      persistNext: (DataFrame, DataFrame, DataFrame) => Unit): DataFrame = {
    val index = Families.zip(
      graft.Parallel.all(Families.map(name => () => idx(name)): _*)).toMap
    val (rawBands, rawSets) = LLMQueries.signatureTables(batch)
    val Seq(batchBands, batchSets, batchWins) = graft.Parallel.all(
      () => rawBands.transform(graft.Materialize.now), // 2 gates + persistNext
      () => rawSets.transform(graft.Materialize.now), // 2 gates + persistNext
      () => CurationQueries.docWindows(batch)
        .transform(graft.Materialize.now)) // both reports + persistNext

    var summary: DataFrame = null // the disposition branch's result
    graft.Parallel.all(
      () => summary = dispositionTail(batch, dispositionOf(batch,
        index("text_hash"), index("norm_hash"), index("text_bands"),
        index("text_sets"), index("eval_grams"), index("eval_bands"),
        index("eval_sets"), batchBands, batchSets), outDir, ts),
      () => CurationQueries
        .noveltyReportFrom(index("substr_windows"), batch, batchWins)
        .write.mode("overwrite").parquet(s"$outDir/novelty_report.parquet"),
      () => CurationQueries
        .incrementalSubstringReportFrom(index("substr_windows"), batch,
          batchWins)
        .write.mode("overwrite")
        .parquet(s"$outDir/substring_report.parquet"),
      () => persistNext(batchBands, batchSets, batchWins))
    summary
  }

  /** [[writeDay]]'s disposition branch: the disposition materializes
    * once, the summary once, then the two artifacts and the two
    * bookkeeping writes run side by side. Both frames are EAGER for the
    * writeDay reason: the disposition feeds the kept join, its own write
    * and the summary; the summary feeds the ledger and log writes and
    * the caller. Returns the summary. */
  private def dispositionTail(batch: DataFrame, disposition0: DataFrame,
      outDir: String, ts: String): DataFrame = {
    val disposition = disposition0
      .transform(graft.Materialize.now) // kept join, write, summary
    val kept = batch.join(
      disposition.filter(col("disposition") === "kept")
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    // bookkeeping: one ledger row + one log line per step
    val summary = disposition.groupBy(col("disposition").as("step"))
      .agg(count(lit(1)).as("n_docs"))
      .unionByName(batch.agg(count(lit(1)).as("n_docs"))
        .select(lit("batch_in").as("step"), col("n_docs")))
      .orderBy(col("step"))
      .transform(graft.Materialize.now) // concurrent ledger + logs, AND return
    graft.Parallel.all(
      () => kept.write.mode("overwrite").parquet(s"$outDir/kept_docs.parquet"),
      () => disposition.orderBy(col("doc_id")).write.mode("overwrite")
        .parquet(s"$outDir/disposition.parquet"),
      // job_id = hash(ts, step): unique per ingest day even though the
      // ledger APPENDS across days (monotonically_increasing_id restarts
      // at 0 every run — ADVICE r10, fixed alongside ReleaseBuild)
      () => Sinks.appendLedger(summary
        .select(xxhash64(lit(ts), col("step")).as("job_id"), col("step"),
          col("n_docs"), lit(ts).as("ts"), lit("completed").as("status")),
        s"$outDir/ledger"),
      () => Sinks.writeLogs(summary
        .select(lit(ts).as("ts"), lit("INFO").as("level"),
          lit("daily_ingest_step").as("event"),
          concat_ws(" ", col("step"), col("n_docs")).as("message")),
        s"$outDir/logs"))
    summary
  }

  /** Writes each (frame, family) pair as `path(family)`, all at once —
    * the delta layout's family writes are mutually independent. */
  private def writeFamilies(frames: (DataFrame, String)*)(
      path: String => String): Unit =
    graft.Parallel.all(frames.map { case (df, name) =>
      () => df.write.mode("overwrite").parquet(path(name))
    }: _*)

  /** Runs the pipeline; returns the summary frame (step, n_docs) that
    * is also written to the ledger. `ts` is caller-supplied so runs
    * are deterministic (the S8 rule). */
  def run(spark: SparkSession, indexDir: String, dataDir: String,
      outDir: String, ts: String = "1970-01-01T00:00:00Z",
      day: Int = 0): DataFrame = {
    val batch = split(spark, dataDir, day, Set(day))._2
      .transform(graft.Materialize.now) // every gate + concurrent writes
    def idx(name: String): DataFrame =
      Tables.read(spark, s"$indexDir/$name.parquet")

    // next-snapshot indexes: merge the BATCH into the read tables —
    // additive/union compaction, never a corpus rescan (the IndexStore
    // compaction algebra on this pipeline's own split). index_next is a
    // COMPLETE snapshot: tomorrow's run reads it as its indexDir, so a
    // multi-day chain composes (DailyIngestSpec proves two days equal
    // one rebuilt snapshot).
    writeDay(spark, batch, idx, outDir, ts) { (bBands, bSets, bWins) =>
      compactIndexes(idx, batch, bBands, bSets, bWins, (df, name) =>
        df.write.mode("overwrite")
          .parquet(s"$outDir/index_next/$name.parquet"))
    }
  }

  // ---- delta index layout (the O(batch)-per-day refinement) ----------
  //
  // `Soak ingest`'s attribution legs measured the snapshot pipeline's
  // recurring cost at a 7:1 corpus:batch ratio (10× of sf0.1): gates
  // ≈ 44 s CPU, snapshot compaction ≈ 43 s CPU — HALF the daily bill
  // is rewriting corpus-sized tables (text_sets' shingle arrays
  // dominate), and that half is O(corpus): it grows with every
  // ingested day while the gates stay O(batch). The delta layout
  // removes it: every family is a partition-dir of GENERATIONS
  // (`<name>.parquet/gen=K` — gen 0 is the corpus seed, gen day+1 is
  // that day's batch-sized delta), the daily write is O(batch), and a
  // replayed day overwrites its own generation (idempotent, the same
  // per-partition-overwrite contract the continuousIngest twin uses
  // for its outputs). This is the hand-rolled form of what a
  // transactional table format (Delta/Iceberg) provides at 100 TB.
  //
  // Readers tolerate the layout by construction: hash anti-joins are
  // unaffected by a key appearing in several generations; bands/sets
  // rows are doc-keyed and generations are disjoint, so the multi-gen
  // union IS the snapshot union; the window reports aggregate per-wh
  // partial counts AFTER a batch-bounded semi-join
  // (CurationQueries.touchedWins), so delta partials sum to snapshot
  // totals without a corpus-wide shuffle. DailyIngestSpec pins the
  // two-day delta chain byte-identical to the snapshot chain.

  /** Seeds the delta layout: the corpus-side index of every family as
    * generation 0 under ONE root that [[runDelta]] both reads and
    * extends. The eight writes run concurrently ([[graft.Parallel]]);
    * `corpus` and `all` feed several of them, but as plain scans with no
    * checkpoint, so each write plans its own scan as the sequential
    * writes did and no lazy checkpoint is raced. */
  def writeIndexesDelta(spark: SparkSession, dataDir: String,
      rootDir: String, pendingDays: Set[Int] = Set(0)): Unit = {
    val (corpus, _) =
      split(spark, dataDir, pendingDays.head, pendingDays)
    val (bands, sets) = LLMQueries.signatureTables(corpus)
    val all = Tables(spark, dataDir, "documents")
    val (eBands, eSets) =
      LLMQueries.signatureTables(all.filter(col("doc_id") % 10 === 0))
    writeFamilies(
      LLMQueries.hashIndex(corpus) -> "text_hash",
      LLMQueries.normHashIndex(corpus) -> "norm_hash",
      bands -> "text_bands",
      sets -> "text_sets",
      CurationQueries.substrWindowIndex(corpus) -> "substr_windows",
      CurationQueries.evalGramIndex(all) -> "eval_grams",
      eBands -> "eval_bands",
      eSets -> "eval_sets")(name => s"$rootDir/$name.parquet/gen=0")
  }

  /** Folds a delta root's generations into a fresh single-generation
    * root — the periodic vacuum of the delta layout: N days of batch
    * partitions merge into one gen-0 snapshot (distinct for the hash
    * families, re-aggregated counts for the window family, plain
    * concatenation for the doc-disjoint signature tables). Reads and
    * rewrites INDEX rows only, never documents — the amortized cost a
    * table format's compaction job pays; day numbering continues
    * unchanged afterwards ([[runDelta]] reads gen ≤ day, and the fold
    * is gen 0). `throughGen` bounds the fold to COMMITTED generations:
    * a vacuum running beside an in-flight day must not absorb that
    * day's (possibly partial, possibly about-to-be-replayed) partition
    * — fold gen ≤ day, exactly like the readers.
    *
    * The eight families fold concurrently ([[graft.Parallel]]), each
    * read inside its own task (a read lists the family's generations,
    * and nothing writes `rootDir` here); no frame is shared between
    * them, so none needs materializing. */
  def foldDelta(spark: SparkSession, rootDir: String,
      outRootDir: String, throughGen: Int = Int.MaxValue): Unit = {
    def folded(name: String): DataFrame = {
      val gens = Tables.read(spark, s"$rootDir/$name.parquet")
        .filter(col("gen") <= throughGen).drop("gen")
      name match {
        case "text_hash" | "norm_hash" => gens.distinct()
        case "substr_windows" =>
          gens.groupBy(col("wh")).agg(sum(col("nd")).as("nd"))
        case _ => gens
      }
    }
    graft.Parallel.all(Families.map(name => () =>
      folded(name).write.mode("overwrite")
        .parquet(s"$outRootDir/$name.parquet/gen=0")): _*)
  }

  /** [[run]] against the delta layout: same gates, same artifacts, but
    * index persistence is an O(batch) generation write into `rootDir`
    * itself — no `index_next`, tomorrow reads the same root. */
  def runDelta(spark: SparkSession, rootDir: String, dataDir: String,
      outDir: String, ts: String = "1970-01-01T00:00:00Z",
      day: Int = 0): DataFrame = {
    val batch = split(spark, dataDir, day, Set(day))._2
      .transform(graft.Materialize.now) // every gate + concurrent writes
    // gen ≤ day: a crashed attempt's own gen=day+1 partition must not
    // feed the gates on retry (the batch would self-collide in the
    // exact gate) — the filter is partition pruning, zero read cost
    def idx(name: String): DataFrame =
      Tables.read(spark, s"$rootDir/$name.parquet")
        .filter(col("gen") <= day).drop("gen")

    writeDay(spark, batch, idx, outDir, ts) { (bBands, bSets, bWins) =>
      // eval_grams is frozen per benchmark release — gen 0 only
      writeFamilies(
        LLMQueries.hashIndex(batch) -> "text_hash",
        LLMQueries.normHashIndex(batch) -> "norm_hash",
        bBands -> "text_bands",
        bSets -> "text_sets",
        CurationQueries.substrWindowIndexFrom(bWins) -> "substr_windows")(
        name => s"$rootDir/$name.parquet/gen=${day + 1}")
    }
  }
}
