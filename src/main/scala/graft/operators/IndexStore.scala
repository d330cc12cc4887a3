package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** On-disk lifecycle of the incremental-dedup corpus indexes.
  *
  * The q96–q98/q102–q105 oracle queries prove the incremental OPERATORS
  * correct, but they rebuild the corpus-side index inside the query each
  * run — fine for an oracle, wrong as a cost model: a real daily
  * pipeline writes the index ONCE per corpus snapshot and every daily
  * batch reads it back (VERDICT r8 "What's missing" #1). This object is
  * that missing write→read path: one `write<Family>` per persisted
  * index, one `daily<Family>` per batch leg that reads the parquet
  * tables and must produce EXACTLY the rows of the corresponding
  * in-memory oracle query (IndexStoreSpec pins the equality; `Soak index`
  * measures the build/daily split at 10×/100×).
  *
  * Layout under an index directory (all plain parquet, overwrite mode):
  * {{{
  *   text_bands.parquet      text_sets.parquet      # q96  (signatureTables)
  *   text_hash.parquet                              # q97  (hashIndex)
  *   segments.parquet                               # q98  (segmentIndex)
  *   vec_hash.parquet                               # q102 (vectorHashIndex)
  *   vec_fams/members/bands_c/canon.parquet         # q103/q186 (vecNearDupIndexTables)
  *   sem_fams/vecc/bandsc/ccc/statsc.parquet        # q104 (semanticIndexTables)
  *   ivf_centroids.parquet                          # q105 (centroidsOf)
  *   ivf_cell_stats.parquet                         # q160 (cellStatsOf)
  *   media_fams/members/bands_c.parquet             # q111/q180/q190 (mediaNearDupIndexTables)
  *   bpe_vocab.parquet                              # q113 (bpeVocabOf)
  *   dsir_model.parquet                             # q116 (dsirModelOf)
  *   audio_fps.parquet                              # q128 (audioFpSplit)
  *   norm_hash.parquet                              # q139 (normHashIndex)
  *   bm25_tf/dl/df/stats.parquet                    # q144 (bm25Index + stats)
  *   kn_bigrams.parquet                             # q167 (knBigramTable)
  *   pps_prio.parquet                               # q161 (ppsPriorityTable)
  * }}}
  *
  * The corpus/batch split is the same residue rule the oracle queries
  * use (id % 10 == 0 is today's batch), so every daily runner here is
  * row-for-row comparable with its qNN twin.
  */
object IndexStore extends IndexStoreCompaction with IndexStoreCapped {

  private[operators] def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  private[operators] def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The documents table split once per daily run: (corpus, batch). */
  def docSplit(spark: SparkSession, dataDir: String): (DataFrame, DataFrame) = {
    val d = graft.Scale.byKey(Tables(spark, dataDir, "documents"),
      col("doc_id"))
    (d.filter(col("doc_id") % LLMQueries.BatchMod =!= 0),
      d.filter(col("doc_id") % LLMQueries.BatchMod === 0))
  }

  /** The embeddings table as (vec_id, v) split into (corpus, batch). */
  def vecSplit(spark: SparkSession, dataDir: String): (DataFrame, DataFrame) = {
    val e = VectorQueries.vecsOf(Tables(spark, dataDir, "embeddings"))
      .select(col("vec_id"), col("v"))
    (e.filter(col("vec_id") % VectorQueries.VecBatchMod =!= 0),
      e.filter(col("vec_id") % VectorQueries.VecBatchMod === 0))
  }

  // ---- per-family write (corpus snapshot → parquet) --------------------

  def writeTextNearDup(corpusDocs: DataFrame, dir: String): Unit = {
    val (bands, sets) = LLMQueries.signatureTables(corpusDocs)
    write(bands, dir, "text_bands")
    write(sets, dir, "text_sets")
  }

  def writeTextExact(corpusDocs: DataFrame, dir: String): Unit =
    write(LLMQueries.hashIndex(corpusDocs), dir, "text_hash")

  def writeSegments(corpusDocs: DataFrame, dir: String): Unit =
    write(CurationQueries.segmentIndex(corpusDocs), dir, "segments")

  def writeVecExact(corpusVecs: DataFrame, dir: String): Unit =
    write(VectorQueries.vectorHashIndex(corpusVecs), dir, "vec_hash")

  /** The canonical vec_near_dup trio (round 12 — the q95 pre-pass
    * applied to the near-dup family): family keys, member map, and
    * CANONICAL band rows, so bucket occupancy counts families, never
    * replicas. */
  def writeVecNearDup(corpusVecs: DataFrame, dir: String): Unit = {
    val (fams, members, bandsC, canonVecs) =
      VectorQueries.vecNearDupIndexTables(corpusVecs)
    write(fams, dir, "vec_fams")
    write(members, dir, "vec_members")
    write(bandsC, dir, "vec_bands_c")
    write(canonVecs, dir, "vec_canon")
  }

  def writeSemantic(corpusVecs: DataFrame, dir: String): Unit = {
    val (fams, vecC, bandsC, ccC, statsC) =
      VectorQueries.semanticIndexTables(corpusVecs)
    write(fams, dir, "sem_fams")
    write(vecC, dir, "sem_vecc")
    write(bandsC, dir, "sem_bandsc")
    write(ccC, dir, "sem_ccc")
    write(statsC, dir, "sem_statsc")
  }

  /** q105's coarse quantizer is label-keyed, so it reads the RAW
    * embeddings frame (with `label`), not the (vec_id, v) projection. */
  def writeIvfCentroids(corpusEmb: DataFrame, dir: String): Unit =
    write(VectorQueries.centroidsOf(corpusEmb), dir, "ivf_centroids")

  // ---- per-family daily leg (parquet index + today's batch) ------------
  //
  // Each runner must equal its in-memory qNN twin row for row — the
  // operators are pure functions of (index tables, batch), so the only
  // way these can drift is a parquet round-trip changing a type or a
  // writer dropping rows; IndexStoreSpec compares collected results.

  /** q96 twin: [[LLMQueries.incrementalNearDups]] off the disk index. */
  def dailyTextNearDup(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    LLMQueries.incrementalNearDups(
      read(spark, indexDir, "text_bands"),
      read(spark, indexDir, "text_sets"),
      docSplit(spark, dataDir)._2)

  /** q97 twin: [[LLMQueries.incrementalExactDedup]] off the disk index. */
  def dailyTextExact(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    LLMQueries.incrementalExactDedup(
      read(spark, indexDir, "text_hash"),
      docSplit(spark, dataDir)._2)

  /** q98 twin: [[CurationQueries.incrementalSegmentDedup]] off disk. */
  def dailySegments(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    CurationQueries.incrementalSegmentDedup(
      read(spark, indexDir, "segments"),
      docSplit(spark, dataDir)._2)

  /** q102 twin: [[VectorQueries.incrementalVectorExactDedup]] off disk. */
  def dailyVecExact(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    VectorQueries.incrementalVectorExactDedup(
      read(spark, indexDir, "vec_hash"),
      vecSplit(spark, dataDir)._2)

  /** q103 twin: [[VectorQueries.incrementalVectorNearDupsCanonical]]
    * off the disk tables — the family is SELF-CONTAINED: cosine
    * verification fetches candidate-endpoint canonical vectors from
    * the persisted `vec_canon` table (replica-factor smaller than the
    * lake), so the daily leg never scans the data-lake embeddings at
    * all; only the batch is read from the lake. */
  def dailyVecNearDup(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    VectorQueries.incrementalVectorNearDupsCanonical(
      read(spark, indexDir, "vec_fams"),
      read(spark, indexDir, "vec_members"),
      read(spark, indexDir, "vec_bands_c"),
      read(spark, indexDir, "vec_canon"),
      vecSplit(spark, dataDir)._2)

  /** q186 twin: the collapsed family-pair table off the same tables. */
  def dailyVecNearDupPairs(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    VectorQueries.canonicalNearDupPairs(
      read(spark, indexDir, "vec_fams"),
      read(spark, indexDir, "vec_members"),
      read(spark, indexDir, "vec_bands_c"),
      read(spark, indexDir, "vec_canon"),
      vecSplit(spark, dataDir)._2)

  /** q104 twin: [[VectorQueries.incrementalSemanticDedup]] off disk. */
  def dailySemantic(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    VectorQueries.incrementalSemanticDedup(
      read(spark, indexDir, "sem_fams"),
      read(spark, indexDir, "sem_vecc"),
      read(spark, indexDir, "sem_bandsc"),
      read(spark, indexDir, "sem_ccc"),
      read(spark, indexDir, "sem_statsc"),
      vecSplit(spark, dataDir)._2)

  /** q105 twin: [[VectorQueries.ivfTopkCosineOf]] against the frozen
    * disk quantizer (corpus + batch are both searchable, as in q105). */
  def dailyIvf(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    VectorQueries.ivfTopkCosineOf(
      VectorQueries.vecsOf(Tables(spark, dataDir, "embeddings")),
      read(spark, indexDir, "ivf_centroids"))

  /** The frozen-quantizer SERVING STATS (q160): per-cell corpus
    * population + exact d2micro sum, persisted beside the centroids —
    * what an ANN serving tier keeps so the drift report's daily leg
    * never rescans the corpus (≤|cells| rows, the cheapest artifact in
    * the store; refreshed only when the quantizer itself retrains). */
  def writeQuantizerStats(spark: SparkSession, dataDir: String,
      dir: String): Unit = {
    val cents = VectorQueries.centroidsOf(
        Tables(spark, dataDir, "embeddings")
          .filter(col("vec_id") % VectorQueries.VecBatchMod =!= 0))
      .transform(graft.Materialize.shared) // feeds the write AND the assign
    write(cents, dir, "ivf_centroids")
    write(VectorQueries.cellStatsOf(VectorQueries.cellAssign(
      vecSplit(spark, dataDir)._1, cents)), dir, "ivf_cell_stats")
  }

  /** The frozen IVFPQ index (q181/q182): the coarse centroids, the
    * trained residual codebook (ONE nested-array row) and the corpus
    * CODES — ~9 bytes of index payload per vector, the whole point of
    * the tier. Rebuilt per snapshot (the ivf/bpe_vocab refresh class —
    * freezing is the serving trade q105 documents, so no
    * compaction==rebuild row; q160's drift report is the retrain
    * trigger). */
  def writeIvfPq(spark: SparkSession, dataDir: String,
      dir: String): Unit = {
    val corpusEmb = Tables(spark, dataDir, "embeddings")
      .filter(col("vec_id") % VectorQueries.VecBatchMod =!= 0)
    val cents = VectorQueries.centroidsOf(corpusEmb)
      .transform(graft.Materialize.shared) // feeds residuals + both writes
    val res = VectorQueries.ivfPqResiduals(
        VectorQueries.vecsOf(corpusEmb), cents)
      .transform(graft.Materialize.shared) // feeds the trainer + the encode
    val rcb = VectorQueries.pqTrainedCodebookOfMicro(
        res.select(col("vec_id"), col("rv").as("mv")))
      .transform(graft.Materialize.shared) // feeds the write + the encode
    write(cents, dir, "ivfpq_centroids")
    write(rcb, dir, "ivfpq_codebook")
    write(VectorQueries.ivfPqEncode(res, cents, rcb), dir, "ivfpq_codes")
  }

  /** The coded frame [[dailyIvfPq]] searches — disk corpus codes ∪ the
    * batch encoded against the frozen tables. Exposed so the streaming
    * search twin probes the SAME static side the nightly rank runs
    * over. */
  def ivfPqUnionCodes(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame = {
    val cents = read(spark, indexDir, "ivfpq_centroids")
    val rcb = read(spark, indexDir, "ivfpq_codebook")
    val batchRes = VectorQueries.ivfPqResiduals(
      VectorQueries.vecsOf(Tables(spark, dataDir, "embeddings").filter(
        col("vec_id") % VectorQueries.VecBatchMod === 0)), cents)
    read(spark, indexDir, "ivfpq_codes")
      .unionByName(VectorQueries.ivfPqEncode(batchRes, cents, rcb))
  }

  /** q182 twin: encode ONLY the batch against the frozen disk
    * centroids + codebook, search the union with the disk codes. */
  def dailyIvfPq(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    VectorQueries.ivfPqSearch(
      ivfPqUnionCodes(spark, indexDir, dataDir),
      VectorQueries.vecsOf(Tables(spark, dataDir, "embeddings")),
      read(spark, indexDir, "ivfpq_centroids"),
      read(spark, indexDir, "ivfpq_codebook"))

  /** q160 twin: [[VectorQueries.quantizerDriftOf]] off the disk
    * centroids + cell stats — the daily leg assigns ONLY the batch. */
  def dailyQuantizerDrift(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    VectorQueries.quantizerDriftOf(
      read(spark, indexDir, "ivf_centroids"),
      read(spark, indexDir, "ivf_cell_stats"),
      vecSplit(spark, dataDir)._2)

  /** The canonical media near-dup tables (round 12 — the q186 move,
    * media flavor): hash-family keys, member map, and CANONICAL band
    * rows, so bucket occupancy counts families, never re-encode
    * replicas. The member-level `media_bands` table stays with the
    * `media_cc` family (its contracted merge probes per-asset bands). */
  def writeMediaNearDup(spark: SparkSession, dataDir: String,
      dir: String): Unit = {
    val (fams, members, bandsC) =
      graft.multimodal.Multimodal.mediaNearDupIndexTables(
        graft.multimodal.Multimodal.mediaSplit(spark, dataDir)._1)
    write(fams, dir, "media_fams")
    write(members, dir, "media_members")
    write(bandsC, dir, "media_bands_c")
  }

  /** q111 twin: the canonical member-exact flow off the disk tables —
    * candidate volume counts hash families, never replicas; byte-equal
    * to the member-level formulation (the q111 in-query rendering this
    * pin compares against). */
  def dailyMedia(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    graft.multimodal.Multimodal.incrementalMediaNearDupsCanonical(
      read(spark, indexDir, "media_fams"),
      read(spark, indexDir, "media_members"),
      read(spark, indexDir, "media_bands_c"),
      graft.multimodal.Multimodal.mediaSplit(spark, dataDir)._2)

  /** q190 twin: the collapsed hash-family pair table off the same
    * tables. */
  def dailyMediaPairs(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    graft.multimodal.Multimodal.canonicalMediaPairs(
      read(spark, indexDir, "media_fams"),
      read(spark, indexDir, "media_members"),
      read(spark, indexDir, "media_bands_c"),
      graft.multimodal.Multimodal.mediaSplit(spark, dataDir)._2)

  /** Every asset-side family [[DailyIngest.runAssets]] reads, written
    * in one pass under IndexStore's one layout convention (ADVICE r13:
    * the layout was previously re-implemented in DailyIngest): the
    * canonical media trio + the frame and audio fingerprint indexes.
    * After this write, no corpus payload is ever re-decoded by a daily
    * run. */
  def writeAssetIndexes(spark: SparkSession, dataDir: String,
      dir: String): Unit = {
    writeMediaNearDup(spark, dataDir, dir)
    writeFrameFps(spark, dataDir, dir)
    writeAudioFps(spark, dataDir, dir)
  }

  /** Every vector-side family [[DailyIngest.runVectors]] reads, in one
    * pass: the q102 key index, the q103/q186 canonical trio, and the
    * q104 semantic tables. After this write, the daily vector run
    * scans the lake only for the batch (the q186 self-containment).
    *
    * One [[VectorQueries.vecFamilyCore]] feeds all ten tables (round
    * 16): each parquet write is its own ACTION, so without the shared
    * core the corpus was md5-keyed once per exact/near-dup/semantic
    * family and the canonicals re-banded per consumer table — here the
    * keying, family aggregate, canonical join and banding materialize
    * once for the whole snapshot write. */
  def writeVectorIndexes(spark: SparkSession, dataDir: String,
      dir: String): Unit =
    writeVectorFamilies(vecSplit(spark, dataDir)._1, dir)

  /** The exact/near-dup/semantic vector families off ONE shared
    * [[VectorQueries.vecFamilyCore]] — see [[writeVectorIndexes]]. */
  private def writeVectorFamilies(corpusVecs: DataFrame,
      dir: String): Unit = {
    val core = VectorQueries.vecFamilyCore(corpusVecs)
    write(core.famsFull.select(col("vkey")), dir, "vec_hash")
    val (fams, members, bandsC, canonVecs) =
      VectorQueries.vecNearDupIndexTablesFrom(core)
    write(fams, dir, "vec_fams")
    write(members, dir, "vec_members")
    write(bandsC, dir, "vec_bands_c")
    write(canonVecs, dir, "vec_canon")
    val (sFams, sVecC, sBandsC, sCcC, sStatsC) =
      VectorQueries.semanticIndexTablesFrom(core)
    write(sFams, dir, "sem_fams")
    write(sVecC, dir, "sem_vecc")
    write(sBandsC, dir, "sem_bandsc")
    write(sCcC, dir, "sem_ccc")
    write(sStatsC, dir, "sem_statsc")
  }

  // ---- model artifacts (train once per snapshot, apply daily) ----------

  /** The trained BPE vocabulary (q108's loop output, q113's input) as a
    * parquet artifact — a tokenizer release is immutable; retraining per
    * batch would silently shift every token count downstream. */
  def writeBpeVocab(spark: SparkSession, dataDir: String,
      dir: String): Unit =
    write(LLMQueries.bpeVocabOf(
      Tables(spark, dataDir, "documents"), LLMQueries.BpeMergeRounds),
      dir, "bpe_vocab")

  /** q113 twin: tokenize against the frozen disk vocabulary. */
  def dailyBpeTokenize(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    LLMQueries.tokenizeWithVocab(
      read(spark, indexDir, "bpe_vocab"),
      Tables(spark, dataDir, "documents"))

  /** The DSIR importance model (q116's ≤4096-row log-ratio table) as a
    * parquet artifact — importance weights must come from ONE frozen
    * snapshot model or daily selections drift with each batch. */
  def writeDsirModel(spark: SparkSession, dataDir: String,
      dir: String): Unit =
    write(CurationQueries.dsirModelOf(
      Tables(spark, dataDir, "documents")), dir, "dsir_model")

  /** q116 twin: score the raw pool against the frozen disk model. */
  def dailyDsir(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    CurationQueries.dsirScoreWith(
      read(spark, indexDir, "dsir_model"),
      Tables(spark, dataDir, "documents")
        .filter(col("doc_id") % 10 =!= 0))

  /** The corpus audio fingerprint index (q126/q128): DISTINCT
    * (doc_id, fp) longs — 16 bytes per row, payloads never re-decoded. */
  def writeAudioFps(spark: SparkSession, dataDir: String,
      dir: String): Unit =
    write(graft.multimodal.Multimodal.audioFpSplit(spark, dataDir)._1,
      dir, "audio_fps")

  /** q128 twin: [[graft.multimodal.Multimodal.incrementalAudioNearDups]]
    * off the disk fingerprint index. */
  def dailyAudio(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    graft.multimodal.Multimodal.incrementalAudioNearDups(
      read(spark, indexDir, "audio_fps"),
      graft.multimodal.Multimodal.audioFpSplit(spark, dataDir)._2)

  /** The corpus video-frame fingerprint index (q118/q183): DISTINCT
    * (doc_id, fhash) longs — 16 bytes per row, payloads never
    * re-decoded or re-frame-sampled. Closes the one modality that still
    * paid O(corpus) decode per day (VERDICT r11 "Missing" #1). */
  def writeFrameFps(spark: SparkSession, dataDir: String,
      dir: String): Unit =
    write(graft.multimodal.Multimodal.frameFpSplit(spark, dataDir)._1,
      dir, "frame_fps")

  /** q183 twin: [[graft.multimodal.Multimodal.incrementalFrameNearDups]]
    * off the disk frame index. */
  def dailyFrames(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    graft.multimodal.Multimodal.incrementalFrameNearDups(
      read(spark, indexDir, "frame_fps"),
      graft.multimodal.Multimodal.frameFpSplit(spark, dataDir)._2)

  /** The corpus NORMALIZED-hash index (q136/q139): one distinct 32-hex
    * md5 per known normalized rendering. */
  def writeNormHash(spark: SparkSession, dataDir: String,
      dir: String): Unit =
    write(LLMQueries.normHashIndex(
      LLMQueries.normSplit(spark, dataDir)._1), dir, "norm_hash")

  /** q139 twin: [[LLMQueries.incrementalNormalizedDedup]] off the disk
    * normalized-hash index. */
  def dailyNormHash(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    LLMQueries.incrementalNormalizedDedup(
      read(spark, indexDir, "norm_hash"),
      LLMQueries.normSplit(spark, dataDir)._2)

  /** The corpus BM25 postings index (q93/q144): postings (doc_id, t,
    * tf) + doc lengths (doc_id, dl) — the text-touching tokenize runs
    * once per corpus snapshot — plus (round 12) the vocabulary-sized
    * df table and the 1-row collection stats, so the daily leg MERGES
    * the statistics a batch shifts instead of re-counting them over
    * the corpus-sized postings union every run (the "df/N re-derive"
    * term the lifecycle soaks priced as the family's dominant
    * recurring cost). */
  def writeBm25(spark: SparkSession, dataDir: String, dir: String): Unit = {
    val (tf0, dl0) = LLMQueries.bm25Index(docSplit(spark, dataDir)._1)
    val tf = tf0.transform(graft.Materialize.shared) // write + df derivation
    val dl = dl0.transform(graft.Materialize.shared) // write + stats
    val (df, stats) = LLMQueries.bm25StatsTables(tf, dl)
    write(tf, dir, "bm25_tf")
    write(dl, dir, "bm25_dl")
    write(df, dir, "bm25_df")
    write(stats, dir, "bm25_stats")
  }

  /** q144 twin: [[LLMQueries.incrementalBm25With]] off the disk
    * postings + persisted df/stats — the family pin (daily == the q144
    * twin, which derives df/stats from the union) is the proof the
    * merged statistics equal the derived ones. */
  def dailyBm25(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    LLMQueries.incrementalBm25With(
      read(spark, indexDir, "bm25_tf"),
      read(spark, indexDir, "bm25_dl"),
      read(spark, indexDir, "bm25_df"),
      read(spark, indexDir, "bm25_stats"),
      docSplit(spark, dataDir)._2)

  /** The corpus KN bigram-count table (q165/q167): the additive
    * (w1, w2, cb) state — bigrams never cross a document boundary, so
    * counts over disjoint doc sets merge by groupBy-sum and every other
    * KN statistic derives from the merged table. */
  def writeKnBigrams(spark: SparkSession, dataDir: String,
      dir: String): Unit =
    write(CurationQueries.knBigramTable(docSplit(spark, dataDir)._1),
      dir, "kn_bigrams")

  /** q167 twin: [[CurationQueries.incrementalKn]] off the disk counts. */
  def dailyKn(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    CurationQueries.incrementalKn(
      read(spark, indexDir, "kn_bigrams"),
      docSplit(spark, dataDir)._2)

  /** The corpus substring-window index (q114/q156): (window md5,
    * distinct-corpus-doc count) — the count rides along because the
    * incremental report must distinguish known (corpus nd ≥ 2) from
    * newly-created collisions. */
  def writeSubstrWindows(spark: SparkSession, dataDir: String,
      dir: String): Unit =
    write(CurationQueries.substrWindowIndex(docSplit(spark, dataDir)._1),
      dir, "substr_windows")

  /** q156 twin: [[CurationQueries.incrementalSubstringReport]] off the
    * disk window index. */
  def dailySubstr(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    CurationQueries.incrementalSubstringReport(
      read(spark, indexDir, "substr_windows"),
      docSplit(spark, dataDir)._2)

  /** The corpus PPS priority table (q161): the K+1 highest-priority
    * (doc_id, n_tokens, prio) rows — priority sampling's ENTIRE
    * mergeable state (priorities are pure per-doc functions, so the
    * union's top-(K+1) equals the top-(K+1) of the per-side
    * top-(K+1)s), which makes the daily sample refresh read K+1 rows
    * and scan only the batch. */
  def writePpsPriorities(spark: SparkSession, dataDir: String,
      dir: String): Unit =
    write(CurationQueries.ppsPriorityTable(docSplit(spark, dataDir)._1),
      dir, "pps_prio")

  /** q161 twin: [[CurationQueries.incrementalPpsSample]] off the disk
    * priority table — equals the FULL q161 pass over (corpus ∪ batch)
    * by mergeability, which is exactly what the spec pin proves. */
  def dailyPpsSample(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    CurationQueries.incrementalPpsSample(
      read(spark, indexDir, "pps_prio"),
      docSplit(spark, dataDir)._2)

  /** The frozen eval-gram index (q74/q150): one distinct 5-gram per
    * benchmark item. Refreshes when the BENCHMARK release does (the
    * bpe_vocab/dsir_model rebuild cycle), but every daily ingest reads
    * it — the most-read, least-written artifact in the store. */
  def writeEvalGrams(spark: SparkSession, dataDir: String,
      dir: String): Unit =
    write(CurationQueries.evalGramIndex(
      Tables(spark, dataDir, "documents")), dir, "eval_grams")

  /** q150 twin: [[CurationQueries.incrementalDecontaminate]] off the
    * frozen disk eval grams. */
  def dailyDecontaminate(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    CurationQueries.incrementalDecontaminate(
      read(spark, indexDir, "eval_grams"),
      Tables(spark, dataDir, "documents")
        .filter(col("doc_id") % 10 =!= 0 &&
          col("doc_id") % CurationQueries.DeconBatchMod === 0))

  /** The corpus near-dup cluster LABEL table (q175): q85's star CC
    * over the corpus pair graph, persisted as (doc_id, cluster_id) —
    * the artifact a split (q129) or survivor election (q88) serves
    * from, maintained incrementally instead of re-clustered nightly. */
  def writeTextCc(spark: SparkSession, dataDir: String,
      dir: String): Unit = {
    val corpus = docSplit(spark, dataDir)._1
    // the daily leg reads the signature pair too — write the trio
    // together so the family is self-contained (idempotent with
    // writeTextNearDup: same corpus, same tables)
    writeTextNearDup(corpus, dir)
    write(CurationQueries.connectedComponentsStar(
        LLMQueries.minhashPairsOf(corpus)
          .filter(col("jaccard") >= CurationQueries.ClusterThreshold)
          .select(col("doc_a"), col("doc_b")))._1
      .select(col("doc_id"), col("cluster_id")), dir, "text_cc")
  }

  /** The verified text near-dup PAIR table — the q186 collapsed-pair
    * move, Jaccard flavor (VERDICT r12 "Next round" #3): persist every
    * q64-verified pair (doc_a, doc_b, n_inter, jaccard) beside the
    * signature tables, so pair-graph consumers (cluster formation,
    * threshold sweeps, dup histograms, release rebuilds) read verified
    * pairs instead of re-running the band join + per-pair Jaccard over
    * the corpus — corpus-corpus pairs are verified the night they
    * enter, ever. Unlike vectors/media the text replicas are PERTURBED
    * (real near-dups, no exact canonical collapse), so the persisted
    * artifact is the member-level pair set itself. */
  def writeTextPairs(docsDf: org.apache.spark.sql.DataFrame,
      dir: String): Unit = {
    writeTextNearDup(docsDf, dir)
    write(LLMQueries.minhashPairsOf(docsDf), dir, "text_pairs")
  }

  /** Tonight's pair-table increment (the q96 flow off the disk index)
    * — ONE definition consumed by the q192 daily view, the text_cc
    * merge, and both families' compactions, so a composed pipeline
    * verifies tonight's candidates once and every consumer reads the
    * same rows. */
  private[operators] def textPairIncrement(spark: SparkSession, indexDir: String,
      dataDir: String, cap: Option[Int] = None): org.apache.spark.sql.DataFrame =
    LLMQueries.incrementalNearDups(
      read(spark, indexDir, "text_bands"),
      read(spark, indexDir, "text_sets"),
      docSplit(spark, dataDir)._2, cap)

  /** q192 twin: the pair table AS OF tonight — persisted corpus pairs
    * (read, never re-verified) ∪ today's increment. Additivity makes
    * this equal the full q64 pass over corpus ∪ batch: signatures are
    * pure per-doc functions, corpus-corpus pairs come only from the
    * persisted side, batch-touching pairs only from the increment. */
  def dailyTextPairs(spark: SparkSession, indexDir: String,
      dataDir: String): org.apache.spark.sql.DataFrame =
    read(spark, indexDir, "text_pairs")
      .unionByName(textPairIncrement(spark, indexDir, dataDir))
      .orderBy(col("doc_a"), col("doc_b"))

  /** q175 twin: [[CurationQueries.incrementalDedupClusters]] off the
    * disk label table + the text_near_dup signature tables (one index
    * pair, three consumers: q96 pairs, q175 clusters, q173's eval probe
    * pattern). The merge consumes the pair INCREMENT through the same
    * definition the q192 pair family persists ([[textPairIncrement]] →
    * [[CurationQueries.incrementalClusterMembersFromPairs]]), so the
    * nightly verification is one computation feeding both families. */
  def dailyDedupClusters(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    CurationQueries.withClusterSizes(
      CurationQueries.incrementalClusterMembersFromPairs(
        textPairIncrement(spark, indexDir, dataDir),
        read(spark, indexDir, "text_cc")))

  /** The media cluster LABEL+quality table (q180): star CC over the
    * corpus q109 pair graph with caption quality riding along — every
    * corpus asset labeled (singletons their own id), so the daily
    * election never re-reads or re-scores corpus captions. Written with
    * the canonical near-dup tables (round 12) so the family is
    * self-contained: the daily contracted merge probes CANONICAL bands
    * — one node per identical-hash family (every member provably
    * shares the family's label: identical hashes pair at Hamming 0, so
    * a family is intra-cluster by construction). */
  def writeMediaCc(spark: SparkSession, dataDir: String,
      dir: String): Unit = {
    val m = graft.multimodal.Multimodal
    writeMediaNearDup(spark, dataDir, dir)
    write(m.mediaCcOf(m.mediaSplit(spark, dataDir)._1,
        m.scoredAssets(spark, dataDir).filter(col("doc_id") % 10 =!= 0)),
      dir, "media_cc")
  }

  /** q180 twin: [[graft.multimodal.Multimodal.incrementalMediaClusters]]
    * off the disk label + band tables. */
  def dailyMediaClusters(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame = {
    val m = graft.multimodal.Multimodal
    m.incrementalMediaClusters(
      read(spark, indexDir, "media_cc"),
      read(spark, indexDir, "media_fams"),
      read(spark, indexDir, "media_bands_c"),
      m.mediaSplit(spark, dataDir)._2,
      m.scoredAssets(spark, dataDir).filter(col("doc_id") % 10 === 0))
  }

  /** The frozen eval SIGNATURE tables (q172/q173): MinHash band keys
    * and shingle sets of the benchmark items — `eval_grams`' lifecycle
    * (rebuilt per benchmark release, read by every ingest), but for
    * the fuzzy rung: the banded analogue of the gram broadcast. */
  def writeEvalSignatures(spark: SparkSession, dataDir: String,
      dir: String): Unit = {
    val (bands, sets) = LLMQueries.signatureTables(
      Tables(spark, dataDir, "documents")
        .filter(col("doc_id") % 10 === 0))
    write(bands, dir, "eval_bands")
    write(sets, dir, "eval_sets")
  }

  /** q173 twin: [[CurationQueries.incrementalFuzzyDecontaminate]] off
    * the frozen disk eval signatures. */
  def dailyFuzzyDecontaminate(spark: SparkSession, indexDir: String,
      dataDir: String): DataFrame =
    CurationQueries.incrementalFuzzyDecontaminate(
      read(spark, indexDir, "eval_bands"),
      read(spark, indexDir, "eval_sets"),
      Tables(spark, dataDir, "documents")
        .filter(col("doc_id") % 10 =!= 0 &&
          col("doc_id") % CurationQueries.DeconBatchMod === 0))

  // ---- bucketed index layout (the 100 TB refinement) -------------------
  //
  // The compaction table (PLANS.md) shows the distinct-set families'
  // remaining cost is the index's own key shuffle + full rewrite. A
  // BUCKETED catalog layout (sinks/Bucketing — bucketBy on the key at
  // write time) removes both: the daily anti-join satisfies the index
  // side's ClusteredDistribution straight off the scan, so the ONLY
  // Exchange in the daily plan is the batch side's (O(batch)); and
  // compaction becomes an APPEND of corpus-unseen keys under the same
  // bucket spec — a delta write with the layout retained, instead of
  // the full-index rewrite the parquet-path compactor pays. Modeled on
  // the text-exact family; the same trio applies to any distinct-key
  // index (segments/vec_hash/norm_hash). IndexStoreSpec pins the plan
  // shape (one Exchange, batch side) and append==rebuild equality.

  /** Hash-bucket count for bucketed index tables — sized so one bucket
    * ≈ one task's rows at the target SF (buckets are fixed at write
    * time; production picks ~corpus/128 MB). */
  val IndexBuckets = 8

  def writeTextExactBucketed(spark: SparkSession, dataDir: String,
      table: String): Unit =
    graft.sinks.Bucketing.writeBucketed(
      LLMQueries.hashIndex(docSplit(spark, dataDir)._1), table, "h",
      IndexBuckets)

  /** q97's daily leg against the bucketed index — row-identical to
    * [[dailyTextExact]]; only the plan shape differs. */
  def dailyTextExactBucketed(spark: SparkSession, table: String,
      dataDir: String): DataFrame =
    LLMQueries.incrementalExactDedup(spark.table(table),
      docSplit(spark, dataDir)._2)

  /** Append-only compaction: corpus-UNSEEN batch keys append under the
    * same bucket spec; the existing files never rewrite. */
  def compactTextExactBucketed(spark: SparkSession, table: String,
      dataDir: String): Unit =
    LLMQueries.hashIndex(docSplit(spark, dataDir)._2)
      .join(spark.table(table), Seq("h"), "left_anti")
      .write.mode(org.apache.spark.sql.SaveMode.Append).format("parquet")
      .bucketBy(IndexBuckets, "h").sortBy("h").saveAsTable(table)

  /** (family name, in-memory qNN twin, write, daily-from-disk) — the one
    * table `Soak index` and IndexStoreSpec both iterate so the measured
    * flow and the pinned invariant can never cover different families. */
  val families: Seq[(String, String,
      (SparkSession, String, String) => Unit,
      (SparkSession, String, String) => DataFrame)] = Seq(
    ("text_near_dup", "q96_incremental_near_dups",
      (s, dataDir, dir) => writeTextNearDup(docSplit(s, dataDir)._1, dir),
      dailyTextNearDup _),
    ("text_near_dup_pairs", "q192_incremental_text_pairs",
      (s, dataDir, dir) => writeTextPairs(docSplit(s, dataDir)._1, dir),
      dailyTextPairs _),
    ("text_exact", "q97_incremental_exact_dedup",
      (s, dataDir, dir) => writeTextExact(docSplit(s, dataDir)._1, dir),
      dailyTextExact _),
    ("segments", "q98_incremental_segment_dedup",
      (s, dataDir, dir) => writeSegments(docSplit(s, dataDir)._1, dir),
      dailySegments _),
    ("vec_exact", "q102_incremental_vector_exact_dedup",
      (s, dataDir, dir) => writeVecExact(vecSplit(s, dataDir)._1, dir),
      dailyVecExact _),
    ("vec_near_dup", "q103_incremental_vector_near_dups",
      (s, dataDir, dir) => writeVecNearDup(vecSplit(s, dataDir)._1, dir),
      dailyVecNearDup _),
    ("vec_near_dup_pairs", "q186_canonical_near_dup_pairs",
      (s, dataDir, dir) => writeVecNearDup(vecSplit(s, dataDir)._1, dir),
      dailyVecNearDupPairs _),
    ("semantic", "q104_incremental_semantic_dedup",
      (s, dataDir, dir) => writeSemantic(vecSplit(s, dataDir)._1, dir),
      dailySemantic _),
    ("ivf", "q105_incremental_ivf_topk",
      (s, dataDir, dir) => writeIvfCentroids(
        Tables(s, dataDir, "embeddings")
          .filter(col("vec_id") % VectorQueries.VecBatchMod =!= 0), dir),
      dailyIvf _),
    ("quantizer_drift", "q160_quantizer_drift",
      writeQuantizerStats _, dailyQuantizerDrift _),
    ("ivfpq", "q182_incremental_ivfpq",
      writeIvfPq _, dailyIvfPq _),
    ("media", "q111_incremental_media_phash",
      writeMediaNearDup _, dailyMedia _),
    ("media_near_dup_pairs", "q190_canonical_media_pairs",
      writeMediaNearDup _, dailyMediaPairs _),
    ("bpe_vocab", "q113_bpe_tokenize",
      writeBpeVocab _, dailyBpeTokenize _),
    ("dsir_model", "q116_dsir_importance",
      writeDsirModel _, dailyDsir _),
    ("audio_fps", "q128_incremental_audio_fp",
      writeAudioFps _, dailyAudio _),
    ("frame_fps", "q183_incremental_frame_dups",
      writeFrameFps _, dailyFrames _),
    ("norm_hash", "q139_incremental_normalized_dedup",
      writeNormHash _, dailyNormHash _),
    ("bm25", "q144_incremental_bm25",
      writeBm25 _, dailyBm25 _),
    ("kn_bigram", "q167_incremental_kn",
      writeKnBigrams _, dailyKn _),
    ("pps_sample", "q161_pps_sample",
      writePpsPriorities _, dailyPpsSample _),
    ("eval_grams", "q150_incremental_decontaminate",
      writeEvalGrams _, dailyDecontaminate _),
    ("eval_signatures", "q173_incremental_fuzzy_decontaminate",
      writeEvalSignatures _, dailyFuzzyDecontaminate _),
    ("text_cc", "q175_incremental_dedup_clusters",
      writeTextCc _, dailyDedupClusters _),
    ("media_cc", "q180_incremental_media_clusters",
      writeMediaCc _, dailyMediaClusters _),
    ("substr_windows", "q156_incremental_substring_report",
      writeSubstrWindows _, dailySubstr _))

}
