package graft.operators

import graft.SparkSpec

/** End-to-end gate for the DailyIngest orchestration: artifacts land,
  * the summary reconciles with the per-doc disposition, the gates agree
  * with their in-memory operator definitions, and the index root after
  * a day (or a chain of days) equals a rebuild.
  */
class DailyIngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) = tempDir(s"graft_ingest_$tag")

  test("daily ingest: artifacts, reconciliation, gate parity") {
    val root = tmp("root")
    val outDir = tmp("out")
    DailyIngest.writeIndexesDelta(spark, sfDir, root)

    val summary = DailyIngest.runDelta(spark, root, sfDir, outDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val (corpus, batch) = DailyIngest.split(spark, sfDir)
    val batchIds = batch.select($"doc_id").as[Long].collect().toSet
    val disp = spark.read.parquet(s"$outDir/disposition.parquet")
      .as[(Long, String)].collect().toSeq
    val kept = spark.read.parquet(s"$outDir/kept_docs.parquet")

    // the disposition partitions the batch; the summary is its rollup
    assert(disp.map(_._1).toSet == batchIds)
    assert(summary("batch_in") == batchIds.size.toLong)
    val byStep = disp.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    byStep.foreach { case (step, n) => assert(summary(step) == n) }
    assert(summary.filterNot(_._1 == "batch_in").values.sum ==
      batchIds.size.toLong)

    // kept artifact == the disposition's kept rows, full doc rows
    val keptIds = kept.select($"doc_id").as[Long].collect().toSet
    assert(keptIds == disp.filter(_._2 == "kept").map(_._1).toSet)
    assert(kept.columns.toSet == batch.columns.toSet)
    assert(keptIds.nonEmpty && keptIds.subsetOf(batchIds))

    // first-gate parity: exact-dup drops equal the in-memory q97 rule
    val exactKeepIds = LLMQueries.incrementalExactDedup(
        LLMQueries.hashIndex(corpus), batch)
      .select($"keep_id").as[Long].collect().toSet
    assert(disp.filter(_._2 == "dropped_exact_dup").map(_._1).toSet ==
      batchIds -- exactKeepIds)

    // last-gate parity (round 10): every toxicity drop is flagged toxic
    // by the q171 classifier, and every kept doc is clean under it —
    // the safety gate is the SAME operator, first-failure-attributed
    val toxicIds = CurationQueries.toxicityClassifierDocs(batch)
      .filter($"decision" === "toxic")
      .select($"doc_id").as[Long].collect().toSet
    assert(disp.filter(_._2 == "dropped_toxicity").map(_._1).toSet
      .subsetOf(toxicIds))
    assert(keptIds.intersect(toxicIds).isEmpty)

    // fuzzy-decon gate parity (round 10): every fuzzy drop is q173-
    // flagged, and no kept doc is — the gate IS the q173 operator
    val fuzzyIds = CurationQueries
      .incrementalFuzzyDecontaminateDaily(spark, sfDir)
      .select($"doc_id").as[Long].collect().toSet
    assert(disp.filter(_._2 == "dropped_fuzzy_contaminated").map(_._1)
      .toSet.subsetOf(fuzzyIds))
    assert(keptIds.intersect(fuzzyIds).isEmpty)

    // reports + bookkeeping landed
    for (a <- Seq("novelty_report.parquet", "substring_report.parquet"))
      assert(spark.read.parquet(s"$outDir/$a").count() > 0, a)
    val ledger = spark.read.parquet(s"$outDir/ledger")
    assert(ledger.count() == summary.size.toLong)
    assert(ledger.select($"status").distinct().as[String].collect()
      .toSeq == Seq("completed"))
    assert(spark.read.json(s"$outDir/logs").count() == summary.size.toLong)

    // the root's generations (seed + the day's) fold to a rebuild over
    // (corpus ∪ batch) — tomorrow reads the root and nothing drifts
    val folded = tmp("folded")
    DailyIngest.foldDelta(spark, root, folded)
    val got = spark.read.parquet(s"$folded/text_hash.parquet").drop("gen")
    val wantHash = LLMQueries.hashIndex(corpus.unionByName(batch))
    assert(got.collect().map(_.toString).sorted.toSeq ==
      wantHash.collect().map(_.toString).sorted.toSeq)
    val gotW = spark.read
      .parquet(s"$folded/substr_windows.parquet").drop("gen")
    val wantW = CurationQueries
      .substrWindowIndex(corpus.unionByName(batch))
    assert(gotW.collect().map(_.toString).sorted.toSeq ==
      wantW.collect().map(_.toString).sorted.toSeq)
  }

  test("asset day: disposition parity, reconciliation, kept_assets") {
    val idxDir = tmp("aidx")
    val outDir = tmp("aout")
    DailyIngest.writeAssetIndexes(spark, sfDir, idxDir)
    val summary = DailyIngest.runAssets(spark, idxDir, sfDir, outDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // the disk-read disposition artifact == the q193 in-query rendering
    val disp = spark.read.parquet(s"$outDir/asset_disposition.parquet")
      .orderBy($"doc_id").as[(Long, String, String)].collect().toSeq
    val oracle = graft.SparkEntry
      .queries("q193_asset_ingest_disposition")(spark, sfDir)
      .as[(Long, String, String)].collect().toSeq
    assert(disp == oracle)

    // the summary is the disposition's rollup, and it partitions the batch
    assert(summary("assets_in") == disp.size.toLong)
    val byStep = disp.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    byStep.foreach { case (step, n) => assert(summary(step) == n) }
    assert(summary.filterNot(_._1 == "assets_in").values.sum ==
      disp.size.toLong)

    // kept_assets == the disposition's kept rows; the variant twins
    // guarantee dedup drops (hamming ≤ 1: exact at this SF) and at
    // least one modality-specific containment gate fires
    val keptIds = spark.read.parquet(s"$outDir/kept_assets.parquet")
      .select($"doc_id").as[Long].collect().toSet
    assert(keptIds == disp.filter(_._3 == "kept").map(_._1).toSet)
    assert(Set("dropped_exact_dup", "kept").subsetOf(byStep.keySet))
    assert(byStep.keySet.size >= 3, s"gate coverage: $byStep")

    // the compacted next-snapshot asset index == a rebuild over
    // corpus ∪ batch (the canonical trio; fingerprint appends are
    // pinned family-by-family in IndexStoreSpec)
    val m = graft.multimodal.Multimodal
    val (fFams, _, _) = m.mediaNearDupIndexTables(
      m.mediaSplit(spark, sfDir)._1.unionByName(
        m.mediaSplit(spark, sfDir)._2))
    val gotFams = spark.read
      .parquet(s"$outDir/index_next/media_fams.parquet")
      .collect().map(_.toString).sorted.toSeq
    assert(gotFams == fFams.collect().map(_.toString).sorted.toSeq)
  }

  test("vector day: disposition parity, reconciliation, kept_vectors") {
    val idxDir = tmp("vidx")
    val outDir = tmp("vout")
    DailyIngest.writeVectorIndexes(spark, sfDir, idxDir)
    val summary = DailyIngest.runVectors(spark, idxDir, sfDir, outDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // the disk-read disposition artifact == the q194 in-query rendering
    val disp = spark.read.parquet(s"$outDir/vector_disposition.parquet")
      .orderBy($"vec_id").as[(Long, String)].collect().toSeq
    val oracle = graft.SparkEntry
      .queries("q194_vector_ingest_disposition")(spark, sfDir)
      .as[(Long, String)].collect().toSeq
    assert(disp == oracle)

    // the summary is the disposition's rollup and partitions the batch
    assert(summary("vectors_in") == disp.size.toLong)
    val byStep = disp.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    byStep.foreach { case (step, n) => assert(summary(step) == n) }
    assert(summary.filterNot(_._1 == "vectors_in").values.sum ==
      disp.size.toLong)
    assert(byStep.keySet.contains("kept") && byStep.keySet.size >= 2,
      s"gate coverage: $byStep")

    // kept_vectors == the disposition's kept rows
    val keptIds = spark.read.parquet(s"$outDir/kept_vectors.parquet")
      .select($"vec_id").as[Long].collect().toSet
    assert(keptIds.nonEmpty &&
      keptIds == disp.filter(_._2 == "kept").map(_._1).toSet)

    // bookkeeping landed
    val ledger = spark.read.parquet(s"$outDir/ledger")
    assert(ledger.count() == summary.size.toLong)
    assert(spark.read.json(s"$outDir/logs").count() == summary.size.toLong)

    // the compacted next-snapshot key index == a rebuild over
    // corpus ∪ batch (the trio's compaction is pinned in IndexStoreSpec)
    val (c, b) = IndexStore.vecSplit(spark, sfDir)
    val got = spark.read.parquet(s"$outDir/index_next/vec_hash.parquet")
      .collect().map(_.toString).sorted.toSeq
    val want = VectorQueries.vectorHashIndex(c.unionByName(b))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
    // the rebuild-class sem_* tables carry through unchanged
    val semGot = spark.read.parquet(s"$outDir/index_next/sem_ccc.parquet")
      .collect().map(_.toString).sorted.toSeq
    val semWant = spark.read.parquet(s"$idxDir/sem_ccc.parquet")
      .collect().map(_.toString).sorted.toSeq
    assert(semGot == semWant)
  }

  test("scheduled sem/quantizer rebuild: no-batch == carry; " +
      "refreshed universe == from-scratch; election churn pinned") {
    import org.apache.spark.sql.functions.col
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val idxDir = tmp("rb_idx")
    DailyIngest.writeVectorIndexes(spark, sfDir, idxDir)
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val corpusEmb = emb.filter(col("vec_id") % 10 =!= 0)

    // 1. no batch arrived: rebuilding over the SAME corpus reproduces
    //    the carried sem_* tables exactly (the compaction==rebuild
    //    rule, sem flavor) and copies the compactable families through
    val next1 = tmp("rb_next1")
    val summary = DailyIngest
      .rebuildSemantic(spark, idxDir, corpusEmb, next1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (n <- Seq("sem_fams", "sem_vecc", "sem_bandsc", "sem_ccc",
        "sem_statsc", "vec_hash", "vec_fams", "vec_members",
        "vec_bands_c", "vec_canon"))
      assert(rows(spark.read.parquet(s"$next1/$n.parquet")) ==
        rows(spark.read.parquet(s"$idxDir/$n.parquet")), s"$n diverges")
    // bookkeeping: one ledger row per summary step
    assert(spark.read.parquet(s"$next1/ledger").count() ==
      summary.size.toLong)

    // 2. after a day's ingest: rebuild over corpus ∪ kept batch ==
    //    a from-scratch semantic build over the same universe, and the
    //    refreshed quantizer artifacts serve the q160 daily unchanged
    val outDir = tmp("rb_day")
    DailyIngest.runVectors(spark, idxDir, sfDir, outDir)
    val keptIds = spark.read.parquet(s"$outDir/kept_vectors.parquet")
      .select(col("vec_id"))
    val universe = corpusEmb.unionByName(
      emb.join(keptIds, Seq("vec_id"), "left_semi"))
    val next2 = tmp("rb_next2")
    DailyIngest.rebuildSemantic(spark, s"$outDir/index_next", universe,
      next2)
    val scratch = tmp("rb_scratch")
    IndexStore.writeSemantic(
      VectorQueries.vecsOf(universe).select(col("vec_id"), col("v")),
      scratch)
    for (n <- Seq("sem_fams", "sem_vecc", "sem_bandsc", "sem_ccc",
        "sem_statsc"))
      assert(rows(spark.read.parquet(s"$next2/$n.parquet")) ==
        rows(spark.read.parquet(s"$scratch/$n.parquet")),
        s"$n != from-scratch over the refreshed universe")
    assert(IndexStore.dailyQuantizerDrift(spark, next2, sfDir)
      .count() > 0)

    // 3. election churn on the real corpus: a GROWING universe can only
    //    dethrone (a cluster only gains members under the norm-first
    //    election) — flipped_in must be empty
    val churn = VectorQueries.keptChurnOf(
        VectorQueries.keptVectorsOf(corpusEmb),
        VectorQueries.keptVectorsOf(universe),
        corpusEmb.select(col("vec_id")))
      .as[(Long, String)].collect().toSeq
    assert(!churn.exists(_._2 == "flipped_in"),
      s"a loser started winning under a grown universe: $churn")

    // 4. the dethroning surface itself, on a crafted frame (sf0.001 has
    //    no batch vector that outranks a corpus survivor): corpus a =
    //    all-2.0 (kept, alone); arriving c = all-3.0, same direction —
    //    verified cosine-1 pair, higher norm² → the refresh elects c
    //    and the churn report names exactly a as flipped_out
    val dim = 64
    val before = Seq((3L, Array.fill(dim)(2.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val after = before.unionByName(
      Seq((30L, Array.fill(dim)(3.0f), 0))
        .toDF("vec_id", "embedding", "label"))
    val crafted = VectorQueries.keptChurnOf(
        VectorQueries.keptVectorsOf(before),
        VectorQueries.keptVectorsOf(after),
        before.select(col("vec_id")))
      .as[(Long, String)].collect().toSeq
    assert(crafted == Seq((3L, "flipped_out")), s"churn: $crafted")
  }

  test("q159 in-query disposition == the disk-read pipeline artifact") {
    val root = tmp("q159_root")
    val outDir = tmp("q159_out")
    DailyIngest.writeIndexesDelta(spark, sfDir, root)
    DailyIngest.runDelta(spark, root, sfDir, outDir)
    val fromDisk = spark.read.parquet(s"$outDir/disposition.parquet")
      .collect().map(_.toString).sorted.toSeq
    val inQuery = DailyIngest.ingestDisposition(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    // one dispositionOf definition, two index sources (parquet vs
    // in-query) — the oracle-checked q159 IS the shipped gate chain
    assert(inQuery.nonEmpty && inQuery == fromDisk)
  }

  test("delta layout: two-day chain == rebuild; replay is clean") {
    def artifacts(dir: String): Map[String, Seq[String]] =
      Seq("disposition.parquet", "novelty_report.parquet",
        "substring_report.parquet")
        .map(a => a -> spark.read.parquet(s"$dir/$a")
          .collect().map(_.toString).sorted.toSeq).toMap

    // delta chain: one root, generations accumulate in place
    val root = tmp("delta_root")
    val dOut0 = tmp("delta_out0")
    val dOut1 = tmp("delta_out1")
    DailyIngest.writeIndexesDelta(spark, sfDir, root,
      pendingDays = Set(0, 1))
    DailyIngest.runDelta(spark, root, sfDir, dOut0, day = 0)
    DailyIngest.runDelta(spark, root, sfDir, dOut1, day = 1)

    // rebuild: day 1 off a fresh seed whose corpus already holds day 0
    val rRoot = tmp("delta_rroot")
    val rOut1 = tmp("delta_rout1")
    DailyIngest.writeIndexesDelta(spark, sfDir, rRoot, pendingDays = Set(1))
    DailyIngest.runDelta(spark, rRoot, sfDir, rOut1, day = 1)
    val (day0, got, want) =
      (artifacts(dOut0), artifacts(dOut1), artifacts(rOut1))
    for (a <- want.keys) {
      assert(day0(a).nonEmpty && want(a).nonEmpty, s"$a is empty")
      assert(got(a) == want(a), s"$a diverges between chain and rebuild")
    }

    // replay: re-running day 1 overwrites its own generation and reads
    // gen ≤ 1 — the disposition must not change (at-least-once safety)
    val dOut1b = tmp("delta_out1b")
    DailyIngest.runDelta(spark, root, sfDir, dOut1b, day = 1)
    assert(artifacts(dOut1b) == artifacts(dOut1))

    // fold: generations ≤ 1 (seed + day 0 — day 1's own gen=2 is the
    // in-flight partition a vacuum must skip) collapse into one gen-0
    // snapshot, and day 1 re-run off the folded root matches exactly
    val folded = tmp("delta_folded")
    DailyIngest.foldDelta(spark, root, folded, throughGen = 1)
    val gens = new java.io.File(s"$folded/text_hash.parquet")
      .listFiles().map(_.getName).filter(_.startsWith("gen=")).toSeq
    assert(gens == Seq("gen=0"))
    val dOut1c = tmp("delta_out1c")
    DailyIngest.runDelta(spark, folded, sfDir, dOut1c, day = 1)
    assert(artifacts(dOut1c) == artifacts(dOut1))
  }

  test("seven-generation delta chain with mid-chain vacuum == rebuild") {
    // the full generation-GC lifecycle (`Soak gen` measures it at N×):
    // a COLD START over every DeconBatchMod residue — gen-0 seeds an
    // EMPTY corpus, days 0..6 each ingest one residue, a foldDelta
    // vacuum lands after day 3 (gens 0..4 — day 4 is "in flight"),
    // and days 4..6 resume off the folded root
    val root = tmp("gen7_root")
    val allDays = (0 until CurationQueries.DeconBatchMod).toSet
    assert(allDays.size == 7)
    DailyIngest.writeIndexesDelta(spark, sfDir, root, pendingDays = allDays)
    val outs = (0 to 6).map(d => d -> tmp(s"gen7_out$d")).toMap
    for (d <- 0 to 3)
      DailyIngest.runDelta(spark, root, sfDir, outs(d), day = d)
    val folded = tmp("gen7_folded")
    DailyIngest.foldDelta(spark, root, folded, throughGen = 4)
    for (d <- 4 to 6)
      DailyIngest.runDelta(spark, folded, sfDir, outs(d), day = d)

    // day 6 through seed→4 gens→vacuum→2 more gens == day 6 off a
    // fresh seed whose corpus already holds days 0..5
    val sRoot = tmp("gen7_sroot")
    val sOut = tmp("gen7_sout")
    DailyIngest.writeIndexesDelta(spark, sfDir, sRoot, pendingDays = Set(6))
    DailyIngest.runDelta(spark, sRoot, sfDir, sOut, day = 6)
    for (a <- Seq("disposition.parquet", "novelty_report.parquet",
        "substring_report.parquet")) {
      val chained = spark.read.parquet(s"${outs(6)}/$a")
        .collect().map(_.toString).sorted.toSeq
      val rebuilt = spark.read.parquet(s"$sOut/$a")
        .collect().map(_.toString).sorted.toSeq
      assert(chained.nonEmpty, s"$a is empty")
      assert(chained == rebuilt, s"$a diverges at generation 7")
    }
    // something survives the whole 7-day chain (gate liveness)
    val kept6 = spark.read.parquet(s"${outs(6)}/disposition.parquet")
      .filter($"disposition" === "kept").count()
    assert(kept6 > 0)

    // the FINAL vacuum == a cold re-seed over the fully-ingested train
    // side: every family folds to the single-generation content a
    // from-scratch index build would produce
    val finalFold = tmp("gen7_final")
    DailyIngest.foldDelta(spark, folded, finalFold)
    val train = graft.Tables(spark, sfDir, "documents")
      .filter($"doc_id" % 10 =!= 0)
    def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(sortedRows(spark.read
        .parquet(s"$finalFold/text_hash.parquet").drop("gen")) ==
      sortedRows(LLMQueries.hashIndex(train)))
    assert(sortedRows(spark.read
        .parquet(s"$finalFold/substr_windows.parquet").drop("gen")) ==
      sortedRows(CurationQueries.substrWindowIndex(train)))
  }
}
