package graft.operators

import graft.{SparkSpec, Tables}

/** End-to-end gate for the ReleaseBuild orchestration: artifacts land,
  * each one equals its component operator over the kept frame, the
  * summary reconciles, and a rerun overwrites byte-identically. */
class ReleaseBuildSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) = tempDir(s"graft_release_$tag")

  test("release build: artifacts, operator parity, idempotent rerun") {
    val outDir = tmp("out")
    val summary = ReleaseBuild.run(spark, sfDir, outDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // the kept set IS the funnel's kept disposition on the TRAIN side
    // (the eval holdout must never ship in a release — the q151 rule)
    val disp = CurationQueries.funnelDisposition(spark, sfDir)
      .filter($"doc_id" % 10 =!= 0)
    val wantKept = disp.filter($"disposition" === "kept")
      .select($"doc_id").as[Long].collect().toSet
    val kept = spark.read.parquet(s"$outDir/kept_docs.parquet")
    val keptIds = kept.select($"doc_id").as[Long].collect().toSet
    assert(keptIds == wantKept && keptIds.nonEmpty)
    assert(keptIds.forall(_ % 10 != 0), "an eval doc shipped")
    assert(summary("kept_docs") == wantKept.size.toLong)
    // provenance covers the whole train universe, not just survivors
    assert(summary("disposition") == disp.count())

    // every artifact equals its component operator over the kept frame
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    for ((name, want) <- Seq(
        "packing" -> CurationQueries.packSequencesDocs(kept),
        "manifest" -> CurationQueries.shardManifestDocs(kept),
        "mixture" -> CurationQueries.mixtureRecipeDocs(kept),
        "mixed_manifest" -> CurationQueries.mixedManifestDocs(kept),
        "report_card" -> CurationQueries.sourceReportDocs(kept))) {
      val got = rows(spark.read.parquet(s"$outDir/$name.parquet"))
      assert(got.nonEmpty, s"$name is empty")
      assert(got == rows(want), s"$name diverges from its operator")
      assert(summary(name) == got.size.toLong)
    }

    // mixed_manifest: the recipe ACTUALLY APPLIED (VERDICT r14 #3) —
    // per source, the manifest's token mass lands within ONE document
    // of the shipped mixture recipe's target (whole epochs + the
    // crossing doc of the fractional prefix; q90's Bernoulli rounding
    // only hits targets in expectation, which is not a manifest)
    {
      import org.apache.spark.sql.functions.{size => asize, split, sum}
      val docTok = kept.select($"doc_id",
        asize(split($"text", "\\s+")).cast("long").as("n_tokens"))
      val mmTok = spark.read.parquet(s"$outDir/mixed_manifest.parquet")
        .join(docTok, Seq("doc_id"))
        .groupBy($"source").agg(sum($"n_tokens").as("tok"))
        .as[(String, Long)].collect().toMap
      val recipe = spark.read.parquet(s"$outDir/mixture.parquet")
        .select($"source", $"target_tokens")
        .as[(String, Long)].collect().toMap
      val maxTok = kept.select($"source",
          asize(split($"text", "\\s+")).cast("long").as("t"))
        .groupBy($"source")
        .agg(org.apache.spark.sql.functions.max($"t").as("m"))
        .as[(String, Long)].collect().toMap
      assert(mmTok.keySet == recipe.keySet)
      recipe.foreach { case (src, target) =>
        val got = mmTok(src)
        assert(got >= target && got - target < maxTok(src),
          s"$src: manifest tokens $got vs target $target " +
            s"(max doc ${maxTok(src)})")
      }
      // every copy of one doc lands at a distinct (shard, pos) slot —
      // the copy-salted key scatters repeats
      val mm = spark.read.parquet(s"$outDir/mixed_manifest.parquet")
      assert(mm.count() ==
        mm.select($"shard_id", $"pos").distinct().count())
    }

    // kept_assets: the asset keep-list over the release universe —
    // no two shipped assets may be perceptual near-dups of each other
    // (one elected member per cluster is exactly that property), every
    // shipped asset belongs to the train-side universe, and the
    // operator-parity row count reconciles
    val keptAssets = spark.read.parquet(s"$outDir/kept_assets.parquet")
    val ka = keptAssets.select($"doc_id", $"phash")
      .as[(Long, Long)].collect().toSeq
    assert(ka.nonEmpty && summary("kept_assets") == ka.size.toLong)
    val dupPair = (for {
      (a, ha) <- ka; (b, hb) <- ka if a < b
      if java.lang.Long.bitCount(ha ^ hb) <=
        graft.multimodal.Multimodal.MediaHammingMax
    } yield (a, b)).headOption
    assert(dupPair.isEmpty, s"near-dup pair shipped: $dupPair")
    val wantAssets = graft.multimodal.Multimodal
      .keptAssetsOf(spark, graft.multimodal.Multimodal.assetDocsOf(
        Tables(spark, sfDir, "documents").filter($"doc_id" % 10 =!= 0)))
    assert(rows(keptAssets) == rows(wantAssets))

    // paired_curation: the caption↔asset consistency record reconciles
    // EXACTLY with the two shipped keep-lists — text-kept ids are
    // kept_docs, asset-kept ids are the kept_assets originals, and
    // every inconsistent pair (kept asset whose caption dropped, or
    // vice versa) is named by its 4-way status
    val paired = spark.read.parquet(s"$outDir/paired_curation.parquet")
      .select($"doc_id", $"text_disposition", $"asset_status",
        $"pair_status")
      .as[(Long, String, String, String)].collect().toSeq
    assert(paired.nonEmpty &&
      summary("paired_curation") == paired.size.toLong)
    assert(paired.map(_._1).toSet ==
      disp.select($"doc_id").as[Long].collect().toSet)
    assert(paired.filter(_._2 == "kept").map(_._1).toSet == keptIds)
    val pairedIds = paired.map(_._1).toSet
    assert(paired.filter(_._3 == "kept").map(_._1).toSet ==
      ka.map(_._1).toSet.intersect(pairedIds)) // variants never join
    paired.foreach { case (id, td, as_, ps) =>
      val want = (td == "kept", as_ == "kept") match {
        case (true, true) => "kept_kept"
        case (true, false) => "asset_dropped_text_kept"
        case (false, true) => "text_dropped_asset_kept"
        case _ => "both_dropped"
      }
      assert(ps == want, s"doc $id pair status $ps != $want")
    }

    // kept_vectors: the vector keep-list (VERDICT r13 #1) — operator
    // parity, and the kept_assets pin in vector flavor: no two shipped
    // vectors carry a VERIFIED cosine ≥ NearDupThreshold pair (one
    // elected survivor per semantic cluster is exactly that property)
    val keptVecs = spark.read.parquet(s"$outDir/kept_vectors.parquet")
    assert(summary("kept_vectors") == keptVecs.count())
    assert(keptVecs.count() > 0)
    assert(rows(keptVecs) == rows(VectorQueries.keptVectorsOf(
      Tables(spark, sfDir, "embeddings"))))
    assert(VectorQueries.cosineNearDupsOf(
        VectorQueries.vecsOf(keptVecs).select($"vec_id", $"v"))
      .count() == 0, "verified near-dup vector pair shipped")

    // paired_vector_curation: the doc↔vector consistency record
    // (VERDICT r14 #1) reconciles EXACTLY with the two shipped
    // keep-lists — text-kept ids are kept_docs, vector-kept ids are
    // kept_vectors restricted to the pair universe (eval-side vectors
    // ship but have no train-side doc row), and the 4-way status is
    // forced by the two verdicts
    val keptVecIds = keptVecs.select($"vec_id").as[Long].collect().toSet
    val pv = spark.read.parquet(s"$outDir/paired_vector_curation.parquet")
      .select($"doc_id", $"text_disposition", $"vector_status",
        $"pair_status")
      .as[(Long, String, String, String)].collect().toSeq
    assert(pv.nonEmpty &&
      summary("paired_vector_curation") == pv.size.toLong)
    assert(pv.map(_._1).toSet == pairedIds,
      "asset and vector pair reports cover different doc universes")
    assert(pv.filter(_._2 == "kept").map(_._1).toSet == keptIds)
    assert(pv.filter(_._3 == "kept").map(_._1).toSet ==
      keptVecIds.intersect(pairedIds))
    pv.foreach { case (id, td, vs, ps) =>
      val want = (td == "kept", vs == "kept") match {
        case (true, true) => "kept_kept"
        case (true, false) => "vector_dropped_doc_kept"
        case (false, true) => "doc_dropped_vector_kept"
        case _ => "both_dropped"
      }
      assert(ps == want, s"doc $id pair status $ps != $want")
    }
    // the inconsistency classes q196 exists to expose are non-empty at
    // this SF — the report is doing real work, not rubber-stamping
    assert(pv.exists(_._4 == "vector_dropped_doc_kept"),
      "no kept doc with a dropped vector — fixture too tame")

    // curation_rollup: the tri-modal sign-off table IS the two paired
    // tables' status counts — one table, reconciled by construction
    val rollup = spark.read.parquet(s"$outDir/curation_rollup.parquet")
      .select($"pairing", $"pair_status", $"n_docs")
      .as[(String, String, Long)].collect()
      .map { case (p, s, n) => (p, s) -> n }.toMap
    val wantRoll =
      paired.groupBy(_._4).map { case (s, xs) =>
        ("text_asset", s) -> xs.size.toLong } ++
      pv.groupBy(_._4).map { case (s, xs) =>
        ("text_vector", s) -> xs.size.toLong }
    assert(rollup == wantRoll, "rollup diverges from the paired tables")

    // bookkeeping landed: one ledger row + one log line per artifact
    val ledger = spark.read.parquet(s"$outDir/ledger")
    assert(ledger.count() == summary.size.toLong)
    assert(ledger.select($"status").distinct().as[String].collect()
      .toSeq == Seq("completed"))
    assert(spark.read.json(s"$outDir/logs").count() == summary.size.toLong)

    // rerun: same inputs, same artifacts (overwrite semantics)
    val before = rows(spark.read.parquet(s"$outDir/manifest.parquet"))
    ReleaseBuild.run(spark, sfDir, outDir)
    assert(rows(spark.read.parquet(s"$outDir/manifest.parquet")) == before)
  }

  test("composed lifecycle: release off the 7-day delta chain == " +
      "release off per-day from-scratch ingests") {
    import org.apache.spark.sql.functions.col
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val nDays = CurationQueries.DeconBatchMod
    val allDays = (0 until nDays).toSet

    // 1. the `Soak gen` shape: cold-start delta chain, one generation per
    //    day off ONE root (no vacuum — the vacuum equivalence is pinned
    //    in DailyIngestSpec; this test composes THROUGH the release)
    val root = tmp("lc_root")
    DailyIngest.writeIndexesDelta(spark, sfDir, root,
      pendingDays = allDays)
    val chainKept = (0 until nDays).map { d =>
      val out = tmp(s"lc_chain$d")
      DailyIngest.runDelta(spark, root, sfDir, out, day = d)
      spark.read.parquet(s"$out/kept_docs.parquet")
    }.reduce(_.unionByName(_))

    // 2. the ground truth: every day re-run off a fresh seed holding
    //    exactly the residues that had already arrived (the
    //    DailyIngestSpec day-equivalence, applied to all seven days)
    val scratchKept = (0 until nDays).map { d =>
      val seed = tmp(s"lc_seed$d")
      val out = tmp(s"lc_sout$d")
      DailyIngest.writeIndexesDelta(spark, sfDir, seed,
        pendingDays = (d until nDays).toSet)
      DailyIngest.runDelta(spark, seed, sfDir, out, day = d)
      spark.read.parquet(s"$out/kept_docs.parquet")
    }.reduce(_.unionByName(_))

    // the two ingested corpora are row-identical
    assert(rows(chainKept).nonEmpty)
    assert(rows(chainKept) == rows(scratchKept),
      "chain-ingested corpus diverges from the from-scratch days")

    // 3. the release universe = ingested corpus ∪ benchmark holdout
    //    (eval docs gate decontamination but never ship — q151)
    val evalDocs = graft.Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % 10 === 0)
    val relChain = tmp("lc_rel_chain")
    val relScratch = tmp("lc_rel_scratch")
    ReleaseBuild.runOn(spark, chainKept.unionByName(evalDocs), relChain)
    ReleaseBuild.runOn(spark, scratchKept.unionByName(evalDocs),
      relScratch)
    for (a <- Seq("kept_docs", "disposition", "packing", "manifest",
        "mixture", "mixed_manifest", "report_card")) {
      val c = rows(spark.read.parquet(s"$relChain/$a.parquet"))
      val s = rows(spark.read.parquet(s"$relScratch/$a.parquet"))
      assert(c.nonEmpty, s"$a is empty")
      assert(c == s, s"$a diverges between chain-fed and scratch-fed")
    }
    // holdout enforced end to end: nothing eval-side ships
    val shipped = spark.read.parquet(s"$relChain/kept_docs.parquet")
      .select(col("doc_id")).as[Long].collect()
    assert(shipped.forall(_ % 10 != 0))
    // the release funnel does REAL work on the ingested corpus: its
    // exact-dup/near-dup gates passed at ingest, but release-only
    // stages (repetition/fluency/quality/toxicity operate on the full
    // union's statistics) still drop documents
    assert(shipped.length < chainKept.count(),
      "release funnel dropped nothing — composition is vacuous")
    // rerun off the same chain: byte-identical artifacts
    val before = rows(spark.read.parquet(s"$relChain/manifest.parquet"))
    ReleaseBuild.runOn(spark, chainKept.unionByName(evalDocs), relChain)
    assert(rows(spark.read
      .parquet(s"$relChain/manifest.parquet")) == before)
  }
}
