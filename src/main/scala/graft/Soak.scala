package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling soaks: replicate `documents`/`embeddings` N× into
  * `<workDir>/data`, then time one scenario on the blown-up corpus.
  * Usage:
  *   tools/run.sh graft.Soak <scenario> <sfDir> <workDir> <factor> [args...]
  *
  * Scenarios (each documented on its method below):
  *  - `queries <query>...` — selected queries on the corpus;
  *  - `index [family...]` — per-family index build / daily / compact;
  *  - `ingest` — DailyIngest snapshot and delta days, leg by leg;
  *  - `gen` — seven-generation delta chain with a vacuum;
  *  - `lifecycle` — the chain, every family daily, release;
  *  - `bpe [rounds...]` — BPE merge training at realistic merge counts;
  *  - `release` — one ReleaseBuild run.
  *
  * The corpus at `<workDir>/data` is reused when a completed generation
  * of the same factor is there; everything else a scenario writes lives
  * beside it in `<workDir>`. Results print as wall + executor CPU + job
  * counts per timed pass (read the last pass — CPU is the noise-immune
  * signal on shared hosts; see PLANS.md).
  */
object Soak {
  private val Usage = "graft.Soak queries|index|ingest|gen|lifecycle|bpe|release " +
    "<sfDir> <workDir> <factor> [query...|family...|rounds...]"

  /** What a scenario runs against: the session and its counters, the
    * work dir, the replicated corpus inside it, and the scenario's args. */
  private final case class Run(spark: SparkSession,
      counters: Harness.Counters, workDir: String, dataDir: String,
      args: Seq[String]) {
    def timed(label: String, passes: Int = 2)(action: => Long): Unit =
      Harness.timedPasses(spark, counters, label, passes)(action)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 4) Harness.usage(Usage)
    val Array(scenario, sfDir, workDir, factorS) = args.take(4)
    val rest = args.drop(4).toSeq
    val factor = factorS.toIntOption.filter(_ >= 1)
      .getOrElse(Harness.usage(Usage))
    val body: Run => Unit = (scenario, rest.isEmpty) match {
      case ("queries", false) => queries
      case ("index", _) => index
      case ("ingest", true) => ingest
      case ("gen", true) => gen
      case ("lifecycle", true) => lifecycle
      case ("bpe", _) => bpe
      case ("release", true) => release
      case _ => Harness.usage(Usage)
    }
    val cpus = Harness.cpus
    val spark = Harness.session(cpus)
    val dataDir = s"$workDir/data"
    ensureCorpus(spark, sfDir, dataDir, factor, cpus)
    val counters = Harness.counters(spark)
    spark.range(1000000L).selectExpr("sum(id)").collect() // JIT warm
    body(Run(spark, counters, workDir, dataDir, rest))
    spark.stop()
  }

  /** Delete `f` and everything under it; a missing path is a no-op. */
  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete(); ()
  }

  /** Generate (or trust) the N×-replicated corpus at `outDir`.
    *
    * Replication is deliberately worst-case for dedup operators:
    *  - documents: each replica r > 0 appends a ` rep<r>` marker, so every
    *    doc gains an N-member NEAR-dup family (one perturbed shingle —
    *    exact dedup can't collapse it first) and candidate-pair volume
    *    grows quadratically in N;
    *  - embeddings: replicas keep IDENTICAL vectors, so every sign-LSH
    *    bucket and cosine family inflates N×.
    */
  private def ensureCorpus(spark: SparkSession, sfDir: String, outDir: String,
      factor: Int, parts: Int): Unit = {
    // Regenerate unless a COMPLETED generation of this exact factor is
    // present. Directory existence alone is not completion (a crash mid-
    // write leaves a dir holding only _temporary/), so trust requires
    // every table's _SUCCESS marker AND a meta file recording the factor
    // (written last) — reusing a 10× dir for a 20× request would
    // silently mislabel the soak otherwise.
    val metaFile = new java.io.File(s"$outDir/soak_meta")
    val complete =
      Seq("documents", "embeddings").forall(t =>
        new java.io.File(s"$outDir/$t.parquet/_SUCCESS").exists()) &&
        metaFile.exists() &&
        scala.util.Using(scala.io.Source.fromFile(metaFile))(_.mkString)
          .toOption.exists(_.trim == factor.toString)
    if (!complete) {
      val root = new java.io.File(outDir)
      if (root.exists()) {
        // outDir is user-supplied and about to be recursively deleted:
        // refuse anything that doesn't look like a (possibly partial)
        // soak dir — a mistyped data/home path must abort, not vanish
        val expected = Set("documents.parquet", "embeddings.parquet",
          "soak_meta")
        val foreign = Option(root.listFiles()).getOrElse(Array.empty)
          .map(_.getName).filterNot(expected)
        require(foreign.isEmpty,
          s"refusing to delete $outDir: contains non-soak entries " +
            foreign.mkString(", "))
        deleteTree(root)
      }
      root.mkdirs()
      val reps = explode(sequence(lit(0), lit(factor - 1))).as("r")
      // replica id stride derived from the data — a constant would
      // silently collide ids once the base corpus outgrows it
      val docs = Tables(spark, sfDir, "documents")
      val embs = Tables(spark, sfDir, "embeddings")
      val idOffset = math.max(
        docs.agg(max(col("doc_id"))).head.getLong(0),
        embs.agg(max(col("vec_id"))).head.getLong(0)) + 1L
      docs
        .select(col("*"), reps)
        .select((col("doc_id") + col("r") * idOffset).as("doc_id"),
          when(col("r") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" rep"), col("r")))
            .as("text"),
          col("lang"), col("source"))
        // n_chars recomputed AFTER the replica suffix, or every replica
        // row would carry the base text's stale length
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(parts)
        .write.parquet(s"$outDir/documents.parquet")
      embs
        .select(col("*"), reps)
        .select((col("vec_id") + col("r") * idOffset).as("vec_id"),
          col("embedding"), col("label"))
        .repartition(parts)
        .write.parquet(s"$outDir/embeddings.parquet")
      val w = new java.io.PrintWriter(metaFile)
      try w.print(factor.toString) finally w.close()
      println(s"[soak] generated ${factor}x corpus at $outDir (id stride $idOffset)")
    }
  }

  /** `queries`: time each named query on the replicated corpus. The
    * corpus dir only holds the two corpus tables; soak only queries
    * that read them. */
  private def queries(r: Run): Unit = {
    import r._
    args.foreach { name =>
      timed(s"[soak] $name")(
        SparkEntry.queries(name)(spark, dataDir).count())
    }
  }

  /** `index`: measured write→read lifecycle of the incremental-dedup
    * indexes (VERDICT r8 "Next round" #1). WRITE every corpus-side index
    * to parquet once (the amortized snapshot cost a real pipeline pays
    * per corpus rebuild), then time each family's DAILY leg reading the
    * on-disk index — the recurring cost. The split converts the "daily
    * cost is O(batch)" claim from invariant-tested to measured.
    *
    * `<workDir>/index` is always rewritten — the write IS the thing
    * being measured. Families default to all of
    * [[graft.operators.IndexStore.families]].
    *
    * Output: one "[index-soak]" line per (family, phase) — `build` =
    * index construction + parquet write, `daily pass=1/2` = batch leg
    * off the disk index.
    */
  private def index(r: Run): Unit = {
    import r._
    val only = args.toSet
    val indexDir = s"$workDir/index"
    val families = operators.IndexStore.families
      .filter(f => only.isEmpty || only(f._1))
    require(families.nonEmpty,
      s"no such family; known: ${operators.IndexStore.families.map(_._1)}")
    families.foreach { case (name, twin, build, daily) =>
      timed(s"[index-soak] $name build", passes = 1) {
        build(spark, dataDir, indexDir); 0L
      }
      timed(s"[index-soak] $name daily")(
        daily(spark, indexDir, dataDir).count())
      // opt-in: time the CAPPED daily leg beside the exact one (the
      // q187/q188/q191 admission rule applied) — the capped-vs-exact
      // policy measurement on the same corpus + same disk index
      // a malformed value degrades to the capless run instead of
      // killing the whole soak (ADVICE r13)
      sys.env.get("SPARK_GRAFT_BAND_CAP").flatMap { v =>
        val parsed = scala.util.Try(v.toInt).toOption
        if (parsed.isEmpty) println(
          s"[index-soak] WARN malformed SPARK_GRAFT_BAND_CAP='$v' ignored")
        parsed
      }.foreach { c =>
        operators.IndexStore.cappedDailies.get(name).foreach { capped =>
          timed(s"[index-soak] $name daily cap=$c")(
            capped(spark, indexDir, dataDir, c).count())
        }
      }
      // the third lifecycle leg: nightly compaction (batch → next
      // snapshot's index) — must beat the O(corpus) rebuild `build`
      // just measured, or the compactor has regressed to corpus work
      operators.IndexStore.compactions.find(_._1 == name).foreach {
        case (_, _, compact, _) =>
          timed(s"[index-soak] $name compact", passes = 1) {
            compact(spark, indexDir, dataDir, s"$workDir/index_next"); 0L
          }
      }
      println(s"[index-soak] $name twin=$twin done")
    }
  }

  /** `ingest`: measured end-to-end lifecycle of the
    * [[operators.DailyIngest]] product flow at N× scale — the
    * composition-level counterpart of the `index` scenario's per-family
    * split: `build` = writing EVERY corpus index the pipeline reads (the
    * amortized per-snapshot cost), `daily` = one full `DailyIngest.run`
    * off those on-disk indexes — all five gates, the kept/disposition
    * artifacts, both reports, ledger + logs, and the index_next
    * compaction. The recurring number a scheduler would see per day.
    *
    * `<workDir>/index` is always rewritten (the build is part of the
    * measurement) and `<workDir>/out` holds the daily run's artifacts,
    * overwritten per pass.
    */
  private def ingest(r: Run): Unit = {
    import r._
    timed("[ingest-soak] build", passes = 1) {
      operators.DailyIngest.writeIndexes(spark, dataDir,
        s"$workDir/index")
      0L
    }
    timed("[ingest-soak] daily")(
      operators.DailyIngest.run(spark, s"$workDir/index", dataDir,
        s"$workDir/out").count())
    // attribution legs: the daily number above decomposes into the
    // GATES (dispositionOf off the disk index) and the COMPACTION
    // (index_next snapshot write); the difference is reports + the
    // kept/ledger/log writes. Measured separately so a regression in
    // one leg is visible instead of smeared across the total.
    val batch = operators.DailyIngest.split(spark, dataDir)._2
      .transform(graft.Materialize.shared)
    def idx(name: String) =
      Tables.read(spark, s"$workDir/index/$name.parquet")
    // the once-per-day batch signature compute the pipeline shares
    // between the near-dup gate and index persistence
    val (rawBands, rawSets) =
      operators.LLMQueries.signatureTables(batch)
    val bBands = rawBands.transform(graft.Materialize.shared)
    val bSets = rawSets.transform(graft.Materialize.shared)
    val bWins = operators.CurationQueries.docWindows(batch)
      .transform(graft.Materialize.shared)
    timed("[ingest-soak] batch-sigs", passes = 1)(
      bBands.count() + bSets.count())
    timed("[ingest-soak] batch-wins", passes = 1)(bWins.count())
    timed("[ingest-soak] gates")(
      operators.DailyIngest.dispositionOf(batch, idx("text_hash"),
        idx("norm_hash"), idx("text_bands"), idx("text_sets"),
        idx("eval_grams"), idx("eval_bands"), idx("eval_sets"),
        bBands, bSets).count())
    timed("[ingest-soak] compact", passes = 1) {
      operators.DailyIngest.compactIndexes(idx, batch, bBands, bSets,
        bWins, (df, name) => df.write.mode("overwrite")
          .parquet(s"$workDir/attr_next/$name.parquet"))
      0L
    }
    // phase-by-phase mirror of writeDay, one timed leg per action, so
    // the daily total attributes exactly instead of by subtraction
    val disposition = operators.DailyIngest.dispositionOf(batch,
      idx("text_hash"), idx("norm_hash"), idx("text_bands"),
      idx("text_sets"), idx("eval_grams"), idx("eval_bands"),
      idx("eval_sets"))
      .transform(graft.Materialize.shared)
    timed("[ingest-soak] disposition", passes = 1)(disposition.count())
    timed("[ingest-soak] kept-write", passes = 1) {
      batch.join(disposition.filter(col("disposition") === "kept")
          .select(col("doc_id")), Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(s"$workDir/attr_kept.parquet")
      0L
    }
    timed("[ingest-soak] disp-write", passes = 1) {
      disposition.orderBy(col("doc_id")).write.mode("overwrite")
        .parquet(s"$workDir/attr_disp.parquet")
      0L
    }
    timed("[ingest-soak] reports")(
      operators.CurationQueries.noveltyReportFrom(idx("substr_windows"),
        batch, bWins).count() +
      operators.CurationQueries.incrementalSubstringReportFrom(
        idx("substr_windows"), batch, bWins).count())
    // the DELTA layout's full daily run — same gates and artifacts,
    // but index persistence is an O(batch) generation write instead of
    // the O(corpus) snapshot compact measured above. Repeated passes
    // are safe: day 0 reads gen ≤ 0 and overwrites its own gen=1.
    timed("[ingest-soak] delta-seed", passes = 1) {
      operators.DailyIngest.writeIndexesDelta(spark, dataDir,
        s"$workDir/delta")
      0L
    }
    timed("[ingest-soak] delta-daily")(
      operators.DailyIngest.runDelta(spark, s"$workDir/delta", dataDir,
        s"$workDir/delta_out").count())
    // the write-only comparison against `compact`: same families, but
    // batch-sized generation partitions instead of a corpus rewrite
    timed("[ingest-soak] delta-write", passes = 1) {
      def w(df: org.apache.spark.sql.DataFrame, name: String): Unit =
        df.write.mode("overwrite")
          .parquet(s"$workDir/attr_delta/$name.parquet/gen=1")
      w(operators.LLMQueries.hashIndex(batch), "text_hash")
      w(operators.LLMQueries.normHashIndex(batch), "norm_hash")
      w(bBands, "text_bands")
      w(bSets, "text_sets")
      w(operators.CurationQueries.substrWindowIndexFrom(bWins),
        "substr_windows")
      0L
    }
  }

  /** `gen`: seven-generation delta-ingest soak — the generation-GC
    * economics of the [[operators.DailyIngest]] delta layout, measured
    * instead of argued from the two-day spec case (VERDICT r9 "Next
    * round" #7).
    *
    * The chain is a COLD START over all [[operators.CurationQueries
    * .DeconBatchMod]] residues: the gen-0 seed indexes an empty corpus,
    * then days 0..6 each ingest one residue of the train side via
    * `runDelta` (each write is one O(batch) generation partition), with
    * a `foldDelta` VACUUM after day 3 (gens 0..4 → one gen-0 snapshot —
    * the throughGen=4 bound models vacuuming beside an in-flight day 4).
    * Days 4..6 resume off the folded root, so the run shows both halves
    * of the GC trade: daily cost as generations pile up (days 0..3: 1→5
    * partitions per family) and daily cost after compaction (days 4..6:
    * 1→3 partitions), plus the vacuum's own bounded price.
    *
    * What flat output means at 100 TB: the per-day legs growing only
    * with the INDEX read (slim hash tables, never documents) while each
    * day's write stays batch-sized is exactly the claim "the delta
    * layout makes daily ingest O(batch)"; the vacuum leg is the
    * amortized compaction a table format would schedule weekly.
    *
    * Roots are wiped per run — the chain IS the measurement.
    * DailyIngestSpec pins the equivalence (chain+vacuum == from-scratch
    * rebuild) at sf0.001; this scenario prices it at N×.
    */
  private def gen(r: Run): Unit = {
    import r._
    val root = s"$workDir/gen_root"
    val folded = s"$workDir/gen_folded"
    Seq(root, folded).foreach(d => deleteTree(new java.io.File(d)))
    val allDays = (0 until operators.CurationQueries.DeconBatchMod).toSet
    timed("[gen-soak] seed", passes = 1) {
      operators.DailyIngest.writeIndexesDelta(spark, dataDir, root,
        pendingDays = allDays)
      0L
    }
    def day(d: Int, from: String): Unit =
      timed(s"[gen-soak] day$d", passes = 1)(
        operators.DailyIngest.runDelta(spark, from, dataDir,
          s"$workDir/gen_out$d", day = d).count())
    (0 to 3).foreach(day(_, root))
    // vacuum beside an in-flight day 4: fold COMMITTED gens only
    timed("[gen-soak] vacuum", passes = 1) {
      operators.DailyIngest.foldDelta(spark, root, folded, throughGen = 4)
      0L
    }
    (4 to 6).foreach(day(_, folded))
  }

  /** `lifecycle`: measured end-to-end cost of the COMPOSED lifecycle at
    * N× scale — the product flow a training-data team actually runs
    * (VERDICT r10 "Next round" #5): a cold-start 7-day delta-ingest
    * chain (the `gen` shape: one O(batch) generation per day off one
    * root), then [[operators.ReleaseBuild]] over the chain's ingested
    * corpus (kept_docs of all days ∪ the benchmark holdout, which gates
    * the release funnel's decontamination stages but never ships).
    *
    * ReleaseBuildSpec pins the correctness half at sf0.001 (chain-fed
    * release byte-identical to per-day from-scratch ingests); this
    * scenario prices it: per-day ingest cost, the one-time union scan,
    * and the release bill. The chain root is wiped per run.
    */
  private def lifecycle(r: Run): Unit = {
    import r._
    val root = s"$workDir/lc_root"
    deleteTree(new java.io.File(root))
    val nDays = operators.CurationQueries.DeconBatchMod
    val allDays = (0 until nDays).toSet
    timed("[lifecycle-soak] seed", passes = 1) {
      operators.DailyIngest.writeIndexesDelta(spark, dataDir, root,
        pendingDays = allDays)
      0L
    }
    // Every IndexStore family builds once against the replica corpus, and
    // each family's DAILY leg then runs INSIDE every chain day — one shared
    // session, so the soak prices all families' daily legs under each
    // other's shuffle pressure, broadcast memory and GC instead of each
    // family measured alone (the `index` scenario's per-family view stays
    // the clean-room number). The family batch is the fixed mod-10 split
    // each day — the text chain supplies the day-varying component; the
    // family lines are the STEADY-STATE daily bill, attributed per family
    // per day.
    val famIndex = s"$workDir/lc_index"
    deleteTree(new java.io.File(famIndex))
    timed("[lifecycle-soak] families-build", passes = 1) {
      operators.IndexStore.families.foreach { case (_, _, write, _) =>
        write(spark, dataDir, famIndex)
      }
      0L
    }
    // SPARK_GRAFT_LC_FAMEVERY=N runs the family legs every Nth day
    // (default every day): the family batch is the same mod-10 split
    // each day, so at large factors one family day per chain prices the
    // steady state without 7× redundant re-measurement.
    val famEvery = sys.env.getOrElse("SPARK_GRAFT_LC_FAMEVERY", "1").toInt
    for (d <- 0 until nDays) {
      timed(s"[lifecycle-soak] day$d", passes = 1)(
        operators.DailyIngest.runDelta(spark, root, dataDir,
          s"$workDir/lc_out$d", day = d).count())
      if (d % famEvery == 0) {
        operators.IndexStore.families.foreach { case (name, _, _, daily) =>
          timed(s"[lifecycle-soak] day$d fam=$name", passes = 1)(
            daily(spark, famIndex, dataDir).count())
        }
        // the composed ASSET and VECTOR days — disposition + kept_*
        // artifacts + ledger + next-snapshot compaction, the whole
        // runAssets/runVectors orchestration — run inside the chain off the
        // same family indexes, so their steady-state daily bill is measured
        // under the chain's shuffle/broadcast/GC load like every other
        // orchestration claim in this repo.
        timed(s"[lifecycle-soak] day$d assets", passes = 1)(
          operators.DailyIngest.runAssets(spark, famIndex, dataDir,
            s"$workDir/lc_assets$d").count())
        timed(s"[lifecycle-soak] day$d vectors", passes = 1)(
          operators.DailyIngest.runVectors(spark, famIndex, dataDir,
            s"$workDir/lc_vec$d").count())
      }
    }
    // the scheduled sem_*/quantizer REBUILD the q160 drift report exists to
    // trigger. The trigger reads the persisted quantizer stats (≤|cells|
    // rows, no corpus scan); the rebuild then recomputes the rebuild-class
    // tables over corpus ∪ kept vectors — the amortized O(corpus) job the
    // O(batch) daily avoids, priced here as the build-vs-carry line — and
    // the election churn (which shipped vectors the refresh dethrones) is
    // counted off the same keep-list definition.
    val driftCells = operators.IndexStore
      .dailyQuantizerDrift(spark, famIndex, dataDir)
      .filter(col("drift_micro").isNotNull)
      .filter(abs(col("drift_micro")) > 0)
      .count()
    println(s"[lifecycle-soak] drift trigger: $driftCells drifting " +
      "cells -> scheduling rebuild")
    val embAll = Tables(spark, dataDir, "embeddings")
    val corpusEmb = embAll
      .filter(col("vec_id") % operators.VectorQueries.VecBatchMod =!= 0)
    val keptIds = Tables.read(spark, s"$workDir/lc_vec0/kept_vectors.parquet")
      .select(col("vec_id"))
    val universeVecs = corpusEmb.unionByName(
      embAll.join(keptIds, Seq("vec_id"), "left_semi"))
    timed("[lifecycle-soak] vec-rebuild", passes = 1)(
      operators.DailyIngest.rebuildSemantic(spark, famIndex,
        universeVecs, s"$workDir/lc_vecrebuild").count())
    timed("[lifecycle-soak] vec-rebuild-churn", passes = 1)(
      operators.VectorQueries.keptChurnOf(
        operators.VectorQueries.keptVectorsOf(corpusEmb),
        operators.VectorQueries.keptVectorsOf(universeVecs),
        corpusEmb.select(col("vec_id"))).count())

    // the release universe: every day's survivors ∪ the eval holdout
    val ingested = (0 until nDays)
      .map(d => Tables.read(spark, s"$workDir/lc_out$d/kept_docs.parquet"))
      .reduce(_.unionByName(_))
    val universe = ingested.unionByName(
      Tables(spark, dataDir, "documents").filter(col("doc_id") % 10 === 0))
    timed("[lifecycle-soak] release", passes = 1)(
      operators.ReleaseBuild.runOn(spark, universe,
        s"$workDir/lc_release",
        // the release now also ships kept_vectors + paired_curation —
        // priced inside the same release line
        vecsUniverse = Some(Tables(spark, dataDir, "embeddings"))).count())
  }

  /** `bpe`: prices the q108 BPE merge-training loop at REALISTIC merge
    * counts (VERDICT r10 "Next round" #6: the loop is proven at 4 merges
    * and its "nothing is corpus-sized after the word count" claim was an
    * argument — this measures it). For each requested round count R
    * (default 4 64 256) the full training runs once and its line prints;
    * differencing consecutive lines gives the per-round cost, which must
    * stay flat (vocabulary-bounded) while only the round-0 word count
    * scales with the corpus. Run at two factors to see both axes.
    *
    * The loop's pair space can EXHAUST on a bounded-vocabulary corpus
    * (every word fully merged); training is then a fixed point (the left
    * join in bpeLoop) and the printed effective-merge count stops
    * growing — also a measurement, not an error.
    */
  private def bpe(r: Run): Unit = {
    import r._
    val rounds = if (args.isEmpty) Seq(4, 64, 256) else args.map(_.toInt)
    // the synthetic testdata carries only ~30 distinct multi-char words
    // — its pair space exhausts after ~70 merges, long before a
    // realistic merge count. Widen the vocabulary adversarially (the
    // ensureCorpus convention): each word becomes an 8-hex-char token
    // salted by (word, doc_id % 997) — ~30k distinct words over a
    // 16-char alphabet, the shape real subword statistics have. The
    // corpus-side word count still scales with the corpus; only the
    // vocabulary the per-round cost is claimed to be bounded by grows
    // to a realistic size.
    val docs = Tables(spark, dataDir, "documents")
      .selectExpr("doc_id",
        "array_join(transform(split(text, '\\\\s+'), w -> " +
          "substring(md5(concat(w, '_', cast(doc_id % 997 as string)))," +
          " 1, 8)), ' ') AS text")
    for (n <- rounds)
      timed(s"[bpe-soak] rounds=$n", passes = 1) {
        // one action: train + the symbol/vocab sizes (symbol total
        // shrinking by ~1 per effective merge shows where/whether the
        // pair space exhausted)
        val m = operators.LLMQueries.bpeVocabAfter(docs, n)
          .selectExpr("sum(size(s)) AS symbols", "count(*) AS words")
          .head()
        println(s"[bpe-soak] rounds=$n symbols=${m.getLong(0)} " +
          s"vocab_words=${m.getLong(1)}")
        m.getLong(1)
      }
  }

  /** `release`: measured end-to-end cost of one [[operators.ReleaseBuild]]
    * run at N× scale — the release-cadence counterpart of `ingest`'s
    * daily number: the full 7-stage funnel pass plus all five artifact
    * writes and the bookkeeping, priced as the one bill a team pays per
    * training-data release (weekly/monthly — amortized, unlike the daily
    * ingest cost, which is why a funnel-shaped full pass is acceptable
    * here and deliberately avoided in DailyIngest). The out dir is
    * overwritten per pass — the rerun IS the overwrite test.
    */
  private def release(r: Run): Unit = {
    import r._
    timed("[release-soak] build")(
      operators.ReleaseBuild.run(spark, dataDir,
        s"$workDir/release_out").count())
  }
}
