package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Text dedup family (L1/L1b/L1c/L2/L2b/L2f/L22/L37/L89/L91/L92):
  * shingling, MinHash signatures + LSH banding, exact-Jaccard
  * verification, exact/normalized dedup, the incremental daily legs,
  * the persisted pair table, edit-distance verification, SimHash,
  * rolling-hash fingerprints, keep-best election, the band-occupancy
  * audit and the band-cap operating curve — q60/q64/q66/q70/q71/q96/
  * q97/q125/q127/q136/q139/q166/q189/q191/q192 + their oracle CTEs.
  *
  * Split out of LLMQueries by family (round 13, pure moves) — the
  * round-12 VectorQueries treatment.
  */
private[operators] trait TextDedup {
  this: LLMQueries.type =>

  private val NumHashes = 8
  private val RowsPerBand = 2 // 4 bands of 2 → catches Jaccard ≳ 0.4

  // Repartitioned up front: the sf parquet is ONE file → a one-partition
  // scan, and the shingle/hash explosion otherwise runs single-task up to
  // the first groupBy shuffle (same lesson as SpecPipeline.base). Width
  // AQE-sized (Scale.byKey, round 16).
  private[operators] def docs(spark: SparkSession, dir: String): DataFrame =
    graft.Scale.byKey(Tables(spark, dir, "documents"), col("doc_id"))

  /** (doc_id, sh) with `sh` the distinct 3-word-shingle array, one row per
    * document that has ≥3 words (shorter docs have no shingles and are out
    * of near-dup scope, as in the exploded formulation this replaced).
    *
    * PERF, two deliberate choices:
    *  - `sh` is ONE expression: `transform(array(split(text)), w -> …)[0]`
    *    binds the word array to a lambda variable, so the regex split runs
    *    once per document no matter how many times the shingle lambda
    *    references `w`. Computing `w` in its own Project instead invites
    *    CollapseProject to substitute `split(text)` into every `w[i]`
    *    reference — ~250 regex splits per document, a measured 20×
    *    slowdown of this stage.
    *  - the result is `repartition`ed on doc_id: every consumer (the
    *    signature leg and both verification legs of the near-dup join)
    *    then hangs off ONE materialized exchange — ReusedExchange makes
    *    the shingling run once per query instead of once per leg.
    */
  private def shingledDocs(spark: SparkSession, dir: String): DataFrame =
    shingledOf(Tables(spark, dir, "documents"))

  /** The per-row shingle expression — ONE definition shared by the
    * batch projection and the streaming fuzzy-decon twin, so the two
    * can never shingle differently. */
  private[graft] val shingleArrayExpr: Column = expr(
    "transform(array(split(text, '\\\\s+'))," +
      " w -> array_distinct(transform(sequence(0, size(w)-3)," +
      " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))))")
    .getItem(0)

  /** The fused MinHash-signature+banding expression over a shingle
    * array column — the streaming-twin entry to [[bandsOf]]'s keys. */
  private[graft] def bandKeysOf(sh: Column): Column =
    graft.functions.MinHashBandKeys.minhashBandKeys(sh, NumHashes,
      RowsPerBand)

  /** The shingle projection over any (doc_id, text) frame. */
  private[operators] def shingledOf(docsDf: DataFrame): DataFrame =
    graft.Scale.byKey(
      // spread the regex/shingle CPU across tasks first: the sf parquet is
      // one file → a one-partition scan (same lesson as SpecPipeline.base)
      graft.Scale.byKey(docsDf, col("doc_id"))
        .filter(size(split(col("text"), "\\s+")) >= 3)
        .select(col("doc_id"), shingleArrayExpr.as("sh")),
      col("doc_id"))

  /** LSH band keys (doc_id, band, key) of a shingled frame — the table a
    * pipeline PERSISTS so tomorrow's batch never re-hashes the corpus.
    *
    * The signature+banding is ONE fused native expression
    * ([[graft.functions.MinHashBandKeys]], bit-identical to the
    * 8×`transform`+`array_min` HOF formulation it replaced — see
    * MinHashSigSpec): one shared MessageDigest, no per-shingle
    * concat/hex/substring allocations, hex rendered once per doc. */
  private[operators] def bandsOf(shingled: DataFrame): DataFrame =
    shingled
      .select(col("doc_id"), posexplode(bandKeysOf(col("sh"))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("key"))

  /** Per-doc shingle sets with sizes — the verification-side table a
    * pipeline persists next to [[bandsOf]]. */
  private[operators] def setsOf(shingled: DataFrame): DataFrame =
    shingled.select(col("doc_id"), col("sh"),
      size(col("sh")).cast("long").as("n_sh"))

  /** The (bands, sets) signature tables of a document frame — what an
    * incremental pipeline writes once per corpus snapshot. */
  def signatureTables(docsDf: DataFrame): (DataFrame, DataFrame) = {
    val shingled = shingledOf(docsDf)
    (bandsOf(shingled), setsOf(shingled))
  }

  /** Exact-Jaccard verification of candidate pairs against per-doc
    * shingle sets; keeps the shared-shingle contract of [[minhashPairs]]. */
  private def verifyPairs(cands: DataFrame, sets: DataFrame): DataFrame =
    cands
      .join(sets.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sets.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("za.sh"), col("zb.sh"))).cast("long")
          .as("n_inter"),
        col("za.n_sh").as("na"), col("zb.n_sh").as("nb"))
      .filter(col("n_inter") > 0)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        round(col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** L89/q189: TEXT band-occupancy audit — the q184/q185 report over
    * the q64 MinHash bands, completing the hot-bucket watch across all
    * three banded modalities (media q184, vector q185, text here): per
    * band, populated keys, max bucket occupancy, implied candidate-pair
    * volume Σ n·(n−1)/2 (exactly the band join's pre-dedup row count —
    * LLMQueriesSpec reconciles it) and the bucket/pair mass above the
    * shared hot threshold. The 100× soak's text_near_dup daily leg
    * (3.73M verified pairs, pair-volume-bound) is the load this audit
    * watches; unlike vectors, the soak's text replicas are perturbed
    * (` rep<r>`), so they are REAL near-dups — no exact pre-pass can
    * collapse them, which makes the occupancy watch the text family's
    * only early-warning knob. One [[graft.multimodal.Multimodal
    * .bandOccupancyOf]] definition and one hot-occupancy policy across
    * the three audits. */
  def textBandOccupancy(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.bandOccupancyOf(
      signatureTables(docs(spark, dir))._1)

  /** L91/q191: the TEXT band-cap operating curve — the q187/q188 report
    * over the q64 MinHash bands, completing the cap pricing across all
    * three banded modalities (VERDICT r12 "Next round" #2). Text is the
    * one modality where a per-bucket occupancy cap is the ONLY
    * pair-volume knob: the 100× soak's replicas are PERTURBED
    * (` rep<r>` suffixes), i.e. real near-dups with distinct shingle
    * sets, so no exact canonical pre-pass (the q186/q190 move) can
    * collapse them — when the q189 audit flags a hot bucket, capping is
    * the only response, and until this query that response was
    * unpriced. Truth = the q64-verified Jaccard pair set (band
    * candidates with ≥1 shared shingle — exactly what capless banding
    * emits and q77's clusters consume), so per cap the exact-integer
    * recall reads how much of today's q64 output a capped band join
    * would keep. Shares [[graft.multimodal.Multimodal.bandCapCurveOf]]
    * and [[graft.multimodal.Multimodal.BandCapSweep]] with the media
    * and vector flavors so the three curves can never price caps
    * differently.
    *
    * Scale shape: same audit tier as q187/q188 — ONE band self-join
    * (the q64 candidate join with per-bucket ranks riding along)
    * prices every cap at once; the verification legs only touch
    * candidate endpoints' shingle sets; the curve tail is a ≤4-row
    * broadcast join. */
  def textBandCapCurve(spark: SparkSession, dir: String): DataFrame = {
    val base = shingledOf(Tables(spark, dir, "documents"))
    val sets = setsOf(base)
    graft.multimodal.Multimodal.bandCapCurveOf(bandsOf(base), "doc_id",
      pairs => verifyPairs(pairs.toDF("doc_a", "doc_b"), sets)
        .select(col("doc_a"), col("doc_b")))
  }

  /** Incremental near-dup: pairs of an incoming batch against an already
    * signed corpus (plus batch-internal pairs) WITHOUT re-pairing the
    * corpus with itself — the daily-ingest flow at 100 TB, where corpus
    * signatures are petabyte-scale tables written once (signatureTables)
    * and each day's work is proportional to the batch, not the corpus.
    * Only band buckets touched by a new doc produce candidates; corpus-
    * only buckets never join.
    */
  def incrementalNearDups(corpusBands: DataFrame, corpusSets: DataFrame,
      newDocs: DataFrame, cap: Option[Int] = None): DataFrame = {
    val shingledNew = shingledOf(newDocs)
    // materialized lazily: newBands feeds BOTH the union leg and the
    // probe leg, and the MinHashBandKeys projection sits downstream of
    // the reusable shingle exchange — without the checkpoint each
    // consumer re-hashes the batch's signatures (2× the md5 work per
    // daily run). The batch is the small side by definition, so the
    // checkpoint is cheap; eager=false keeps plan construction/audit
    // free (the q70 lesson, uniformly — VERDICT r8 "What's wrong" #1).
    incrementalNearDupsFrom(corpusBands, corpusSets,
      bandsOf(shingledNew).transform(graft.Materialize.shared),
      setsOf(shingledNew), cap)
  }

  /** [[incrementalNearDups]] with the batch's signature tables supplied
    * by the caller — the DailyIngest flow computes them ONCE per day
    * and reuses them for index persistence (one definition, one
    * execution; `Soak ingest`'s batch-sigs leg prices the compute).
    * Contract: `newBands` feeds two subplans (probe + union), so pass
    * a reusable frame (a lazy localCheckpoint); `newSets` is read
    * once. */
  def incrementalNearDupsFrom(corpusBands: DataFrame,
      corpusSets: DataFrame, newBands: DataFrame,
      newSets: DataFrame, cap: Option[Int] = None): DataFrame = {
    // probe shape: (corpus ∪ new) bands join against NEW bands only — a
    // corpus-only bucket has no matching probe key and never enumerates
    // its pairs (a full self-join with an is-new residual predicate
    // would still expand every corpus bucket before filtering). The new
    // side is batch-sized, so AQE typically broadcasts it and the corpus
    // table is a pure scan; new×new pairs arrive from both directions
    // and collapse under least/greatest + distinct.
    val allBands = corpusBands.unionByName(newBands)
    // capped: ranks over the probed buckets' full corpus∪batch
    // membership, so the admitted set equals the capped FULL q64 join
    // restricted to batch-touching pairs (BandCapSpec); None keeps
    // today's exact probe join byte-identical
    val (aSide, nSide) = cap match {
      case None => (allBands, newBands)
      case Some(c) => graft.multimodal.Multimodal
        .cappedProbeSides(allBands, newBands, "doc_id", c)
    }
    // cands feeds the verify joins AND the endpoint filter below — the
    // lazy checkpoint keeps the band-probe join from running twice
    val cands = aSide.as("a")
      .join(nSide.as("n"),
        col("a.band") === col("n.band") && col("a.key") === col("n.key") &&
          col("a.doc_id") =!= col("n.doc_id"))
      .select(least(col("a.doc_id"), col("n.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("n.doc_id")).as("doc_b"))
      .distinct()
      .transform(graft.Materialize.shared)
    // Verification only touches the sets of candidate ENDPOINTS — a
    // batch-bounded id set (every pair has a batch side, so endpoints ≤
    // 2·|candidates|). Without the semi-join the daily pass SHUFFLES
    // the whole corpus sets table for a handful of pairs — O(corpus)
    // recurring cost, the exact thing the persisted index exists to
    // avoid (measured on the 10× `Soak index`: the sets exchange dominated
    // the daily leg). The endpoint set broadcasts under AQE, so corpus
    // sets are scan-filtered in place with no corpus-wide exchange.
    val ends = cands
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    // The surviving sets union still needs ONE explicit doc_id exchange:
    // both union children end in an identical hashpartitioning(doc_id,
    // N) exchange (shingledOf's layout), and Spark 4.1 then treats the
    // union itself as co-partitioned, eliding the verify-join-side
    // shuffle — zipping a 2N-partition union leg against an N-partition
    // candidates leg ("Can't zip RDDs with unequal numbers of
    // partitions", observed on the 30× soak once the joins were too big
    // to broadcast). Post-filter the repartition moves candidate-sized
    // rows, not the corpus.
    val sets = graft.Scale.byKey(
      corpusSets.unionByName(newSets)
        .join(broadcast(ends), Seq("doc_id"), "left_semi"),
      col("doc_id"))
    verifyPairs(cands, sets)
  }

  /** Batch-id residue selecting the q96 "today's batch" leg: documents
    * with doc_id ≡ 0 (mod 10) arrive today; the rest are the signed
    * corpus. Deterministic and oracle-portable (both engines agree on
    * `%` for non-negative ids). */
  private[operators] val BatchMod = 10

  /** q96: the daily-ingest near-dup flow as an ORACLE query — the shape
    * a 100 TB pipeline actually runs every day, not just the full-corpus
    * pass (VERDICT r4 "What's missing" #2 / "Next round" #5). The corpus
    * leg (doc_id % 10 ≠ 0) is signed via [[signatureTables]] — the
    * tables a real pipeline persists once; the batch leg (doc_id % 10
    * = 0) flows through [[incrementalNearDups]], so candidate pairs
    * REQUIRE a batch-side endpoint and corpus-only buckets never
    * enumerate. Daily cost is O(batch), not O(corpus).
    *
    * Oracle: band keys, shingle sets, and Jaccard are pure per-document
    * functions, so the incremental result equals the FULL q64 pair pass
    * restricted to pairs touching ≥1 batch doc — the invariant
    * LLMQueriesSpec asserts, here hash-checked end to end by DuckDB.
    */
  def incrementalNearDupsDaily(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val corpus = d.filter(col("doc_id") % BatchMod =!= 0)
    val batch = d.filter(col("doc_id") % BatchMod === 0)
    val (corpusBands, corpusSets) = signatureTables(corpus)
    incrementalNearDups(corpusBands, corpusSets, batch)
  }

  /** L92/q192: the persisted verified text PAIR-TABLE lifecycle as an
    * ORACLE query — the q186 collapsed-pair move in Jaccard flavor
    * (VERDICT r12 "Next round" #3): a 100 TB pipeline persists every
    * q64-verified pair the night it appears (IndexStore family
    * `text_near_dup_pairs`) and serves the pair graph from the table,
    * so corpus-corpus pairs are verified once, ever — text is the one
    * modality whose replicas are perturbed real near-dups (no exact
    * canonical collapse), so the persisted artifact is the member-level
    * pair set itself. Rendered here by the oracle-rebuild convention
    * (q103/q104): corpus pairs built in-query, unioned with the q96
    * increment; the real daily path reads the persisted table through
    * [[graft.operators.IndexStore.dailyTextPairs]]. Additivity — pure
    * per-doc signatures make corpus-corpus pairs come only from the
    * persisted side and batch-touching pairs only from the increment —
    * means the union EQUALS the full q64 pass over corpus ∪ batch,
    * which is exactly what the oracle hash-checks. */
  def incrementalTextPairsDaily(spark: SparkSession,
      dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    val corpus = d.filter(col("doc_id") % BatchMod =!= 0)
    val batch = d.filter(col("doc_id") % BatchMod === 0)
    val (corpusBands, corpusSets) = signatureTables(corpus)
    minhashPairsOf(corpus)
      .unionByName(incrementalNearDups(corpusBands, corpusSets, batch))
      .orderBy(col("doc_a"), col("doc_b"))
  }


  /** L2: MinHash + LSH banding + exact Jaccard on the surviving candidate
    * pairs only. Signature h_j = min over shingles of a seeded md5 prefix;
    * band key = 2 consecutive signature slots; pairs sharing ≥1 band are
    * candidates; Jaccard is then computed exactly from the shingle sets of
    * those pairs alone.
    *
    * Shape: the shingle SET stays a per-row array column — it is computed
    * from `text` alone, so exploding it to rows and re-aggregating (the
    * previous formulation) bought nothing and cost two corpus-wide
    * explode+groupBy shuffles plus two shingle-ROW join shuffles keyed on
    * (doc_id, shingle-string). Per-row arrays make the signature a narrow
    * projection (array_min over a transform — no aggregation at all), the
    * band self-join the ONLY corpus shuffle (tiny (doc_id, band, key)
    * rows; its two legs collapse to one ReusedExchange), and verification
    * two joins against compact per-doc arrays with `array_intersect` —
    * at sf0.1 both verify joins broadcast (candidate side ≪ corpus); at
    * 100 TB they degrade gracefully to doc_id-keyed shuffles of one array
    * row per doc instead of ~250 shingle rows per doc.
    */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOf(Tables(spark, dir, "documents"))

  private[operators] def minhashPairsOf(docsDf: DataFrame,
      cap: Option[Int] = None): DataFrame = {
    val base = shingledOf(docsDf)
    // the shared-shingle filter inside verifyPairs keeps the exploded
    // formulation's contract (pairs must share ≥1 shingle)
    verifyPairs(minhashCandidatesOf(base, cap), setsOf(base))
  }

  /** MinHash-banded candidate pairs (doc_a < doc_b, distinct) over a
    * [[shingledOf]] frame — the shared candidate-generation stage of
    * q64 (Jaccard verification) and q166 (edit-distance verification).
    * `cap` applies the q191 per-bucket occupancy cap (the admission
    * rule the curve prices — BandCapSpec pins each swept cap's
    * candidate set equal to the curve's admitted set); None = today's
    * exact join, byte-identical plan. */
  private[operators] def minhashCandidatesOf(base: DataFrame,
      cap: Option[Int] = None): DataFrame = {
    // repartition on the join key: both self-join legs then read ONE
    // materialized exchange (ReusedExchange), so the 8-hash signature
    // computation runs once per query instead of once per leg; width
    // AQE-sized (Scale.byKey, round 16)
    val bands0 = graft.Scale.byKey(bandsOf(base), col("band"), col("key"))
    val bands = cap.fold(bands0)(
      graft.multimodal.Multimodal.capBands(bands0, "doc_id", _))

    // Pair generation stays a self-join (not groupBy+collect_list pair
    // expansion): a pathological mega-bucket — e.g. thousands of copies of
    // one boilerplate text — would materialize O(bucket²) pairs inside a
    // single collected row, where the join spreads the same pairs across
    // shuffle partitions (and AQE skew-split can cut the hot bucket).
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Text prefix length and acceptance threshold (millis of 1 − the
    * normalized edit distance) for [[editVerifiedDups]]. */
  private val EditPrefChars = 160
  private val EditSimMilli = 550

  /** L47/q166: edit-distance-VERIFIED near-dups — the verification rung
    * the LSH ladder is usually deployed with: MinHash banding proposes
    * candidate pairs (recall stage), and each candidate is CONFIRMED by
    * true normalized edit similarity 1 − lev/max(len) over a bounded
    * text prefix, rather than by the Jaccard estimate q64 reports.
    * Jaccard is order-blind (bag-of-shingles); edit distance is the
    * sequence-aware measure, so the two stages disagree exactly on
    * reordered/shuffled text — which is why production dedup verifies.
    *
    * Determinism: lev and lengths are exact integers; the similarity is
    * an exact integer floor-division in millis (non-negative, so
    * Spark's truncating `div` equals DuckDB's floor `//`).
    *
    * Scale shape: cost is O(candidate pairs × prefix²) — the prefix cap
    * bounds the per-pair DP at 160², and pairs only exist where banding
    * collided (the q64 contract); the prefix join ships ≤160 chars per
    * doc, never full text. */
  def editVerifiedDups(spark: SparkSession, dir: String): DataFrame =
    editVerifiedDupsOf(Tables(spark, dir, "documents"))

  private[operators] def editVerifiedDupsOf(docsDf: DataFrame): DataFrame = {
    val cands = minhashCandidatesOf(shingledOf(docsDf))
    val prefs = docsDf.select(col("doc_id"),
      expr(s"substring(text, 1, $EditPrefChars)").as("pref"))
    cands
      .join(prefs.select(col("doc_id").as("doc_a"), col("pref").as("pa")),
        Seq("doc_a"))
      .join(prefs.select(col("doc_id").as("doc_b"), col("pref").as("pb")),
        Seq("doc_b"))
      .withColumn("lev", levenshtein(col("pa"), col("pb")).cast("long"))
      // lev ≤ max(len) always, so sim ∈ [0, 1000]; the lit(1) floor
      // guards the empty-vs-empty pair (ANSI div-by-zero)
      .withColumn("glen",
        greatest(length(col("pa")), length(col("pb")), lit(1)).cast("long"))
      .withColumn("sim_milli", expr("((glen - lev) * 1000) div glen"))
      .filter(col("sim_milli") >= EditSimMilli)
      .select(col("doc_a"), col("doc_b"), col("lev"), col("sim_milli"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q125 sample stride and ground-truth Jaccard threshold. */
  val MhSampleMod = 10L
  val MhRecallThreshold = 0.5

  /** L37/q125: MinHash-LSH RECALL gate — the dedup-family mirror of the
    * q110 ANN gate: banded candidate generation is probabilistic (a true
    * near-dup pair missing every band is silently lost forever), so a
    * production dedup pipeline audits banding recall against exact
    * Jaccard ground truth on a deterministic sample. Every doc with
    * doc_id % [[MhSampleMod]] == 0 enters the sample; ground truth is
    * the brute-force pair set at Jaccard ≥ [[MhRecallThreshold]];
    * banding is the UNCHANGED q64 band join restricted to the sample.
    * Reported per Jaccard decile — the LSH S-curve made visible: recall
    * must rise toward 1 as similarity rises, and a banding-parameter
    * regression (fewer bands, wider rows) shows up as a dented decile
    * row in CORRECTNESS, not in a lost-forever pair a year later.
    *
    * Scale shape: the ground truth is EXACT without the (n/mod)²/2
    * brute force — a pair at Jaccard ≥ 0.5 must share ≥ 1 shingle, so
    * the pair set comes from the shingle inverted-index equi-join
    * (O(Σ posting²) over the sample; measured 712 → 22 s CPU at the
    * 10× soak vs the broadcast-nested-loop first cut). The sample
    * stride is the audit-cost knob; the banded leg is the production
    * path at sample scale. */
  def minhashRecall(spark: SparkSession, dir: String): DataFrame =
    minhashRecallOf(Tables(spark, dir, "documents"))

  private[operators] def minhashRecallOf(docsDf: DataFrame): DataFrame = {
    val sample = docsDf.filter(col("doc_id") % MhSampleMod === 0)
    val sh = shingledOf(sample)
      .transform(graft.Materialize.shared) // feeds srows (×2), sizes, bands
    val sets = setsOf(sh)
    val srows = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val inter = srows.as("a")
      .join(srows.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("ni"))
    val exact = inter
      .join(sets.select(col("doc_id").as("doc_a"), col("n_sh").as("na")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")),
        Seq("doc_b"))
      .withColumn("j", round(col("ni").cast("double") /
        (col("na") + col("nb") - col("ni")), 6))
      .filter(col("j") >= MhRecallThreshold)
      .select(col("doc_a"), col("doc_b"),
        expr("cast(floor(j * 10) as bigint)").as("jdecile"))
    val bands = bandsOf(sh)
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    exact.join(cands.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"), "left")
      .groupBy(col("jdecile"))
      .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_hit"))
      .withColumn("recall_micro", expr("n_hit * 1000000L div n_true"))
      .orderBy(col("jdecile"))
  }

  /** L37b/q127: the PRECISION half of the banding audit — q125 measures
    * what banding LOSES (recall of true pairs), this measures what it
    * WASTES: the fraction of banded candidates that survive exact
    * verification at the threshold. Verification cost is proportional
    * to candidates, so a banding-parameter change that floods the
    * verify stage (precision collapse) is a real cluster-cost
    * regression even when recall holds — with both gates in
    * CORRECTNESS, the classic LSH tuning trade (bands↑ ⇒ recall↑,
    * precision↓) is pinned from both sides on the same sample. */
  def minhashPrecision(spark: SparkSession, dir: String): DataFrame =
    minhashPrecisionOf(Tables(spark, dir, "documents"))

  private[operators] def minhashPrecisionOf(docsDf: DataFrame): DataFrame = {
    val sample = docsDf.filter(col("doc_id") % MhSampleMod === 0)
    val base = shingledOf(sample)
      .transform(graft.Materialize.shared) // feeds bands and sets
    val bands = bandsOf(base)
    val cands = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .transform(graft.Materialize.shared) // feeds the count and the verify
    val nVerified = verifyPairs(cands, setsOf(base))
      .filter(col("jaccard") >= MhRecallThreshold)
      .agg(count(lit(1)).as("n_verified"))
    cands.agg(count(lit(1)).as("n_cands"))
      .crossJoin(broadcast(nVerified))
      .withColumn("precision_micro",
        when(col("n_cands") === 0, lit(0L))
          .otherwise(expr("n_verified * 1000000L div n_cands")))
  }

  /** L2 (SimHash): 16-bit signature — bit i is the sign of the vote
    * Σ(±1) over distinct tokens, where a token votes +1 on bit i iff the
    * i-th hex digit of its md5 has its high nibble-bit set (digit ≥ '8').
    *
    * Per-row formulation (same idiom as [[shingledDocs]]): the token
    * hashes bind once via a transform, each bit counts its positive
    * votes with `filter`, and sign(Σ±1) ≥ 0 ⟺ 2·(positive votes) ≥ n.
    * No explode, no token-row shuffle, md5 runs once per token instead
    * of once per (token, bit).
    */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val bits = (1 to 16).map { i =>
      expr(s"if(2 * size(filter(hs, h -> substring(h, $i, 1) >= '8'))" +
        " >= size(hs), '1', '0')")
    }
    docs(spark, dir)
      .select(col("doc_id"), expr(
        "transform(array_distinct(split(text, '\\\\s+')), t -> md5(t))")
        .as("hs"))
      .select(col("doc_id"), concat(bits: _*).as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** Rolling-hash winnowing fingerprint as ONE narrow per-row expression:
    * min seeded-md5 prefix over the 5-word shingles (docs under 5 words
    * fall back to hashing the whole text). The same lambda-bind idiom as
    * [[shingledDocs]] — the word array binds once, so the regex split
    * runs once per document, and there is no explode, no gram-row
    * shuffle, and no aggregation at all (a 10× corpus soak measured the
    * exploded formulation superlinear: 12.5M gram rows through a groupBy
    * vs a pure projection here).
    */
  private val fingerprintExpr = expr(
    "array_min(transform(" +
      "transform(array(split(text, '\\\\s+'))," +
      " w -> if(size(w) >= 5," +
      " transform(sequence(0, size(w)-5)," +
      " i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))," +
      " array(text)))[0]," +
      " g -> substring(md5(g), 1, 12)))")

  /** Rolling-hash document fingerprint (winnowing-lite): the minimum seeded
    * md5 prefix over 5-word shingles is a locality-sensitive fingerprint;
    * docs sharing one are near-dup cluster mates.
    *
    * `cluster_size` comes from a partial-aggregating groupBy + join-back,
    * NOT a fingerprint-partitioned window: a boilerplate fingerprint
    * shared by millions of docs would funnel every copy through ONE
    * window reducer, where the aggregate map-side-combines it and the
    * join-back is AQE-skew-splittable (the q89 segment-keeper argument,
    * backported — VERDICT r4 "What's wrong" #2).
    */
  def docFingerprints(spark: SparkSession, dir: String): DataFrame = {
    // materialized: fps feeds BOTH the sizes aggregate and the join-back
    // leg, and the md5-per-5-gram fingerprint is the query's entire CPU —
    // without the checkpoint each consumer re-evaluates the fingerprint
    // subtree (~2× avoidable CPU; the q96 newBands pattern, VERDICT r5/r6
    // "What's wrong" #2). eager=false so merely CONSTRUCTING the frame
    // (plan audits, .explain) costs nothing — the scan+md5 job runs on
    // first action only (ADVICE r7 #3). Executor-local like
    // connectedComponents' truncation: on a real cluster with executor
    // loss, swap for reliable checkpoint() on a configured checkpoint dir.
    val fps = docs(spark, dir)
      .select(col("doc_id"), fingerprintExpr.as("fingerprint"))
      .transform(graft.Materialize.shared)
    val sizes = fps.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("cluster_size"))
    fps.join(sizes, Seq("fingerprint"))
      .select(col("doc_id"), col("fingerprint"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** L1b: dedup-keep-best — the corpus-curation policy: within each
    * fingerprint cluster (q70's winnowing key) keep the document with the
    * highest quality score (q61's metric), tie-broken by doc_id. The
    * survivors frame is what a training pipeline feeds downstream.
    *
    * Fingerprint and quality are both per-row expressions over the same
    * document row, so the former fps⋈quality self-join is gone — one
    * projection feeds the per-cluster election directly.
    *
    * Election is ONE partial-aggregating groupBy (`max(struct(quality,
    * -doc_id))` ⟺ max quality, min doc_id tie-break), NOT a
    * fingerprint-partitioned `row_number` window — the same hot-key
    * argument as [[docFingerprints]]: a mega-cluster map-side-combines
    * under the aggregate where a window would single-reduce it.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), fingerprintExpr.as("fingerprint"),
        qualityExpr.as("quality"))
      .groupBy(col("fingerprint"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("best"),
        count(lit(1)).as("cluster_size"))
      .select(col("fingerprint"), (-col("best.nid")).as("kept_id"),
        col("best.quality").as("quality"), col("cluster_size"))
      .orderBy(col("kept_id"))

  private def shingleCteOf(where: String) =
    s"""sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      |    THEN list_transform(range(1, len(w)-1),
      |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |    ELSE [] END) AS sh
      |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
      |        FROM documents $where)),
      |srows AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      |sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh)
      |""".stripMargin

  private val shingleCte = shingleCteOf("")

  /** The shingle → signature → band-key CTE prefix (ends in
    * `bands(doc_id, band, key)`) — shared by the pair CTEs below and
    * the q189 band-occupancy oracle so the audited banding is exactly
    * the pair join's. */
  private[operators] def minhashBandCtesOf(where: String): String =
    (s"${shingleCteOf(where)}," +
    s"""sigs AS (
       |  SELECT doc_id,
       |    ${(0 until NumHashes).map(j =>
            s"min(substr(md5('$j:' || s), 1, 16)) AS h$j").mkString(",\n    ")}
       |  FROM srows GROUP BY doc_id),
       |bands AS (
       |  ${(0 until NumHashes / RowsPerBand).map(b =>
            s"SELECT doc_id, $b AS band, h${2 * b} || h${2 * b + 1} AS key FROM sigs")
            .mkString("\n  UNION ALL ")})""".stripMargin)

  /** The full q64 pipeline as composable CTEs ending in `pairs_all`
    * (doc_a, doc_b, n_inter, jaccard) — shared with q77's cluster
    * formation so the two oracles can't drift apart. */
  private[operators] def minhashPairsCtesOf(where: String): String =
    (s"${minhashBandCtesOf(where)}," +
    s"""
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT doc_a, doc_b, count(*) AS n_inter
       |  FROM cands
       |  JOIN srows sa ON sa.doc_id = doc_a
       |  JOIN srows sb ON sb.doc_id = doc_b AND sa.s = sb.s
       |  GROUP BY doc_a, doc_b),
       |pairs_all AS (
       |  SELECT doc_a, doc_b, n_inter,
       |    round(CAST(n_inter AS DOUBLE) /
       |          (za.n_sh + zb.n_sh - n_inter), 6) AS jaccard
       |  FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b)
       |""".stripMargin)

  private[operators] val minhashPairsCtes: String = minhashPairsCtesOf("")

  private val simhashVotes = (1 to 16).map(i =>
    s"sum(CASE WHEN substr(md5(t), $i, 1) >= '8' THEN 1 ELSE -1 END) AS v$i")
    .mkString(",\n    ")
  private val simhashBits = (1 to 16).map(i =>
    s"CASE WHEN v$i >= 0 THEN '1' ELSE '0' END").mkString(" || ")
  /** Oracle SQL of the banding/fingerprint half of this family —
    * merged into [[LLMQueries.oracle]] (pure moves, rounds 13-15). */
  private[operators] def dedupOracle: Map[String, String] = Map(
    // q125: the same shingle/band CTEs restricted to the sample; exact
    // ground truth via brute-force list_intersect over the sample pairs
    "q125_minhash_recall" ->
      (s"WITH ${minhashPairsCtesOf(s"WHERE doc_id % $MhSampleMod = 0")}," +
      s"""inter2 AS (
         |  SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS ni
         |  FROM srows sa JOIN srows sb
         |    ON sa.s = sb.s AND sa.doc_id < sb.doc_id
         |  GROUP BY 1, 2),
         |tp AS (
         |  SELECT doc_a, doc_b, CAST(floor(j * 10) AS BIGINT) AS jdecile
         |  FROM (SELECT doc_a, doc_b,
         |          round(CAST(ni AS DOUBLE) / (za.n_sh + zb.n_sh - ni), 6)
         |            AS j
         |        FROM inter2
         |        JOIN sizes za ON za.doc_id = doc_a
         |        JOIN sizes zb ON zb.doc_id = doc_b)
         |  WHERE j >= $MhRecallThreshold),
         |hits AS (
         |  SELECT jdecile, count(*) AS n_true, count(c.doc_a) AS n_hit
         |  FROM tp LEFT JOIN cands c
         |    ON c.doc_a = tp.doc_a AND c.doc_b = tp.doc_b
         |  GROUP BY jdecile)
         |SELECT jdecile, CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST(n_hit * 1000000 // n_true AS BIGINT) AS recall_micro
         |FROM hits ORDER BY jdecile""".stripMargin),
    // q127: same restricted CTEs; candidates from cands, survivors from
    // pairs_all (shared-shingle contract — a zero-overlap candidate
    // cannot reach the threshold, so counting from pairs_all is exact)
    "q127_minhash_precision" ->
      (s"WITH ${minhashPairsCtesOf(s"WHERE doc_id % $MhSampleMod = 0")}," +
      s"""nc AS (SELECT count(*) AS n_cands FROM cands),
         |nv AS (SELECT count(*) AS n_verified FROM pairs_all
         |       WHERE jaccard >= $MhRecallThreshold)
         |SELECT CAST(n_cands AS BIGINT) AS n_cands,
         |  CAST(n_verified AS BIGINT) AS n_verified,
         |  CAST(CASE WHEN n_cands = 0 THEN 0
         |    ELSE n_verified * 1000000 // n_cands END AS BIGINT)
         |    AS precision_micro
         |FROM nc, nv""".stripMargin),
    // q189: the shared minhash band CTE prefix, the shared occupancy
    // rollup tail — the audited banding IS the q64 pair join's
    "q189_text_band_occupancy" -> graft.multimodal.Multimodal
      .bandOccupancySql(minhashBandCtesOf("")),
    // q191: the q64 pair CTEs (bands + verified pairs_all) with the
    // shared per-bucket rank CTEs and curve tail — truth is exactly
    // the q64 output, so the priced recall is against what capless
    // banding emits today
    "q191_text_band_cap_curve" ->
      (s"WITH ${minhashPairsCtesOf("")}," +
      s"""
         |${graft.multimodal.Multimodal.bandCapRankSql("doc_id")},
         |truth AS (SELECT doc_a AS ida, doc_b AS idb FROM pairs_all),
         |${graft.multimodal.Multimodal.bandCapCurveSqlTail}""".stripMargin),
    "q64_minhash_pairs" -> (s"WITH $minhashPairsCtes " +
      """SELECT doc_a, doc_b, n_inter, jaccard FROM pairs_all
        |ORDER BY doc_a, doc_b""".stripMargin),
    // q192: the compacted pair table must equal the full q64 pass over
    // corpus ∪ batch — the additivity invariant IS the oracle, so the
    // SQL is q64's own pair pipeline verbatim
    "q192_incremental_text_pairs" -> (s"WITH $minhashPairsCtes " +
      """SELECT doc_a, doc_b, n_inter, jaccard FROM pairs_all
        |ORDER BY doc_a, doc_b""".stripMargin),
    // q166 shares q64's banding CTEs but verifies by edit distance over
    // a bounded prefix instead of shingle-set Jaccard
    "q166_edit_verified_dups" -> (s"WITH $minhashPairsCtes, " +
      s"""prefs AS (
         |  SELECT doc_id, substring(text, 1, $EditPrefChars) AS pref
         |  FROM documents),
         |verified AS (
         |  SELECT doc_a, doc_b,
         |    CAST(levenshtein(pa.pref, pb.pref) AS BIGINT) AS lev,
         |    CAST(greatest(len(pa.pref), len(pb.pref), 1) AS BIGINT) AS glen
         |  FROM cands
         |  JOIN prefs pa ON pa.doc_id = doc_a
         |  JOIN prefs pb ON pb.doc_id = doc_b)
         |SELECT doc_a, doc_b, lev,
         |  ((glen - lev) * 1000) // glen AS sim_milli
         |FROM verified
         |WHERE ((glen - lev) * 1000) // glen >= $EditSimMilli
         |ORDER BY doc_a, doc_b""".stripMargin),
    // the incremental pass = the full pair pass restricted to pairs with
    // ≥1 batch-side endpoint (signatures are per-document functions)
    "q96_incremental_near_dups" -> (s"WITH $minhashPairsCtes " +
      s"""SELECT doc_a, doc_b, n_inter, jaccard FROM pairs_all
         |WHERE doc_a % $BatchMod = 0 OR doc_b % $BatchMod = 0
         |ORDER BY doc_a, doc_b""".stripMargin),
    "q71_dedup_keep_best" ->
      """WITH grams AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 5
        |    THEN list_transform(range(1, len(w)-3),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
        |           w[i+3] || ' ' || w[i+4])
        |    ELSE [text] END) AS g
        |  FROM (SELECT doc_id, text, string_split_regex(text, '\s+') AS w
        |        FROM documents)),
        |fps AS (
        |  SELECT doc_id, min(substr(md5(g), 1, 12)) AS fingerprint
        |  FROM grams GROUP BY doc_id),
        |quality AS (
        |  SELECT doc_id,
        |    round(least(1.0, CAST(len(w) AS DOUBLE) / 120.0) *
        |          (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)), 6)
        |      AS quality
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS w
        |        FROM documents)),
        |ranked AS (
        |  SELECT fingerprint, doc_id, quality,
        |    row_number() OVER (PARTITION BY fingerprint
        |      ORDER BY quality DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY fingerprint) AS cluster_size
        |  FROM fps JOIN quality USING (doc_id))
        |SELECT fingerprint, doc_id AS kept_id, quality, cluster_size
        |FROM ranked WHERE rn = 1 ORDER BY kept_id""".stripMargin,
    "q66_simhash_signatures" ->
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    unnest(list_distinct(string_split_regex(text, '\\s+'))) AS t
         |  FROM documents),
         |votes AS (
         |  SELECT doc_id,
         |    $simhashVotes
         |  FROM toks GROUP BY doc_id)
         |SELECT doc_id, $simhashBits AS simhash
         |FROM votes ORDER BY doc_id""".stripMargin,
    "q70_doc_fingerprints" ->
      """WITH grams AS (
        |  SELECT doc_id, unnest(CASE WHEN len(w) >= 5
        |    THEN list_transform(range(1, len(w)-3),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
        |           w[i+3] || ' ' || w[i+4])
        |    ELSE [text] END) AS g
        |  FROM (SELECT doc_id, text, string_split_regex(text, '\s+') AS w
        |        FROM documents)),
        |fps AS (
        |  SELECT doc_id, min(substr(md5(g), 1, 12)) AS fingerprint
        |  FROM grams GROUP BY doc_id)
        |SELECT doc_id, fingerprint,
        |  count(*) OVER (PARTITION BY fingerprint) AS cluster_size
        |FROM fps ORDER BY doc_id""".stripMargin)
}
