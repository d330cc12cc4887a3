package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SEGMENT / SUBSTRING dedup + rewrite family (L22/L23/L30/L47/L57):
  * segment-level dedup and its incremental leg, boilerplate removal,
  * cross-doc duplicated-span stats/removal over the winnowing window
  * index, and the incremental substring/novelty reports —
  * q89/q98/q114/q119/q120/q156/q158.
  *
  * Split out of CurationClusters by family (round 15, pure moves — the
  * CurationQueries recipe): members stay reachable through the hub's
  * self-type; shared exprs (segArrExpr, winsExpr) remain on the hub.
  */
private[operators] trait CurationSubstrings {
  this: CurationQueries.type =>

  /** (doc_id, n_segs, pos, seg) — one row per segment occurrence. */
  private[operators] def segRows(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), segArrExpr.as("sl"))
      .select(col("doc_id"), size(col("sl")).cast("long").as("n_segs"),
        posexplode(col("sl")))
      .toDF("doc_id", "n_segs", "pos", "seg")

  /** Reassemble docs from their surviving segment occurrences: count +
    * in-order concat via conditional aggregation, so docs whose EVERY
    * segment is a duplicate survive with empty text. */
  private[operators] def reassemble(marked: DataFrame): DataFrame =
    marked
      .groupBy(col("doc_id"))
      .agg(first(col("n_segs")).as("n_segs"),
        count(when(col("kept"), 1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN kept THEN" +
            " struct(pos, seg) END)), s -> s.seg)")).as("cleaned_text"))
      .orderBy(col("doc_id"))

  def segmentDedupDocs(docsDf: DataFrame): DataFrame = {
    val segs = segRows(docsDf)
    val keepers = segs.groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("kp"))
    reassemble(segs.join(keepers, Seq("seg"))
      .withColumn("kept",
        col("doc_id") === col("kp.doc_id") && col("pos") === col("kp.pos")))
  }

  /** The persisted corpus segment index for [[incrementalSegmentDedup]]:
    * one row per distinct segment seen in the corpus. Presence is all the
    * incremental pass needs (corpus keepers beat any batch occurrence),
    * so the index is a single string column — compact to store and to
    * anti-join against. */
  def segmentIndex(docsDf: DataFrame): DataFrame =
    segRows(docsDf).select(col("seg")).distinct()

  /** Incremental segment dedup: clean an incoming batch against a
    * persisted corpus segment index WITHOUT re-reading corpus text —
    * same daily-ingest contract as [[graft.operators.LLMQueries
    * .incrementalExactDedup]]/incrementalNearDups, completing the
    * incremental family at sub-document granularity. A batch segment
    * occurrence survives iff its segment is absent from the corpus
    * index AND it is the batch-wide first occurrence. Equals the full
    * pass restricted to the batch whenever batch doc_ids sort after
    * corpus doc_ids (the append-only id discipline the other
    * incremental operators already assume); the invariant is asserted
    * in CurationQueriesSpec. Daily cost: O(batch) segment rows through
    * one aggregate plus one seg-keyed join against the index.
    */
  def incrementalSegmentDedup(corpusSegs: DataFrame,
      newDocs: DataFrame): DataFrame = {
    val segs = segRows(newDocs)
    val batchKeepers = segs.groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("kp"))
    reassemble(segs
      .join(batchKeepers, Seq("seg"))
      .join(corpusSegs.select(col("seg"), lit(true).as("known")),
        Seq("seg"), "left")
      .withColumn("kept",
        col("known").isNull &&
          col("doc_id") === col("kp.doc_id") && col("pos") === col("kp.pos")))
  }

  def segmentDedup(spark: SparkSession, dir: String): DataFrame =
    segmentDedupDocs(docs(spark, dir))

  /** L32: per-source BOILERPLATE removal — the CCNet/jusText cleaning
    * pass, distinct from q89's dedup in both criterion and effect:
    * dedup keeps the corpus-wide FIRST copy of any repeated segment,
    * while boilerplate removal targets segments frequent WITHIN ONE
    * SOURCE (nav bars, cookie banners, site footers — document-frequency
    * ≥ [[BoilerplateMinDocs]] in that source) and cuts them from EVERY
    * member document: a site's footer should survive in zero documents,
    * not one. Source-scoping is what keeps a phrase that is merely
    * common across the whole web from being treated as template markup.
    *
    * Scale shape: the (source, seg) document-frequency comes from one
    * partial-aggregating two-phase count-distinct — a hot footer
    * collapses map-side per task instead of funnelling through a
    * window reducer; the boilerplate set (DF-filtered) is far smaller
    * than the segment universe and the join back on (source, seg) is
    * AQE-skew-splittable; reassembly is q89's conditional aggregation,
    * so an all-boilerplate doc survives with empty text. Shuffles carry
    * ids and [[SegWords]]-word segments, never documents. */
  def boilerplateRemoveDocs(docsDf: DataFrame): DataFrame = {
    // source rides through the explode — no join back to the docs table
    val segs = docsDf
      .select(col("doc_id"), col("source"), segArrExpr.as("sl"))
      .select(col("doc_id"), col("source"),
        size(col("sl")).cast("long").as("n_segs"), posexplode(col("sl")))
      .toDF("doc_id", "source", "n_segs", "pos", "seg")
    val bp = segs.groupBy(col("source"), col("seg"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= BoilerplateMinDocs)
      .select(col("source"), col("seg"), lit(true).as("bp"))
    reassemble(segs.join(bp, Seq("source", "seg"), "left")
      .withColumn("kept", col("bp").isNull))
  }

  def boilerplateRemove(spark: SparkSession, dir: String): DataFrame =
    boilerplateRemoveDocs(docs(spark, dir))

  /** (doc_id, w) — one row per [[winsExpr]] window occurrence; shared
    * by q114's stats, the q156 incremental report and q158 novelty. */
  private[operators] def winRows(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), posexplode(winsExpr))
      .select(col("doc_id"), col("col").as("w"))

  /** L15b: cross-document exact-SUBSTRING duplication stats — the
    * sliding-window flavor of dedup (public precedent: "Deduplicating
    * Training Data Makes Language Models Better", Lee et al. 2022,
    * which dedups on ≥k-token substrings): q89's consecutive segments
    * miss a duplicated passage that straddles a segment boundary, while
    * EVERY [[DupWinWords]]-word window of a copied passage matches here
    * regardless of alignment. Reported per document: window count,
    * windows whose exact text recurs in ≥2 distinct documents, and the
    * duplicated fraction in integer micro-units — the statistic a
    * curation pass thresholds on.
    *
    * Scale shape: the window explode is the corpus × ~words/doc row
    * stream every substring dedup pays; duplicated grams come from ONE
    * partial-aggregating `groupBy(w)` (map-side combined — a hot
    * boilerplate gram collapses per task, the q89 keeper argument), and
    * the join back is gram-keyed and AQE-skew-splittable. Short docs
    * (< window) surface with zero windows via the left join from the
    * documents table, not a post-hoc union. */
  def substringDupStatsDocs(docsDf: DataFrame): DataFrame = {
    val wins = winRows(docsDf)
    val dupGrams = wins.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("w"))
    val perDoc = wins
      .join(dupGrams.withColumn("dup", lit(1)), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_win"),
        count(col("dup")).as("n_dup"))
    docsDf.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_win"), lit(0L)).as("n_win"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_micro",
        when(col("n_win") === 0, lit(0L))
          .otherwise(expr("n_dup * 1000000L div n_win")))
      .orderBy(col("doc_id"))
  }

  /** L15c: cross-document duplicated-SPAN removal — the second half of
    * Lee et al. 2022's substring dedup: q114 measures duplication,
    * this operator REWRITES the corpus with every duplicated span cut
    * out. A word position is covered iff any [[DupWinWords]]-window
    * containing it recurs verbatim in ≥ 2 distinct documents; the
    * cleaned document keeps exactly its uncovered words, in order
    * (so a passage pasted into two documents disappears from both —
    * the symmetric variant; keep-first needs only q89's min-struct
    * keeper added to the dup-gram aggregate).
    *
    * Scale shape: the gram aggregate is q114's (partial-aggregated,
    * hot grams collapse map-side); coverage fans each duplicated
    * window into [[DupWinWords]] slim (doc_id, wp) rows — O(dup
    * windows), not O(corpus windows); reassembly is q89's conditional
    * aggregation over the word explode. Everything shuffles ids and
    * single words, never documents.
    */
  def substringDupRemoveDocs(docsDf: DataFrame): DataFrame = {
    val words = docsDf
      .select(col("doc_id"), split(col("text"), "\\s+").as("wa"))
    val wins = words.filter(size(col("wa")) >= DupWinWords)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(wa) - $DupWinWords)," +
          s" i -> concat_ws(' ', slice(wa, i + 1, $DupWinWords)))")))
      .select(col("doc_id"), col("pos"), col("col").as("w"))
    val dupGrams = wins.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("w"))
    val covered = wins.join(dupGrams, Seq("w"))
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${DupWinWords - 1})")).as("wp"))
      .distinct()
    words
      .select(col("doc_id"), posexplode(col("wa")).as(Seq("wp", "word")))
      .join(covered.withColumn("cov", lit(1)), Seq("doc_id", "wp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        count(col("cov")).as("n_removed"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN cov IS NULL THEN" +
            " struct(wp, word) END)), s -> s.word)")).as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  def substringDupRemove(spark: SparkSession, dir: String): DataFrame =
    substringDupRemoveDocs(docs(spark, dir))

  def substringDupStats(spark: SparkSession, dir: String): DataFrame =
    substringDupStatsDocs(docs(spark, dir))

  /** The corpus substring-window index (IndexStore family
    * `substr_windows`): one (window md5, distinct-corpus-doc count)
    * row per known window — 16+8 bytes/row, window text never
    * persists. */
  def substrWindowIndex(corpusDocs: DataFrame): DataFrame =
    substrWindowIndexFrom(docWindows(corpusDocs))

  /** [[substrWindowIndex]] over a precomputed [[docWindows]] frame. */
  def substrWindowIndexFrom(windows: DataFrame): DataFrame =
    windows.groupBy(col("wh"))
      .agg(countDistinct(col("doc_id")).as("nd"))

  /** The (doc_id, wh) window rows of a document frame — the ONE
    * window-explode pass a daily run needs: both reports and the index
    * persistence consume it ([[DailyIngest]] computes it once per day,
    * checkpointed; it was being paid three times, and the window
    * explode dominates the batch-side index persistence in `Soak ingest`'s
    * delta-write leg). */
  def docWindows(docsDf: DataFrame): DataFrame =
    winRows(docsDf).select(col("doc_id"), md5(col("w")).as("wh"))

  /** L59/q156: incremental SUBSTRING-DUP report — the daily-ingest
    * rendering of the one dedup family whose full pass (q119) must
    * rewrite CORPUS docs too: a batch window colliding with a single
    * corpus doc makes BOTH newly duplicated. The daily report
    * therefore splits each batch doc's duplicated windows into KNOWN
    * (corpus-side count already ≥ 2 — the corpus rewrite covers them)
    * and NEWLY duplicated (the batch's arrival created the collision —
    * these flag corpus docs for the next q119 re-clean). n_known +
    * n_newly equals the full q114 count over (corpus ∪ batch)
    * restricted to batch docs, which is what the oracle checks.
    * Daily cost: O(batch windows) against the persisted index. */
  /** Per-wh corpus totals restricted to the windows the batch touches —
    * the only rows either report reads. Accepts BOTH index layouts: a
    * compacted snapshot (one row per wh) and the DELTA layout (one
    * partial (wh, nd) row per generation — [[DailyIngest.runDelta]]);
    * the aggregation runs AFTER the batch-bounded semi-join, so totals
    * cost O(batch windows), never a corpus-wide shuffle. Corpus and
    * batch doc ids are disjoint, so partial distinct-doc counts ADD. */
  private[operators] def touchedWins(corpusWins: DataFrame,
      batchWins: DataFrame): DataFrame =
    // no broadcast hint: batch windows range from thousands (sf0.001)
    // to millions (soak) of md5 keys — AQE broadcasts when they fit
    // and falls back to the same shuffle the pre-delta report paid
    corpusWins
      .join(batchWins.select(col("wh")).distinct(), Seq("wh"), "left_semi")
      .groupBy(col("wh")).agg(sum(col("nd")).as("nd"))

  def incrementalSubstringReport(corpusWins: DataFrame,
      newDocs: DataFrame): DataFrame =
    incrementalSubstringReportFrom(corpusWins, newDocs,
      // feeds the batch-side distinct count AND the per-doc rollup —
      // different subplans, so exchange reuse can't dedupe the explode
      docWindows(newDocs).transform(graft.Materialize.shared))

  /** [[incrementalSubstringReport]] over a precomputed (reusable)
    * [[docWindows]] frame of the batch. */
  def incrementalSubstringReportFrom(corpusWins: DataFrame,
      newDocs: DataFrame, batchWins: DataFrame): DataFrame = {
    val bw = batchWins
    val bnd = bw.groupBy(col("wh"))
      .agg(countDistinct(col("doc_id")).as("bnd"))
    val status = bnd.join(touchedWins(corpusWins, bw), Seq("wh"), "left")
      .select(col("wh"), coalesce(col("nd"), lit(0L)).as("cnd"),
        col("bnd"))
      .withColumn("known", col("cnd") >= 2)
      .withColumn("newly", !(col("cnd") >= 2) && col("cnd") + col("bnd") >= 2)
    val perDoc = bw.join(status, Seq("wh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_win"),
        count(when(col("known"), 1)).as("n_known_dup"),
        count(when(col("newly"), 1)).as("n_newly_dup"))
    newDocs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_win"), lit(0L)).as("n_win"),
        coalesce(col("n_known_dup"), lit(0L)).as("n_known_dup"),
        coalesce(col("n_newly_dup"), lit(0L)).as("n_newly_dup"))
      .withColumn("dup_micro",
        when(col("n_win") === 0, lit(0L)).otherwise(
          expr("(n_known_dup + n_newly_dup) * 1000000L div n_win")))
      .orderBy(col("doc_id"))
  }

  /** q156 as an oracle query: corpus index built in-query, batch
    * (doc_id ≡ 0 mod 10) reported against it. */
  def incrementalSubstringReportDaily(spark: SparkSession,
      dir: String): DataFrame = {
    val d = docs(spark, dir)
    incrementalSubstringReport(
      substrWindowIndex(d.filter(col("doc_id") % 10 =!= 0)),
      d.filter(col("doc_id") % 10 === 0))
  }

  /** L60/q158: n-gram NOVELTY scoring — the data-selection measure
    * dual to q156's dup report: per batch doc, how many of its DISTINCT
    * [[DupWinWords]]-word windows the corpus has never seen. Dedup asks
    * "is this a copy?"; novelty asks "does this add anything?" — a doc
    * whose windows are all corpus-known carries no new n-gram content
    * even if no single source document duplicates it (stitched/spun
    * pages), while high-novelty docs are the ones worth ingest priority
    * when the token budget (q146) is tight. A second consumer of the
    * SAME persisted `substr_windows` index (presence is the signal; the
    * count rides along for q156): one index, two reports, zero extra
    * corpus passes.
    *
    * Convention: windows are counted DISTINCT per doc (novelty is about
    * vocabulary coverage, not repetition — q78 owns repetition); a doc
    * too short for any window is fully novel (1e6 micro) — the corpus
    * has seen none of it. Daily cost: O(batch windows) against the
    * index. */
  def noveltyReport(corpusWins: DataFrame,
      newDocs: DataFrame): DataFrame =
    noveltyReportFrom(corpusWins, newDocs, docWindows(newDocs))

  /** [[noveltyReport]] over a precomputed [[docWindows]] frame of the
    * batch (novelty distincts it — coverage, not repetition). */
  def noveltyReportFrom(corpusWins: DataFrame, newDocs: DataFrame,
      batchWins: DataFrame): DataFrame = {
    val bw = batchWins
      .distinct()
      .transform(graft.Materialize.shared) // feeds the semi-join AND perDoc
    val perDoc = bw
      .join(touchedWins(corpusWins, bw)
          .select(col("wh"), lit(true).as("seen")),
        Seq("wh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_win"),
        count(when(col("seen"), 1)).as("n_seen"))
    newDocs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_win"), lit(0L)).as("n_win"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .withColumn("novelty_micro",
        when(col("n_win") === 0, lit(1000000L)).otherwise(
          expr("(n_win - n_seen) * 1000000L div n_win")))
      .orderBy(col("doc_id"))
  }

  /** q158 as an oracle query: same corpus/batch split as q156. */
  def noveltyReportDaily(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    noveltyReport(
      substrWindowIndex(d.filter(col("doc_id") % 10 =!= 0)),
      d.filter(col("doc_id") % 10 === 0))
  }

  /** q98: the daily-ingest segment-dedup flow as an ORACLE query — the
    * corpus/batch residue split the q96/q97 incremental family uses
    * (doc_id % 10 = 0 is today's batch). The corpus leg persists only
    * its [[segmentIndex]] (one row per distinct segment string); the
    * batch leg flows through [[incrementalSegmentDedup]]. The oracle
    * expresses the incremental semantics directly: a batch occurrence
    * is kept iff it is the batch-wide first occurrence AND its segment
    * is absent from the corpus index — corpus keepers beat any batch
    * occurrence regardless of id order, which is why this is NOT the
    * full q89 pass restricted to the batch.
    */
  def incrementalSegmentDedupDaily(spark: SparkSession,
      dir: String): DataFrame = {
    val d = docs(spark, dir)
    incrementalSegmentDedup(
      segmentIndex(d.filter(col("doc_id") % 10 =!= 0)),
      d.filter(col("doc_id") % 10 === 0))
  }

  /** Oracle SQL of this family — merged into
    * [[CurationQueries.oracleMain]] (pure move, round 15). */
  private[operators] def substringsOracleMain: Map[String, String] = Map(
    "q114_substring_dup_stats" ->
      s"""WITH wins AS (
         |  SELECT doc_id, unnest(CASE WHEN len(wa) >= $DupWinWords
         |    THEN list_transform(range(0, len(wa) - $DupWinWords + 1),
         |      i -> array_to_string(
         |        list_slice(wa, i + 1, i + $DupWinWords), ' '))
         |    ELSE []::VARCHAR[] END) AS w
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS wa
         |        FROM documents)),
         |dup AS (
         |  SELECT w FROM (
         |    SELECT w, count(DISTINCT doc_id) AS nd FROM wins GROUP BY w)
         |  WHERE nd >= 2),
         |per AS (
         |  SELECT wins.doc_id, count(*) AS n_win,
         |    sum(CASE WHEN d.w IS NULL THEN 0 ELSE 1 END) AS n_dup
         |  FROM wins LEFT JOIN dup d ON wins.w = d.w
         |  GROUP BY wins.doc_id)
         |SELECT doc_id, CAST(coalesce(n_win, 0) AS BIGINT) AS n_win,
         |  CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup,
         |  CAST(CASE WHEN coalesce(n_win, 0) = 0 THEN 0
         |    ELSE coalesce(n_dup, 0) * 1000000 // n_win END AS BIGINT)
         |    AS dup_micro
         |FROM documents LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q89_segment_dedup" ->
      s"""WITH segarr AS (
         |  SELECT doc_id, list_transform(
         |    range(0, CAST(ceil(len(w) / ${SegWords}.0) AS INT)),
         |    i -> {'pos': i, 'seg': array_to_string(
         |      list_slice(w, i*$SegWords + 1, i*$SegWords + $SegWords), ' ')}) AS sl
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
         |        FROM documents)),
         |segs AS (SELECT doc_id, len(sl) AS n_segs,
         |         unnest(sl, recursive := true) FROM segarr),
         |ranked AS (
         |  SELECT doc_id, n_segs, pos, seg,
         |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
         |  FROM segs)
         |SELECT doc_id, CAST(any_value(n_segs) AS BIGINT) AS n_segs,
         |  CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_kept,
         |  coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (rn = 1), '')
         |    AS cleaned_text
         |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // incremental semantics direct: batch-first occurrence AND segment
    // unseen in the corpus index (left join, null = unseen)
    "q98_incremental_segment_dedup" ->
      s"""WITH segarr AS (
         |  SELECT doc_id, list_transform(
         |    range(0, CAST(ceil(len(w) / ${SegWords}.0) AS INT)),
         |    i -> {'pos': i, 'seg': array_to_string(
         |      list_slice(w, i*$SegWords + 1, i*$SegWords + $SegWords), ' ')}) AS sl
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w
         |        FROM documents)),
         |segs AS (SELECT doc_id, len(sl) AS n_segs,
         |         unnest(sl, recursive := true) FROM segarr),
         |corpus AS (SELECT DISTINCT seg FROM segs WHERE doc_id % 10 <> 0),
         |ranked AS (
         |  SELECT doc_id, n_segs, pos, seg,
         |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
         |  FROM segs WHERE doc_id % 10 = 0),
         |marked AS (
         |  SELECT r.doc_id, r.n_segs, r.pos, r.seg,
         |    (r.rn = 1 AND c.seg IS NULL) AS kept
         |  FROM ranked r LEFT JOIN corpus c ON r.seg = c.seg)
         |SELECT doc_id, CAST(any_value(n_segs) AS BIGINT) AS n_segs,
         |  CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
         |  coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (kept), '')
         |    AS cleaned_text
         |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q156: the q114 window CTE split corpus/total; known = corpus-side
    // count ≥ 2, newly = batch arrival completed the collision
    "q156_incremental_substring_report" ->
      s"""WITH wins AS (
         |  SELECT doc_id, unnest(CASE WHEN len(wa) >= $DupWinWords
         |    THEN list_transform(range(0, len(wa) - $DupWinWords + 1),
         |      i -> array_to_string(
         |        list_slice(wa, i + 1, i + $DupWinWords), ' '))
         |    ELSE []::VARCHAR[] END) AS w
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS wa
         |        FROM documents)),
         |cnd AS (SELECT w, count(DISTINCT doc_id) AS cnd FROM wins
         |        WHERE doc_id % 10 <> 0 GROUP BY w),
         |tnd AS (SELECT w, count(DISTINCT doc_id) AS tnd FROM wins
         |        GROUP BY w),
         |st AS (SELECT tnd.w, coalesce(cnd.cnd, 0) AS cnd, tnd
         |       FROM tnd LEFT JOIN cnd ON tnd.w = cnd.w),
         |per AS (
         |  SELECT wins.doc_id, count(*) AS n_win,
         |    sum(CASE WHEN st.cnd >= 2 THEN 1 ELSE 0 END) AS nk,
         |    sum(CASE WHEN st.cnd < 2 AND st.tnd >= 2 THEN 1 ELSE 0 END)
         |      AS nn
         |  FROM wins JOIN st ON wins.w = st.w
         |  WHERE wins.doc_id % 10 = 0
         |  GROUP BY wins.doc_id)
         |SELECT doc_id, CAST(coalesce(n_win, 0) AS BIGINT) AS n_win,
         |  CAST(coalesce(nk, 0) AS BIGINT) AS n_known_dup,
         |  CAST(coalesce(nn, 0) AS BIGINT) AS n_newly_dup,
         |  CAST(CASE WHEN coalesce(n_win, 0) = 0 THEN 0
         |    ELSE (coalesce(nk, 0) + coalesce(nn, 0)) * 1000000 // n_win
         |    END AS BIGINT) AS dup_micro
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) b
         |LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // q158: distinct batch windows probed against the corpus-side
    // distinct window set; zero-window docs are fully novel
    "q158_novelty_report" ->
      s"""WITH wins AS (
         |  SELECT doc_id, unnest(CASE WHEN len(wa) >= $DupWinWords
         |    THEN list_transform(range(0, len(wa) - $DupWinWords + 1),
         |      i -> array_to_string(
         |        list_slice(wa, i + 1, i + $DupWinWords), ' '))
         |    ELSE []::VARCHAR[] END) AS w
         |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS wa
         |        FROM documents)),
         |cw AS (SELECT DISTINCT w FROM wins WHERE doc_id % 10 <> 0),
         |bw AS (SELECT DISTINCT doc_id, w FROM wins
         |       WHERE doc_id % 10 = 0),
         |per AS (
         |  SELECT bw.doc_id, count(*) AS n_win,
         |    sum(CASE WHEN cw.w IS NOT NULL THEN 1 ELSE 0 END) AS n_seen
         |  FROM bw LEFT JOIN cw ON bw.w = cw.w
         |  GROUP BY bw.doc_id)
         |SELECT doc_id, CAST(coalesce(n_win, 0) AS BIGINT) AS n_win,
         |  CAST(coalesce(n_seen, 0) AS BIGINT) AS n_seen,
         |  CAST(CASE WHEN coalesce(n_win, 0) = 0 THEN 1000000
         |    ELSE (n_win - n_seen) * 1000000 // n_win
         |    END AS BIGINT) AS novelty_micro
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) b
         |LEFT JOIN per USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "q119_substring_dup_remove" ->
      s"""WITH wa AS (
         |  SELECT doc_id, string_split_regex(text, '\\s+') AS w
         |  FROM documents),
         |wins AS (
         |  SELECT doc_id, i AS pos,
         |    array_to_string(list_slice(w, i + 1, i + $DupWinWords), ' ')
         |      AS g
         |  FROM wa, LATERAL unnest(range(0, len(w) - $DupWinWords + 1))
         |    AS t(i)
         |  WHERE len(w) >= $DupWinWords),
         |dup AS (
         |  SELECT g FROM (
         |    SELECT g, count(DISTINCT doc_id) AS nd FROM wins GROUP BY g)
         |  WHERE nd >= 2),
         |cov AS (
         |  SELECT DISTINCT doc_id, pos + j AS wp
         |  FROM wins JOIN dup USING (g),
         |    LATERAL unnest(range(0, $DupWinWords)) AS u(j)),
         |wordpos AS (
         |  SELECT doc_id, i AS wp, w[i + 1] AS word
         |  FROM wa, LATERAL unnest(range(0, len(w))) AS t(i)),
         |m AS (
         |  SELECT wordpos.doc_id, wordpos.wp, word,
         |    cov.wp IS NOT NULL AS covered
         |  FROM wordpos LEFT JOIN cov
         |    ON cov.doc_id = wordpos.doc_id AND cov.wp = wordpos.wp)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(count(*) FILTER (covered) AS BIGINT) AS n_removed,
         |  coalesce(string_agg(word, ' ' ORDER BY wp) FILTER (NOT covered),
         |    '') AS cleaned_text
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q120: q89's segment CTEs with the source riding along; the
    // boilerplate set is the DF-thresholded (source, seg) pairs and the
    // cut applies to EVERY occurrence (no keeper rank)
    "q120_boilerplate_remove" ->
      s"""WITH segarr AS (
         |  SELECT doc_id, source, list_transform(
         |    range(0, CAST(ceil(len(w) / ${SegWords}.0) AS INT)),
         |    i -> {'pos': i, 'seg': array_to_string(
         |      list_slice(w, i*$SegWords + 1, i*$SegWords + $SegWords), ' ')}) AS sl
         |  FROM (SELECT doc_id, source, string_split_regex(text, '\\s+') AS w
         |        FROM documents)),
         |segs AS (SELECT doc_id, source, len(sl) AS n_segs,
         |         unnest(sl, recursive := true) FROM segarr),
         |bp AS (
         |  SELECT source, seg FROM (
         |    SELECT source, seg, count(DISTINCT doc_id) AS nd
         |    FROM segs GROUP BY source, seg)
         |  WHERE nd >= $BoilerplateMinDocs),
         |marked AS (
         |  SELECT s.doc_id, s.n_segs, s.pos, s.seg, bp.seg IS NULL AS kept
         |  FROM segs s LEFT JOIN bp
         |    ON s.source = bp.source AND s.seg = bp.seg)
         |SELECT doc_id, CAST(any_value(n_segs) AS BIGINT) AS n_segs,
         |  CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
         |  coalesce(string_agg(seg, ' ' ORDER BY pos) FILTER (kept), '')
         |    AS cleaned_text
         |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
