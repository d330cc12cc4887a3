package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming renderings of the engine's incremental semantics
  * (SURVEY.md §2.10). The batch queries in
  * [[graft.operators.EventQueries]] share these exact DAG shapes — the
  * point of building batch-first on DataFrames is that `readStream` swaps
  * in without touching the transforms.
  *
  * Every operator takes the (streaming or batch) Dataset as input; tests
  * drive them with MemoryStream, production would bind
  * `spark.readStream.schema(...).parquet(...)` or a message-bus source.
  *
  * Scale posture: all state is keyed (user_id / event_id / window), so it
  * shards across executors with the shuffle; watermarks bound state size —
  * without one, streaming dedup and windowed aggs grow without limit.
  */
object StreamingOps {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionState(start: Timestamp, last: Timestamp, n: Long)

  case class SessionSummary(user_id: Long, start: Timestamp, end: Timestamp,
      n_events: Long)

  val SessionGapMs: Long = 30 * 60 * 1000L

  /** T1+T4 streaming: watermarked tumbling-window counts per event type.
    * Append mode emits a window only once the watermark passes its end —
    * the late-data policy the spec's "wait for the next polling cycle"
    * implies (/root/reference/README.md:110).
    */
  def tumblingCounts(events: Dataset[Event]): DataFrame =
    events.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** L1 streaming: watermarked exact dedup by event_id — state is bounded
    * by the watermark horizon instead of growing forever.
    */
  def dedupByEventId(events: Dataset[Event]): Dataset[Event] =
    events.withWatermark("ts", "1 hour")
      .dropDuplicates(Seq("event_id", "ts"))

  /** T3+T5 streaming: session windows via flatMapGroupsWithState — the
    * custom-state surface. Sessions close when a later event arrives more
    * than [[SessionGapMs]] after the last one; closed sessions are emitted
    * downstream, open ones stay in state. Batch twin:
    * [[graft.operators.EventQueries.userSessions]] (gaps-and-islands).
    */
  /** Shared session fold — a gap-aware INTERVAL MERGE of the batch's
    * events with the prior session interval, so it reproduces exactly
    * what the batch twin's gaps-and-islands pass
    * ([[graft.operators.EventQueries.userSessions]]) would compute over
    * the observed events:
    *  - a late in-gap event (within the gap of the stored interval)
    *    extends the count and may pull `start` back but never regresses
    *    `last` (otherwise a delayed event would shrink the gap horizon
    *    and fire timeouts early);
    *  - a late event more than the gap BEFORE the stored `start` forms
    *    its own earlier island and closes, instead of silently fusing
    *    with the current session across a silent gap;
    *  - two islands both within the gap of the stored interval bridge
    *    through it into one session.
    * Every island except the newest closes; the newest stays in state. */
  private def foldSessions(user: Long, batch: Iterator[Event],
      prior: Option[SessionState])
      : (Seq[SessionSummary], Option[SessionState]) = {
    // items = prior interval + batch events as point intervals, merged
    // in start order with the gap rule
    val items: Seq[SessionState] =
      (prior.toSeq ++ batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        .map(e => SessionState(e.ts, e.ts, 1L)))
        .sortBy(s => (s.start.getTime, s.last.getTime))
    var islands = List.empty[SessionState]
    items.foreach { s =>
      islands match {
        case head :: tail if s.start.getTime - head.last.getTime <= SessionGapMs =>
          val last = if (s.last.getTime > head.last.getTime) s.last else head.last
          islands = SessionState(head.start, last, head.n + s.n) :: tail
        case _ =>
          islands = s :: islands
      }
    }
    val newestFirst = islands
    val closed = newestFirst.drop(1).reverse
      .map(s => SessionSummary(user, s.start, s.last, s.n))
    (closed, newestFirst.headOption)
  }

  def sessionize(events: Dataset[Event]): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val (closed, cur) = foldSessions(user, batch, state.getOption)
          cur.foreach(state.update)
          closed.iterator
      }
  }

  /** [[sessionize]] with event-time timeout: an idle session also closes
    * when the WATERMARK passes its last event + the gap — without this a
    * user who stops sending events leaves a session open (and its state
    * resident) forever, which on an unbounded stream is a state leak.
    * Requires `withWatermark("ts", ...)` upstream; the timeout fires on
    * watermark advance, so closure is deterministic in event time, not
    * wall clock.
    */
  def sessionizeWithTimeout(events: Dataset[Event]): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed last + gap with no new events: close out
            val s = state.get
            state.remove()
            Iterator.single(SessionSummary(user, s.start, s.last, s.n))
          } else {
            val (closed, cur) = foldSessions(user, batch, state.getOption)
            // A late in-gap event can leave the folded session already
            // PAST-DUE (last + gap <= watermark, because `last` correctly
            // never regresses): Spark rejects a timeout timestamp at or
            // before the watermark with an IllegalArgumentException, so a
            // past-due session closes NOW instead of re-arming — same
            // outcome the timeout branch would have produced this trigger.
            val wm = state.getCurrentWatermarkMs()
            val pastDue = cur.exists(s => s.last.getTime + SessionGapMs <= wm)
            if (pastDue) {
              if (state.exists) state.remove()
              (closed ++ cur.map(
                s => SessionSummary(user, s.start, s.last, s.n))).iterator
            } else {
              cur.foreach { s =>
                state.update(s)
                state.setTimeoutTimestamp(s.last.getTime + SessionGapMs)
              }
              closed.iterator
            }
          }
      }
  }

  /** L1 streaming, fuzzy-time variant: dedup by event_id alone even when
    * retransmissions carry a slightly different event time — the case
    * `dropDuplicates(event_id, ts)` misses. State for a key is kept until
    * the watermark passes its first-seen time + the delay, then evicted;
    * the first arrival wins and later echoes inside the horizon are
    * dropped.
    */
  def dedupWithinWatermark(events: Dataset[Event]): Dataset[Event] =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** J9 streaming: stream-stream interval join — each purchase matches
    * the same user's views from the preceding hour (the streaming twin
    * of the q08 as-of batch join). Both sides are watermarked and the
    * join predicate time-bounds view_ts against purchase_ts, which is
    * what lets Spark evict buffered rows: a view older than
    * watermark − 1 h can never match a future purchase, so per-key state
    * stays bounded at any stream length. Inner joins emit eagerly on
    * match; the watermark only governs state cleanup.
    */
  def viewsBeforePurchase(views: Dataset[Event],
      purchases: Dataset[Event]): DataFrame = {
    val v = views.toDF()
      .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
        col("user_id"))
      .withWatermark("view_ts", "2 hours")
    val p = purchases.toDF()
      .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("user_id").as("purchase_user"))
      .withWatermark("purchase_ts", "1 hour")
    v.join(p,
      col("user_id") === col("purchase_user") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("view_id"), col("user_id"),
        col("view_ts"), col("purchase_ts"))
  }

  case class StreamDoc(doc_id: Long, ts: Timestamp, text: String)

  /** L22 streaming: the daily-ingest exact-dedup flow as a CONTINUOUS
    * stream — the streaming twin of the q97/q102 batch pattern. Incoming
    * documents hash, (a) drop in-stream echoes inside the watermark
    * horizon (`dropDuplicatesWithinWatermark` on the 64-hex key — state
    * is the in-horizon hash set, bounded), and (b) anti-join the
    * PERSISTED corpus hash index (a stream-static join: stateless, the
    * static side is probed per micro-batch, never loaded into state).
    * Only corpus-unseen, stream-first texts flow on. At scale the static
    * index is the same table the nightly batch pass maintains, so batch
    * and stream dedup share one source of truth.
    */
  def streamingIncrementalDedup(docs: Dataset[StreamDoc],
      corpusHashes: DataFrame): DataFrame =
    docs.toDF()
      .withColumn("h", sha2(col("text"), 256))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("h"))
      .join(corpusHashes, Seq("h"), "left_anti")
      .select(col("doc_id"), col("ts"), col("text"))

  /** L20 streaming: tokenizer APPLICATION as a continuous stream — the
    * streaming twin of the q113 daily leg: arriving docs explode to
    * words, left-join the FROZEN vocabulary table (stream-static,
    * stateless — the `bpe_vocab` artifact IndexStore maintains; words
    * outside the vocab count as single tokens exactly like the batch
    * pass), and finalize per-doc token counts through a watermark-
    * bounded windowed aggregation (append mode emits a doc's counts
    * once its window closes — state is (window, doc_id) longs, evicted
    * by the watermark). */
  def streamingTokenize(docs: Dataset[StreamDoc],
      vocab: DataFrame): DataFrame =
    docs.toDF()
      .withWatermark("ts", "1 hour")
      .select(col("doc_id"), col("ts"),
        explode(split(col("text"), "\\s+")).as("t"))
      .filter(length(col("t")) >= 1)
      .join(vocab, Seq("t"), "left")
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_tok"), lit(1L))).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"))

  /** L53 streaming: DECONTAMINATION as a continuous stream — arriving
    * train docs screen against the frozen eval-gram index (the
    * `eval_grams` artifact IndexStore maintains; it changes per
    * benchmark release, never per batch, so the static side is truly
    * static). Each doc explodes its distinct 5-grams through the SAME
    * [[graft.operators.CurationQueries.gramsExpr]] as q74/q150 — one
    * definition, zero drift — inner-joins the index (stream-static,
    * stateless) and finalizes per-doc hit counts through a
    * watermark-bounded windowed aggregation. Clean docs never emit
    * (inner join): the output is the contamination ALERT stream a
    * quarantine queue consumes, not a pass-through. */
  def streamingDecontaminate(docs: Dataset[StreamDoc],
      evalGrams: DataFrame): DataFrame = {
    val grams = graft.operators.CurationQueries.gramsExpr
    docs.toDF()
      .withWatermark("ts", "1 hour")
      .select(col("doc_id"), col("ts"),
        size(grams).cast("long").as("n_grams"),
        explode(grams).as("g"))
      .join(evalGrams, Seq("g"))
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_contaminated"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"))
  }

  /** L74 streaming: FUZZY decontamination as a continuous stream — the
    * similarity rung of [[streamingDecontaminate]]: arriving docs
    * shingle and band through the SAME expressions as the batch
    * operators ([[graft.operators.LLMQueries.shingleArrayExpr]] /
    * `bandKeysOf` — one definition, zero drift), probe the frozen
    * `eval_signatures` band index (stream-static inner join — clean
    * docs never emit), verify INLINE by exact shingle Jaccard against
    * the static eval sets (the arriving doc's shingle array rides the
    * row; no state needed for verification), and collapse multi-band
    * candidate duplicates through a watermark-bounded per-(doc, eval)
    * max — the only stateful stage, bounded by the horizon. Emits the
    * quarantine alert stream: (doc_id, eval_id, jaccard ≥ the dup
    * election threshold). */
  def streamingFuzzyDecontaminate(docs: Dataset[StreamDoc],
      evalBands: DataFrame, evalSets: DataFrame): DataFrame = {
    import graft.operators.{CurationQueries, LLMQueries}
    docs.toDF()
      .withWatermark("ts", "1 hour")
      .filter(size(split(col("text"), "\\s+")) >= 3)
      .select(col("doc_id"), col("ts"),
        LLMQueries.shingleArrayExpr.as("sh"))
      .select(col("doc_id"), col("ts"), col("sh"),
        posexplode(LLMQueries.bandKeysOf(col("sh"))))
      .select(col("doc_id"), col("ts"), col("sh"),
        col("pos").as("band"), col("col").as("key"))
      .join(evalBands.select(col("doc_id").as("eval_id"), col("band"),
        col("key")), Seq("band", "key"))
      .join(evalSets.select(col("doc_id").as("eval_id"),
        col("sh").as("esh"), col("n_sh")), Seq("eval_id"))
      .select(col("doc_id"), col("ts"), col("eval_id"),
        size(array_intersect(col("sh"), col("esh"))).cast("long")
          .as("n_inter"),
        size(col("sh")).cast("long").as("na"), col("n_sh"))
      .filter(col("n_inter") > 0)
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (col("na") + col("n_sh") - col("n_inter")), 6))
      .filter(col("jaccard") >= CurationQueries.ClusterThreshold)
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"), col("eval_id"))
      .agg(max(col("jaccard")).as("jaccard"))
      .select(col("doc_id"), col("eval_id"), col("jaccard"))
  }

  /** L60 streaming: NOVELTY scoring as a continuous stream — arriving
    * docs score against the persisted `substr_windows` corpus index
    * (the same table the q156 dup report and q158 batch novelty read;
    * it changes per corpus snapshot, never per batch, so the static
    * side is truly static). The live signal the batch report can't
    * give: mean novelty collapsing mid-crawl means the crawler started
    * re-fetching known content — stop paying for it NOW, not at the
    * nightly report. Distinct windows via the SAME
    * [[graft.operators.CurationQueries.winsExpr]] as the batch (one
    * definition, zero drift), one stateless stream-static LEFT join
    * (unseen must count, unlike the decontamination alert's inner
    * join), watermark-bounded per-doc finalization; zero-window docs
    * survive the explode_outer as fully novel — the q158 convention. */
  def streamingNoveltyScore(docs: Dataset[StreamDoc],
      corpusWins: DataFrame): DataFrame =
    docs.toDF()
      .withWatermark("ts", "1 hour")
      .select(col("doc_id"), col("ts"), explode_outer(
        array_distinct(graft.operators.CurationQueries.winsExpr)).as("w"))
      .withColumn("wh", md5(col("w")))
      .join(corpusWins.select(col("wh"), lit(true).as("seen")),
        Seq("wh"), "left")
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"))
      .agg(count(col("w")).as("n_win"),
        count(when(col("seen"), 1)).as("n_seen"))
      .select(col("doc_id"), col("n_win"), col("n_seen"),
        when(col("n_win") === 0, lit(1000000L)).otherwise(
          expr("(n_win - n_seen) * 1000000L div n_win"))
          .as("novelty_micro"))

  /** L19c streaming: BM25 SEARCH as a continuous stream — arriving
    * query documents retrieve from the persisted corpus postings. The
    * static side is [[graft.operators.LLMQueries.bm25ScoredPostings]]
    * (each term's contribution to each doc baked in once per snapshot —
    * the impact-postings serving shape; BM25 term scores are
    * query-INDEPENDENT, which is what makes this possible), so the
    * stream leg is completely stateless on the corpus side: explode the
    * query's distinct terms, one stream-static inner join, and a
    * watermark-bounded per-(query, doc) sum finalizing in append mode.
    * Top-k ranking stays with the consumer — a streaming rank would
    * hold unbounded per-query state for no benefit when k·|queries|
    * rows already fit anywhere. Emitted scores equal the batch Okapi
    * formula under corpus-only collection stats (one shared score
    * expression — StreamingSpec pins the equality). */
  def streamingBm25Search(queries: Dataset[StreamDoc],
      scoredPostings: DataFrame): DataFrame =
    queries.toDF()
      .withWatermark("ts", "1 hour")
      .select(col("doc_id").as("qid"), col("ts"),
        explode(array_distinct(split(col("text"), "\\s+"))).as("t"))
      .join(scoredPostings, Seq("t"))
      .groupBy(window(col("ts"), "1 hour"), col("qid"), col("doc_id"))
      .agg(sum(col("s_micro")).as("score_micro"),
        count(lit(1)).as("n_terms"))
      .select(col("qid"), col("doc_id"), col("score_micro"),
        col("n_terms"))

  /** L19c streaming: query-likelihood SEARCH as a continuous stream —
    * the QL twin of [[streamingBm25Search]] over
    * [[graft.operators.LLMQueries.qlScoredPostings]]: the Dirichlet
    * match term (tf, cf, |C|) AND the per-doc length normalizer (dl)
    * are both query-independent, so the stream leg is one stateless
    * stream-static join plus a watermark-bounded per-(query, doc) sum;
    * the only query-side quantity is |q|, carried as a column from the
    * arriving doc and multiplied into the baked normalizer — emitted
    * scores equal batch qlRank's formula under corpus-only collection
    * stats (one shared score SQL; StreamingOpsSpec pins it). */
  def streamingQlSearch(queries: Dataset[StreamDoc],
      scoredPostings: DataFrame): DataFrame =
    queries.toDF()
      .withWatermark("ts", "1 hour")
      .select(col("doc_id").as("qid"), col("ts"),
        size(array_distinct(split(col("text"), "\\s+")))
          .cast("long").as("qlen"),
        explode(array_distinct(split(col("text"), "\\s+"))).as("t"))
      .join(scoredPostings, Seq("t"))
      .groupBy(window(col("ts"), "1 hour"), col("qid"), col("doc_id"))
      .agg(sum(col("m_micro")).as("mm"),
        // constant within the group (carried per row) — max() finalizes
        max(col("qlen")).as("qlen"),
        max(col("dnorm_micro")).as("dnorm_micro"),
        count(lit(1)).as("n_terms"))
      .select(col("qid"), col("doc_id"),
        (col("mm") + col("qlen") * col("dnorm_micro")).as("score_micro"),
        col("n_terms"))

  case class StreamVec(vec_id: Long, ts: Timestamp, embedding: Array[Float])

  /** L24 streaming: the daily-ingest exact VECTOR dedup as a CONTINUOUS
    * stream — the streaming twin of the q102 batch pattern, completing
    * the batch/stream pairing for the vector family (q97's text twin
    * above). Incoming vectors key by the SAME portable fixed-point md5
    * as q95/q102 ([[graft.operators.VectorQueries.vecKeyExpr]] — one
    * definition, so batch and stream can never key differently), drop
    * in-stream echoes inside the watermark horizon (bounded state:
    * 32-hex keys, never vectors), and anti-join the PERSISTED corpus key
    * index (stream-static, stateless — the same `vec_hash` table
    * IndexStore maintains for the nightly batch pass). */
  def streamingIncrementalVectorDedup(vecs: Dataset[StreamVec],
      corpusKeys: DataFrame): DataFrame =
    vecs.toDF()
      .withColumn("v", expr("transform(embedding, x -> cast(x AS double))"))
      .withColumn("vkey", graft.operators.VectorQueries.vecKeyExpr)
      .drop("v")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("vkey"))
      .join(corpusKeys, Seq("vkey"), "left_anti")
      .select(col("vec_id"), col("ts"), col("embedding"))

  /** L87 streaming: vector NEAR-DUP alerts off the canonical index —
    * the live companion of the q103/q186 family, the
    * [[streamingMediaNearDups]] quarantine-queue shape for embeddings:
    * every arriving vector computes its sign-LSH band keys with the
    * SAME native expression and planes as the batch flow
    * ([[graft.operators.VectorQueries.lshBandsKeeping]]), probes the
    * persisted CANONICAL band table (stream-static, stateless — buckets
    * count families, never replicas: the q186 property carried into the
    * stream, so a viral replica family cannot blow up the probe), then
    * fetches matched canonical vectors from the persisted `vec_canon`
    * table (the family is self-contained; the data lake is never read)
    * and verifies inline with the shared cosine expression. Emits
    * (vec_id, ts, corpus family canonical, cos) match rows; in-stream
    * pairs are the nightly q103 batch pass's job — keeping the stream
    * leg corpus-only keeps it stateless. State is only the
    * watermark-bounded (vec, family) collapse (a pair agreeing on two
    * bands arrives twice). Spec-pinned equal to the batch rule (band
    * intersection ∧ verified cosine) on the same frames. */
  def streamingVectorNearDups(vecs: Dataset[StreamVec],
      corpusBandsC: DataFrame, canonVecs: DataFrame): DataFrame =
    graft.operators.VectorQueries.lshBandsKeeping(
        vecs.toDF()
          .withColumn("v",
            expr("transform(embedding, x -> cast(x AS double))"))
          .drop("embedding")
          .withWatermark("ts", "1 hour"))
      .join(corpusBandsC
        .select(col("vec_id").as("fid"), col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("vec_id") =!= col("fid"))
      .join(canonVecs
        .select(col("vec_id").as("fid"), col("v").as("cv")), Seq("fid"))
      .withColumn("cos",
        round(graft.functions.CosineSimilarity.cosineSim(
          col("v"), col("cv")), 6))
      .filter(col("cos") >=
        graft.operators.VectorQueries.NearDupThreshold)
      .select(col("vec_id"), col("ts"), col("fid"), col("cos"))
      .dropDuplicatesWithinWatermark(Seq("vec_id", "fid"))

  /** L63 streaming: QUANTIZER-DRIFT as a continuous stream — arriving
    * vectors assign to the frozen disk centroids with the SAME
    * exchange-free array-lambda argmin as q160
    * ([[graft.operators.VectorQueries.cellAssign]] — one definition,
    * zero drift between the nightly report and the live signal), then a
    * watermark-bounded per-(window, cell) rollup joins the persisted
    * corpus cell stats (`ivf_cell_stats`). The live signal the nightly
    * q160 can't give: a cell whose arriving mass sits ever further from
    * its frozen centroid MID-STREAM means the quantizer went stale now
    * — schedule the retrain before a full day of badly-quantized
    * vectors lands in the index. Stateless on the corpus side (two
    * ≤|cells|-row static frames, both broadcast); state is bounded by
    * |windows|·|cells|. Cells the corpus has never populated emit a
    * NULL drift (no resident baseline), the q160 convention. */
  def streamingQuantizerDrift(vecs: Dataset[StreamVec],
      cents: DataFrame, corpusStats: DataFrame): DataFrame =
    graft.operators.VectorQueries.cellAssign(
        vecs.toDF()
          .withWatermark("ts", "1 hour")
          .withColumn("v",
            expr("transform(embedding, x -> cast(x AS double))")),
        cents)
      .groupBy(window(col("ts"), "1 hour"), col("cell"))
      .agg(count(lit(1)).as("n_batch"), sum(col("d2micro")).as("s_b"))
      .join(broadcast(corpusStats.select(col("cell"),
        col("n").as("n_corpus"), col("s").as("s_c"))), Seq("cell"), "left")
      .select(col("cell"), col("n_batch"),
        expr("s_b div n_batch").as("batch_d2_micro"),
        when(col("n_corpus").isNull, lit(null).cast("bigint"))
          .otherwise(expr("s_b div n_batch - s_c div n_corpus"))
          .as("drift_micro"))

  /** L82 streaming: IVFPQ vector SEARCH as a continuous query stream —
    * the dense twin of [[streamingBm25Search]]: each arriving query
    * vector assigns to its frozen cell (the exchange-free probeAssign
    * lambda), builds its residual-codebook LUT and centroid dot
    * per-row, and probes the PERSISTED code index (IndexStore `ivfpq`)
    * through one stream-static join — emitting per-(query, candidate)
    * ADC cosines via the SAME [[graft.operators.VectorQueries
    * .ivfPqAdcDot]]/[[graft.operators.VectorQueries.ivfPqAdcCos]]
    * expressions the q181/q182 batch tail ranks with (one scoring
    * definition, zero drift). Completely STATELESS — scoring is a
    * per-pair projection, so no watermark, no aggregation; top-k
    * ranking stays with the consumer (the streamingBm25Search rule: a
    * streaming rank would hold unbounded per-query state for no
    * benefit). */
  def streamingIvfPqSearch(queries: Dataset[StreamVec], cents: DataFrame,
      rcb: DataFrame, codes: DataFrame): DataFrame =
    graft.operators.VectorQueries.ivfPqQuerySide(
        queries.toDF()
          .withColumn("v",
            expr("transform(embedding, x -> cast(x AS double))")),
        cents, rcb)
      .join(codes, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("dot", graft.operators.VectorQueries.ivfPqAdcDot)
      .withColumn("cos", graft.operators.VectorQueries.ivfPqAdcCos)
      .select(col("qid"), col("vec_id").as("nid"), col("cos"))

  case class StreamAsset(doc_id: Long, ts: Timestamp, payload: Array[Byte])

  /** L27 streaming: perceptual near-dup DETECTION as a continuous
    * stream — each arriving asset hashes ([[graft.multimodal.Multimodal
    * .FakeCodec.dHash]], same 63-bit function as q109), emits its band
    * keys, and probes the PERSISTED corpus band index (stream-static
    * inner join — stateless, the canonical band table IndexStore
    * maintains); matches verify inline via bit_count exactly like the
    * batch flow. Emits (new asset, corpus near-dup, hamming) match rows
    * — the shape a quarantine/review queue consumes. In-stream pairs are
    * the nightly batch pass's job (q111); keeping the stream leg
    * corpus-only keeps it stateless. */
  def streamingMediaNearDups(assets: Dataset[StreamAsset],
      corpusBands: DataFrame): DataFrame = {
    import assets.sparkSession.implicits._
    val hashed = assets
      .map(a => (a.doc_id, a.ts,
        graft.multimodal.Multimodal.FakeCodec.dHash(a.payload)))
      .toDF("doc_id", "ts", "phash")
      .withWatermark("ts", "1 hour")
    // band-multiplicity collapse (a pair agreeing on 2 bands arrives
    // twice) is watermark-bounded state on (doc_id, corpus_id) keys
    graft.multimodal.Multimodal.phashBands(hashed)
      .join(corpusBands
        .select(col("doc_id").as("corpus_id"), col("phash").as("cphash"),
          col("band"), col("key")),
        Seq("band", "key"))
      .filter(col("doc_id") =!= col("corpus_id"))
      .select(col("doc_id"), col("ts"), col("corpus_id"),
        bit_count(col("phash").bitwiseXOR(col("cphash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <=
        graft.multimodal.Multimodal.MediaHammingMax)
      .dropDuplicatesWithinWatermark(Seq("doc_id", "corpus_id"))
  }

  /** L81 streaming: media cluster-MERGE alerts — the live signal that
    * tonight's q180 maintenance will MERGE corpus clusters. Every
    * arriving asset runs [[streamingMediaNearDups]]' probe (same
    * dHash + band expressions, same inline bit_count verification
    * against the persisted canonical band index — one probe row per identical-hash family), then each verified
    * corpus neighbor maps to its persisted `media_cc` LABEL through a
    * second stateless stream-static join, collapsing to distinct
    * (asset, cluster label) rows. An asset carrying two or more
    * distinct labels is a BRIDGE: q180's contracted star-CC will join
    * those corpus clusters as single nodes — the alert a curation
    * on-call reads hours before the nightly run rewrites the label
    * table. State is only the watermark-bounded per-(asset, label)
    * collapse; the corpus sides are the two slim index artifacts,
    * scanned stream-static, never shuffled. Spec-pinned equal to the
    * batch rule (q111 pairs → label join → distinct) on the same
    * frames. */
  def streamingMediaClusterAlerts(assets: Dataset[StreamAsset],
      corpusBands: DataFrame, ccC: DataFrame): DataFrame =
    streamingMediaNearDups(assets, corpusBands)
      .join(ccC.select(col("doc_id").as("corpus_id"),
        col("cluster_id")), Seq("corpus_id"))
      .dropDuplicatesWithinWatermark(Seq("doc_id", "cluster_id"))
      .select(col("doc_id"), col("cluster_id"))

  case class SourcedDoc(doc_id: Long, ts: Timestamp, text: String,
      lang: String, source: String)

  /** L34 streaming: the per-source QUALITY GATE as a continuous stream —
    * the production shape of q84 + q122: cutoffs are CALIBRATED by the
    * nightly batch pass (q122's per-source percentile table, persisted
    * like the bpe_vocab artifact — retraining thresholds per micro-batch
    * would silently shift the gate), and arriving docs are scored by the
    * SAME shared projection the batch classifier uses
    * ([[graft.operators.CurationQueries.qualityScoredDocs]] — one
    * definition, so batch and stream can never score differently), then
    * gated through a stream-static join against the cutoff table.
    * Completely stateless: scoring is per-row, the static side is probed
    * per micro-batch, nothing accumulates. */
  def streamingQualityGate(docs: Dataset[SourcedDoc],
      cutoffs: DataFrame): DataFrame =
    graft.operators.CurationQueries.qualityScoredDocs(docs.toDF())
      .join(cutoffs, Seq("source"))
      .select(col("doc_id"), col("source"), col("mean_weight"),
        (col("mean_weight") >= col("cutoff")).as("pass"))

  /** L28 streaming: the CURATION FUNNEL as one continuous pipeline —
    * the streaming mirror of q115's batch composition, chaining four
    * proven stages over an arriving doc stream: (1) incremental exact
    * dedup (watermark-bounded in-stream hash dedup + stateless
    * stream-static anti-join against the persisted corpus hash index —
    * the q97 twin), (2) PII redaction (per-row, the q79 regexes via the
    * SAME shared vals), (3) the per-source quality gate over the
    * REDACTED text (stream-static join against q122's calibrated
    * cutoffs — scoring post-redaction, as a production funnel orders
    * it), (4) the q171 toxicity gate LAST, mirroring the batch funnel's
    * round-10 stage order — and scored over the RAW pre-redaction text,
    * exactly the input batch q171/q157 score, so a doc whose emails
    * change its hashed score cannot classify differently in stream vs
    * batch. The score rides INLINE as a column computed before the
    * redaction rewrite (a stream cannot self-join its own projection);
    * only its FILTER applies last. Only the dedup stage holds state,
    * bounded by the watermark horizon; everything downstream is per-row
    * or stream-static. */
  def streamingCurationFunnel(docs: Dataset[SourcedDoc],
      corpusHashes: DataFrame, cutoffs: DataFrame): DataFrame = {
    import graft.operators.CurationQueries.{EmailRe, PhoneRe}
    val deduped = docs.toDF()
      .withColumn("h", sha2(col("text"), 256))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("h"))
      .join(corpusHashes, Seq("h"), "left_anti")
    import graft.operators.CurationQueries.{hashScoreStruct, meanWeightOf,
      QualitySalt, ToxSalt, ToxicityThreshold}
    // the shared q171 scorer over RAW text, captured before redaction
    val toxScored = deduped.withColumn("tox_mean",
      meanWeightOf(hashScoreStruct(ToxSalt)))
    val redacted = toxScored.withColumn("text",
      regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"))
    redacted
      // the shared q84 scorer (the hashScoredDocs expression verbatim)
      // over the redacted text, kept inline so tox_mean survives
      .withColumn("mean_weight",
        meanWeightOf(hashScoreStruct(QualitySalt)))
      .join(cutoffs, Seq("source"))
      .filter(col("mean_weight") >= col("cutoff"))
      .filter(col("tox_mean") < ToxicityThreshold) // stage 6: clean = low tail
      .select(col("doc_id"), col("source"), col("mean_weight"))
  }

  /** L62 streaming: the DAILY-INGEST gate chain as a CONTINUOUS flow —
    * every micro-batch is a miniature ingest day. The SAME
    * [[graft.operators.DailyIngest.dispositionOf]] that renders the
    * oracle-checked q159 and the nightly disk pipeline runs inside
    * `foreachBatch` against the newest on-disk index generation, the
    * per-doc disposition lands under `out/disposition/batch_id=N`
    * (partition-dir layout, so one read reassembles the history), and
    * [[graft.operators.DailyIngest.compactIndexes]] writes generation
    * N+1 — so micro-batch N+1 sees micro-batch N's documents. One gate
    * definition, three cadences (query / nightly / continuous), zero
    * drift by construction.
    *
    * State lives entirely in the generation dirs, not in streaming
    * state: `index_gen_0` is the caller-seeded corpus snapshot
    * ([[graft.operators.DailyIngest.writeIndexes]] layout), batch N
    * reads the newest generation ≤ N and OVERWRITES its own outputs —
    * a replayed uncommitted batch (the foreachBatch at-least-once
    * contract) rewrites generation N+1 from the same inputs, so the
    * flow is idempotent.
    *
    * Scale posture: per micro-batch cost is the O(batch) daily cost
    * DailyIngest already measures — every gate reads the batch plus a
    * slim index; compaction unions batch-sized deltas onto a
    * sequentially-read snapshot. The generation chain is the streaming
    * rendering of the nightly `index_next` handoff.
    */
  /** The newest COMMITTED index generation under `workDir`, discovered
    * through the Hadoop FileSystem API so the generation chain works on
    * any supported storage — HDFS, S3A, local — not only a local disk
    * (ADVICE r14: `java.io.File.listFiles` returned null off-local and
    * the require fired even when index_gen_0 existed). Only generations
    * ≤ batchId count: a crashed attempt's own gen=batchId+1 partition
    * must not feed its retry (the runDelta rule). */
  private def newestGenDir(spark: org.apache.spark.sql.SparkSession,
      workDir: String, batchId: Long, seedHint: String): String = {
    val path = new org.apache.hadoop.fs.Path(workDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val gens =
      (if (fs.exists(path)) fs.listStatus(path)
       else Array.empty[org.apache.hadoop.fs.FileStatus])
        .map(_.getPath.getName)
        .collect { case s if s.startsWith("index_gen_") =>
          scala.util.Try(s.stripPrefix("index_gen_").toLong).toOption }
        .flatten
        .filter(_ <= batchId)
    require(gens.nonEmpty,
      s"seed $workDir/index_gen_0 first ($seedHint)")
    s"$workDir/index_gen_${gens.max}"
  }

  def continuousIngest(docs: Dataset[SourcedDoc], workDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[SourcedDoc] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[SourcedDoc], batchId: Long) =>
        val spark = batch.sparkSession
        val genDir = newestGenDir(spark, workDir, batchId,
          "DailyIngest.writeIndexes layout")
        def idx(name: String): DataFrame =
          graft.Tables.read(spark, s"$genDir/$name.parquet")
        val b = batch.toDF().transform(graft.Materialize.shared)
        // the micro-batch's MinHash tables feed the near-dup gate AND
        // the compaction — once per micro-batch (the writeDay rule)
        val (rawBands, rawSets) =
          graft.operators.LLMQueries.signatureTables(b)
        val bBands = rawBands.transform(graft.Materialize.shared)
        val bSets = rawSets.transform(graft.Materialize.shared)
        graft.operators.DailyIngest
          .dispositionOf(b, idx("text_hash"), idx("norm_hash"),
            idx("text_bands"), idx("text_sets"), idx("eval_grams"),
            idx("eval_bands"), idx("eval_sets"), bBands, bSets)
          .write.mode("overwrite")
          .parquet(s"$workDir/out/disposition/batch_id=$batchId")
        graft.operators.DailyIngest.compactIndexes(idx, b, bBands,
          bSets, graft.operators.CurationQueries.docWindows(b),
          (df, name) =>
            df.write.mode("overwrite")
              .parquet(s"$workDir/index_gen_${batchId + 1}/$name.parquet"))
    }

  /** An arriving media asset with its catalog memberships: the ASSET
    * catalog (perceptual-hash/frame gates + the disposition universe)
    * and the AUDIO-FINGERPRINT catalog (the q126 universe, which also
    * carries fingerprint-only alternate encodes that register in the
    * fingerprint store but never ship as assets — exactly the two
    * universes the nightly splits derive from the lake). */
  case class StreamMediaAsset(doc_id: Long, ts: Timestamp, kind: String,
      payload: Array[Byte], in_asset_catalog: Boolean,
      in_audio_catalog: Boolean)

  /** L97 streaming: the ASSET gate chain as a CONTINUOUS flow — the
    * [[continuousIngest]] (T8) pattern at asset granularity, closing
    * the third cadence for assets (q193 oracle / nightly
    * [[graft.operators.DailyIngest.runAssets]] / this stream — VERDICT
    * r13 "Next round" #3). Every micro-batch of arriving assets
    * decodes once per modality (perceptual hash, frame hashes, audio
    * sub-fingerprints — the same partition-wise decode boundary as the
    * batch flows, payloads die inside it), then runs the SAME
    * [[graft.operators.DailyIngest.runAssetsFrom]] core against the
    * newest on-disk asset-index generation: the three incremental
    * probe flows, the first-failing `assetDispositionOf`, the
    * kept_assets + asset_disposition artifacts under `out/batch_N`,
    * ledger/log bookkeeping, and compaction into generation N+1 — so
    * micro-batch N+1 sees micro-batch N's assets. One gate definition,
    * three cadences, zero drift by construction; StreamingOpsSpec pins
    * the micro-batch disposition byte-equal to the nightly run off the
    * same disk artifacts.
    *
    * Seed `workDir/index_gen_0` with the
    * [[graft.operators.IndexStore.writeAssetIndexes]] layout. State
    * lives entirely in the generation dirs (the continuousIngest
    * rule): a replayed uncommitted batch overwrites its own outputs
    * and generation, so the flow is idempotent under the foreachBatch
    * at-least-once contract. */
  def continuousAssetIngest(assets: Dataset[StreamMediaAsset],
      workDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[StreamMediaAsset] =
    assets.writeStream.foreachBatch {
      (batch: Dataset[StreamMediaAsset], batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val genDir = newestGenDir(spark, workDir, batchId,
          "IndexStore.writeAssetIndexes layout")
        val m = graft.multimodal.Multimodal
        val b = batch.transform(graft.Materialize.shared)
        // arriving rows feed the PAYLOAD-ONLY decode cores — no
        // fabricated metadata fields a future decoder could silently
        // start reading (ADVICE r14)
        def mediaOf(ds: Dataset[StreamMediaAsset])
            : Dataset[m.MediaPayload] =
          ds.map(a => m.MediaPayload(a.doc_id, a.kind, a.payload))
        graft.operators.DailyIngest.runAssetsFrom(spark, genDir,
          m.perceptualHashesOf(
            mediaOf(b.filter(_.in_asset_catalog))).toDF(),
          m.frameHashesOf(mediaOf(b.filter(_.in_asset_catalog))).toDF()
            .select(col("doc_id"), col("fhash")).distinct(),
          m.audioFpsOf(mediaOf(b.filter(_.in_audio_catalog))).toDF()
            .select(col("doc_id"), col("fp")).distinct(),
          s"$workDir/out/batch_$batchId",
          s"$workDir/index_gen_${batchId + 1}",
          ts = s"batch_$batchId")
        ()
    }

  /** An arriving embedding row: the vector id and its double-rendered
    * embedding, the exact frame shape [[graft.operators.IndexStore
    * .vecSplit]] derives from the lake (vec_id, v). */
  case class StreamVector(vec_id: Long, ts: Timestamp, v: Array[Double])

  /** L98 streaming: the VECTOR gate chain as a CONTINUOUS flow —
    * closing the third cadence for embeddings, the last data type with
    * only two (q194 oracle / nightly
    * [[graft.operators.DailyIngest.runVectors]] / this stream; text
    * and assets got theirs in T8 and L97). Each micro-batch of
    * arriving vectors runs the SAME
    * [[graft.operators.DailyIngest.runVectorsFrom]] core against the
    * newest on-disk vector-index generation: the three dedup verdicts
    * (q102 exact key / q103-q186 verified near-dup off the canonical
    * trio / q104 cluster election off the frozen sem_* tables), the
    * first-failing `vectorDispositionOf`, the kept_vectors +
    * vector_disposition artifacts under `out/batch_N`, ledger/log
    * bookkeeping, and compaction into generation N+1 — so micro-batch
    * N+1's exact/near gates see micro-batch N's vectors while the
    * election gate keeps running against the frozen clusters (the
    * q105 rebuild-class trade, identical across cadences).
    *
    * Seed `workDir/index_gen_0` with the
    * [[graft.operators.IndexStore.writeVectorIndexes]] layout. State
    * lives entirely in the generation dirs (the continuousIngest
    * rule): a replayed uncommitted batch overwrites its own outputs
    * and generation, so the flow is idempotent under the foreachBatch
    * at-least-once contract. */
  def continuousVectorIngest(vectors: Dataset[StreamVector],
      workDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[StreamVector] =
    vectors.writeStream.foreachBatch {
      (batch: Dataset[StreamVector], batchId: Long) =>
        val spark = batch.sparkSession
        val genDir = newestGenDir(spark, workDir, batchId,
          "IndexStore.writeVectorIndexes layout")
        graft.operators.DailyIngest.runVectorsFrom(spark, genDir,
          batch.toDF().select(col("vec_id"), col("v")),
          s"$workDir/out/batch_$batchId",
          s"$workDir/index_gen_${batchId + 1}",
          ts = s"batch_$batchId")
        ()
    }

  /** The spec's latest-status-wins polling update as a stream
    * (README.md:85): keep the max-timestamp event per key in state, emit
    * the current winner on every update (Update mode downstream).
    */
  case class StatusUpdate(job_id: Long, ts: Timestamp, status: String)

  def latestStatus(updates: Dataset[StatusUpdate]): Dataset[StatusUpdate] = {
    import updates.sparkSession.implicits._
    updates.groupByKey(_.job_id)
      .mapGroupsWithState[StatusUpdate, StatusUpdate](
        GroupStateTimeout.NoTimeout) {
        (_: Long, batch: Iterator[StatusUpdate],
         state: GroupState[StatusUpdate]) =>
          val latest = (state.getOption.iterator ++ batch)
            .maxBy(u => (u.ts.getTime, u.status))
          state.update(latest)
          latest
      }
  }
}
