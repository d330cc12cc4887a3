package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr, sha2}
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Drives the streaming operators through MemoryStream — real incremental
  * execution, deterministic batches (mirrors the reference's polling
  * integration tests, /root/reference/README.md:176-178).
  */
class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._
  import StreamingOps._

  private implicit def sqlCtx: org.apache.spark.sql.SQLContext =
    spark.sqlContext

  private def ts(minute: Int) =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, user: Long, typ: String = "view") =
    Event(id, ts(minute), user, typ, 1.0)

  test("sessionize closes a session only after the 30-minute gap") {
    val input = MemoryStream[Event]
    val query = sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // one user: events at 0,10min (session A), then 60min (gap > 30min)
      input.addData(ev(1, 0, 7), ev(2, 10, 7))
      query.processAllAvailable()
      assert(spark.table("sessions").count() == 0) // A still open
      input.addData(ev(3, 60, 7))
      query.processAllAvailable()
      val closed = spark.table("sessions")
        .as[SessionSummary].collect()
      assert(closed.length == 1)
      assert(closed.head == SessionSummary(7L, ts(0), ts(10), 2L))
    } finally query.stop()
  }

  test("sessionize keys state per user") {
    val input = MemoryStream[Event]
    val query = sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions2")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, 0, 1), ev(2, 0, 2))
      input.addData(ev(3, 45, 1)) // closes user 1's session only
      query.processAllAvailable()
      val closed = spark.table("sessions2").as[SessionSummary].collect()
      assert(closed.toSeq == Seq(SessionSummary(1L, ts(0), ts(0), 1L)))
    } finally query.stop()
  }

  test("latest-status-wins keeps the max-timestamp update per job") {
    val input = MemoryStream[StatusUpdate]
    val query = latestStatus(input.toDS())
      .writeStream.format("memory").queryName("status")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(
        StatusUpdate(1, ts(10), "in_progress"),
        StatusUpdate(1, ts(5), "validating")) // late, loses
      query.processAllAvailable()
      input.addData(StatusUpdate(1, ts(20), "completed"))
      query.processAllAvailable()
      val rows = spark.table("status").as[StatusUpdate].collect()
      // last emitted state for job 1 is the ts=20 completed row
      assert(rows.last == StatusUpdate(1, ts(20), "completed"))
      assert(!rows.map(_.status).contains("validating"))
    } finally query.stop()
  }

  test("streaming incremental dedup drops corpus-known and echoed texts") {
    val corpusIndex = Seq("known text").toDF("text")
      .select(sha2(col("text"), 256).as("h"))
    val input = MemoryStream[StreamDoc]
    val query = streamingIncrementalDedup(input.toDS(), corpusIndex)
      .writeStream.format("memory").queryName("incdedup")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamDoc(1L, ts(0), "known text"),   // in the corpus index → drop
        StreamDoc(2L, ts(1), "fresh text"))   // survives
      query.processAllAvailable()
      input.addData(
        StreamDoc(3L, ts(2), "fresh text"),   // in-stream echo → drop
        StreamDoc(4L, ts(3), "another one"))  // survives
      query.processAllAvailable()
      val out = spark.table("incdedup")
        .select("doc_id").as[Long].collect().sorted
      assert(out.toSeq == Seq(2L, 4L))
    } finally query.stop()
  }

  test("streaming incremental vector dedup keys exactly like q95/q102") {
    val input = MemoryStream[StreamVec]
    // corpus index built through the SAME shared key expression the
    // batch pass uses — one definition, so the twins cannot drift
    val corpusIndex = Seq((0L, Array(1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
      .withColumn("v",
        org.apache.spark.sql.functions
          .expr("transform(embedding, x -> cast(x AS double))"))
      .select(graft.operators.VectorQueries.vecKeyExpr.as("vkey"))
    val query = streamingIncrementalVectorDedup(input.toDS(), corpusIndex)
      .writeStream.format("memory").queryName("vecdedup")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamVec(1L, ts(0), Array(1.0f, 2.0f)),  // corpus-known → drop
        StreamVec(2L, ts(1), Array(3.0f, 4.0f)))  // survives
      query.processAllAvailable()
      input.addData(
        StreamVec(3L, ts(2), Array(3.0f, 4.0f)),  // in-stream echo → drop
        StreamVec(4L, ts(3), Array(5.0f, 6.0f)))  // survives
      query.processAllAvailable()
      val out = spark.table("vecdedup")
        .select("vec_id").as[Long].collect().sorted
      assert(out.toSeq == Seq(2L, 4L))
    } finally query.stop()
  }

  test("streaming quantizer drift assigns and scores like the q160 rule") {
    import org.apache.spark.sql.functions.{col, expr}
    val input = MemoryStream[StreamVec]
    // frozen quantizer + persisted cell stats built through the SAME
    // shared definitions the batch pass uses (one geometry, zero drift)
    val corpusEmb = Seq(
      (1L, Array(0.0f, 0.0f), 0), (2L, Array(0.2f, 0.0f), 0),
      (3L, Array(10.0f, 10.0f), 1), (4L, Array(10.0f, 10.4f), 1))
      .toDF("vec_id", "embedding", "label")
    val cents = graft.operators.VectorQueries.centroidsOf(corpusEmb)
    val corpusVecs = corpusEmb.select(col("vec_id"),
      expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val stats = graft.operators.VectorQueries.cellStatsOf(
      graft.operators.VectorQueries.cellAssign(corpusVecs, cents))
    val query = streamingQuantizerDrift(input.toDS(), cents, stats)
      .writeStream.format("memory").queryName("qdrift")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamVec(100L, ts(0), Array(0.1f, 0.0f)),   // cell 0, resident-like
        StreamVec(101L, ts(1), Array(30.0f, 30.0f))) // cell 1, far → drift
      query.processAllAvailable()
      input.addData(StreamVec(999L, ts(150), Array(0.0f, 0.0f)))
      query.processAllAvailable()
      val out = spark.table("qdrift")
        .select("cell", "n_batch", "batch_d2_micro", "drift_micro")
        .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
      // the batch q160 rule on the same frames agrees cell for cell
      val batch = graft.operators.VectorQueries
        .quantizerDriftOf(cents, stats,
          Seq((100L, Array(0.1f, 0.0f)), (101L, Array(30.0f, 30.0f)))
            .toDF("vec_id", "embedding")
            .select(col("vec_id"),
              expr("transform(embedding, x -> cast(x AS double))").as("v")))
        .filter(col("n_batch") > 0)
        .select("cell", "n_batch", "batch_d2_micro", "drift_micro")
        .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(out == batch)
      assert(out.map(_._1) == Seq(0, 1))
      // the far arrival drifts; the resident-like one barely does
      assert(out(1)._4 > out(0)._4 && out(1)._4 > 100000000L)
    } finally query.stop()
  }

  test("streaming IVFPQ search == the batch ADC ranking off the disk " +
      "index") {
    val dir = tempDir("graft_sivfpq")
    graft.operators.IndexStore.writeIvfPq(spark, sfDir, dir)
    val cents = spark.read.parquet(s"$dir/ivfpq_centroids.parquet")
    val rcb = spark.read.parquet(s"$dir/ivfpq_codebook.parquet")
    // the SAME static side the nightly q182 rank runs over
    val codes = graft.operators.IndexStore
      .ivfPqUnionCodes(spark, dir, sfDir).localCheckpoint()
    val queries = graft.Tables(spark, sfDir, "embeddings")
      .filter(col("vec_id") < 3)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val input = MemoryStream[StreamVec]
    val q = streamingIvfPqSearch(input.toDS(), cents, rcb, codes)
      .writeStream.format("memory").queryName("sivfpq")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(queries.map { case (id, v) =>
        StreamVec(id, ts(0), v) }: _*)
      q.processAllAvailable()
      val got = spark.table("sivfpq")
        .as[(Long, Long, Double)].collect()
      // consumer-side rank of the emitted scores: top-3 per query must
      // equal the batch q182 tail off the SAME disk artifacts — pins
      // the stateless stream path (no watermark, one stream-static
      // join) against the full nightly ranking
      val topk = got.groupBy(_._1).map { case (qid, rows) =>
        qid -> rows.sortBy(r => (-r._3, r._2)).take(3)
          .map(r => (r._2, r._3)).toSeq
      }
      val want = graft.operators.IndexStore.dailyIvfPq(spark, dir, sfDir)
        .as[(Long, Long, Long, Double)].collect()
        .filter(_._1 < 3).groupBy(_._1).map { case (qid, rows) =>
          qid -> rows.sortBy(_._2).map(r => (r._3, r._4)).toSeq
        }
      assert(topk == want)
      assert(topk.keySet == Set(0L, 1L, 2L))
    } finally q.stop()
  }

  test("streaming vector near-dup probes the canonical band index") {
    val u = (0 until 64).map(i => math.sin(i + 1.0).toFloat).toArray
    val z = (0 until 64).map(i => math.cos(3.0 * i + 2.0).toFloat).toArray
    val near = u.map(x => x * 1.2f) // colinear → cos 1 at 6 dp
    // persisted canonical index over a replica-dense corpus: family A
    // (ids 1, 2 — identical) canonicalizes to 1; family B is 3
    val corpus = Seq((1L, u), (2L, u), (3L, z)).toDF("vec_id", "embedding")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
    val (_, _, bandsC, canonVecs) =
      graft.operators.VectorQueries.vecNearDupIndexTables(corpus)
    val input = MemoryStream[StreamVec]
    val query = streamingVectorNearDups(input.toDS(), bandsC, canonVecs)
      .writeStream.format("memory").queryName("vecdups")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamVec(10L, ts(0), near), // scaled copy of A → match fid 1
        StreamVec(11L, ts(1), z.map(x => x + 10.0f))) // far → no match
      query.processAllAvailable()
      // an exact replica agrees on ALL four bands — still ONE row,
      // and it matches the CANONICAL (1), never the replica (2)
      input.addData(StreamVec(12L, ts(2), u))
      query.processAllAvailable()
      val out = spark.table("vecdups")
        .select("vec_id", "fid", "cos")
        .as[(Long, Long, Double)].collect().sortBy(_._1)
      assert(out.map(r => (r._1, r._2)).toSeq == Seq((10L, 1L), (12L, 1L)))
      assert(out.forall(_._3 == 1.0))
    } finally query.stop()
  }

  test("streaming media near-dup probes the persisted band index") {
    val base = "stream payload bytes for the perceptual hash".getBytes("UTF-8")
    val bumped = base.clone(); bumped(0) = (bumped(0) + 1).toByte
    val far = "completely different content with other byte structure zzz"
      .getBytes("UTF-8")
    // persisted corpus index: bands of asset 100 (the batch-pass artifact)
    val corpusBands = graft.multimodal.Multimodal.phashBands(
      Seq((100L, graft.multimodal.Multimodal.FakeCodec.dHash(base)))
        .toDF("doc_id", "phash"))
    val input = MemoryStream[StreamAsset]
    val query = streamingMediaNearDups(input.toDS(), corpusBands)
      .writeStream.format("memory").queryName("mediadups")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamAsset(1L, ts(0), bumped), // hamming ≤ 1 vs corpus → match
        StreamAsset(2L, ts(1), far))    // no match expected
      query.processAllAvailable()
      // a multi-band agreement must still emit ONE row per pair
      input.addData(StreamAsset(3L, ts(2), base)) // identical → hamming 0
      query.processAllAvailable()
      val out = spark.table("mediadups")
        .select("doc_id", "corpus_id", "hamming")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      assert(out.map(r => (r._1, r._2)).toSeq == Seq((1L, 100L), (3L, 100L)))
      assert(out.forall(_._3 <= graft.multimodal.Multimodal.MediaHammingMax))
      assert(out.find(_._1 == 3L).get._3 == 0L)
    } finally query.stop()
  }

  test("streaming media cluster alerts: pairs map to persisted labels, " +
      "bridges carry two") {
    val M = graft.multimodal.Multimodal
    val base = "stream payload bytes for the perceptual hash".getBytes("UTF-8")
    val bumped = base.clone(); bumped(0) = (bumped(0) + 1).toByte
    val far = "completely different content with other byte structure zzz"
      .getBytes("UTF-8")
    val corpusBands = M.phashBands(
      Seq((100L, M.FakeCodec.dHash(base)), (101L, M.FakeCodec.dHash(bumped)),
        (200L, M.FakeCodec.dHash(far)))
        .toDF("doc_id", "phash"))
    // persisted media_cc labels: 100 and 101 sit in DIFFERENT clusters,
    // so an arrival near both is a bridge — the q180 merge pre-signal
    val ccC = Seq((100L, 100L), (101L, 101L), (200L, 200L))
      .toDF("doc_id", "cluster_id")
    val input = MemoryStream[StreamAsset]
    val query = streamingMediaClusterAlerts(input.toDS(), corpusBands, ccC)
      .writeStream.format("memory").queryName("mergealerts")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamAsset(1L, ts(0), base), // pairs with 100 AND 101 → bridge
        StreamAsset(2L, ts(1), far))  // pairs with 200 only
      query.processAllAvailable()
      val got = spark.table("mergealerts")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 100L), (1L, 101L), (2L, 200L)))
      // == the batch rule on the same frames (q111 pairs → label join)
      val batchHashes =
        Seq((1L, M.FakeCodec.dHash(base)), (2L, M.FakeCodec.dHash(far)))
          .toDF("doc_id", "phash")
      val want = M.incrementalMediaNearDups(corpusBands, batchHashes)
        .join(ccC.select(col("doc_id").as("doc_b"), col("cluster_id")),
          Seq("doc_b"))
        .select(col("doc_a").as("doc_id"), col("cluster_id"))
        .distinct().as[(Long, Long)].collect().toSet
      assert(got == want)
    } finally query.stop()
  }

  test("streaming quality gate scores exactly like the batch classifier") {
    // calibrate cutoffs on a small batch corpus: srcA's worst tail must
    // fall below its own cutoff, srcB's below its own
    def doc(id: Long, words: Seq[String], src: String) =
      (id, words.mkString(" "), "en", src)
    val rnd = new scala.util.Random(7)
    def toks(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(500)}")
    val corpus = ((0L until 12L).map(i => doc(i, toks(30), "srcA")) ++
      (12L until 24L).map(i => doc(i, toks(30), "srcB")))
      .toDF("doc_id", "text", "lang", "source")
    val cutoffs = graft.operators.CurationQueries
      .qualityCalibrationDocs(corpus).select(col("source"), col("cutoff"))
    val streamDocs = Seq(
      SourcedDoc(100L, ts(0), toks(25).mkString(" "), "en", "srcA"),
      SourcedDoc(101L, ts(1), toks(25).mkString(" "), "en", "srcB"),
      SourcedDoc(102L, ts(2), toks(25).mkString(" "), "en", "srcA"))
    val input = MemoryStream[SourcedDoc]
    val query = streamingQualityGate(input.toDS(), cutoffs)
      .writeStream.format("memory").queryName("qgate")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(streamDocs: _*)
      query.processAllAvailable()
      val got = spark.table("qgate")
        .as[(Long, String, Double, Boolean)].collect().toSet
      // the batch classifier + the SAME cutoff table must agree row-level
      val expected = graft.operators.CurationQueries.qualityScoredDocs(
          streamDocs.map(d => (d.doc_id, d.text, d.lang, d.source))
            .toDF("doc_id", "text", "lang", "source"))
        .join(cutoffs, Seq("source"))
        .select(col("doc_id"), col("source"), col("mean_weight"),
          (col("mean_weight") >= col("cutoff")).as("pass"))
        .as[(Long, String, Double, Boolean)].collect().toSet
      assert(got == expected)
      assert(got.size == 3)
    } finally query.stop()
  }

  test("streaming curation funnel = dedup + redact + gate, composed") {
    val rnd = new scala.util.Random(11)
    def toks(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(400)}").mkString(" ")
    val knownText = toks(25)
    val corpusIndex = Seq(knownText).toDF("text")
      .select(sha2(col("text"), 256).as("h"))
    // a permissive and a blocking cutoff so the gate provably fires
    val cutoffs = Seq(("srcA", -1.0), ("srcB", 2.0))
      .toDF("source", "cutoff")
    val piiText = toks(20) + " bob@example.com " + toks(3)
    val stream = Seq(
      SourcedDoc(1L, ts(0), knownText, "en", "srcA"),  // corpus dup → drop
      SourcedDoc(2L, ts(1), piiText, "en", "srcA"),    // redact, pass
      SourcedDoc(3L, ts(2), piiText, "en", "srcA"),    // in-stream echo → drop
      SourcedDoc(4L, ts(3), toks(25), "en", "srcB"),   // gate cutoff 2.0 → drop
      SourcedDoc(5L, ts(4), toks(25), "en", "srcA"))   // pass
    val input = MemoryStream[SourcedDoc]
    val query = streamingCurationFunnel(input.toDS(), corpusIndex, cutoffs)
      .writeStream.format("memory").queryName("sfunnel")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(stream: _*)
      query.processAllAvailable()
      val got = spark.table("sfunnel")
        .as[(Long, String, Double)].collect().toSet
      // batch recomputation of the same composition: docs 1/3 deduped
      // away; toxicity scores the RAW pre-redaction text (exactly the
      // batch q171/q157 input — round-11 parity fix) and its gate
      // applies LAST, after the quality gate; quality scores the
      // REDACTED text — all via the SAME shared defs
      val candidates = Seq(stream(1), stream(4))
      val toxClean = graft.operators.CurationQueries
        .toxicityClassifierDocs(
          candidates.map(d => (d.doc_id, d.text, d.lang))
            .toDF("doc_id", "text", "lang"))
        .filter(col("decision") === "clean").select(col("doc_id"))
      val redactedBatch = candidates.map(d => (d.doc_id,
          d.text.replaceAll(
            graft.operators.CurationQueries.EmailRe, "<EMAIL>"),
          d.lang, d.source))
        .toDF("doc_id", "text", "lang", "source")
      val expected = graft.operators.CurationQueries.qualityScoredDocs(
          redactedBatch)
        .join(cutoffs, Seq("source"))
        .filter(col("mean_weight") >= col("cutoff"))
        .join(toxClean, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("source"), col("mean_weight"))
        .as[(Long, String, Double)].collect().toSet
      assert(got == expected)
      // doc 5's seed-11 text happens to score over the toxicity
      // threshold — the round-10 gate drops it where the round-9
      // funnel passed it; pin the attribution so the drop is the
      // CLASSIFIER's verdict, not an accident of the composition
      assert(got.map(_._1) == Set(2L))
      val tox5 = graft.operators.CurationQueries.toxicityClassifierDocs(
          Seq((stream(4).doc_id, stream(4).text, "en"))
            .toDF("doc_id", "text", "lang"))
        .select(col("decision")).as[String].collect().toSeq
      assert(tox5 == Seq("toxic"))
    } finally query.stop()
  }

  test("streaming dedup drops replayed event ids") {
    val input = MemoryStream[Event]
    val query = dedupByEventId(input.toDS())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, 0, 1), ev(2, 1, 1))
      query.processAllAvailable()
      input.addData(ev(1, 0, 1)) // exact replay (at-least-once delivery)
      query.processAllAvailable()
      assert(spark.table("dedup").count() == 2)
    } finally query.stop()
  }

  test("file source to parquet sink end-to-end (AvailableNow)") {
    // production binding: readStream over a landing directory →
    // watermarked agg → parquet sink with checkpoint. AvailableNow +
    // no-data microbatches flush windows the watermark has passed.
    val root = java.nio.file.Paths.get(tempDir("graft-stream"))
    val in = root.resolve("in").toString
    val out = root.resolve("out").toString
    val chk = root.resolve("chk").toString
    Seq(ev(1, 10, 1), ev(2, 20, 2), ev(3, 40, 3)).toDS()
      .write.json(in)
    // flush file: 3h later, advances the watermark past hour 0
    Seq(ev(4, 180, 1)).toDS().write.mode("append").json(in)

    val schema = implicitly[org.apache.spark.sql.Encoder[Event]].schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in).as[Event]
    val query = tumblingCounts(stream).writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", chk)
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try assert(query.awaitTermination(120000), "stream did not finish")
    finally query.stop()

    val rows = spark.read.parquet(out)
      .selectExpr("window_start", "n").as[(Timestamp, Long)].collect()
    assert(rows.toSeq.sorted == Seq((ts(0), 3L))) // hour 3 still open
  }

  test("a late in-gap event never regresses the session horizon") {
    val input = MemoryStream[Event]
    val query = sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessionsLate")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, 0, 7), ev(2, 20, 7))
      query.processAllAvailable()
      input.addData(ev(3, 10, 7)) // cross-batch late arrival, in-gap
      query.processAllAvailable()
      input.addData(ev(4, 60, 7)) // 40 min after the TRUE last → closes
      query.processAllAvailable()
      val closed = spark.table("sessionsLate").as[SessionSummary].collect()
      // one session 0-20 with 3 events; a regressed horizon would have
      // closed (0,10,3) instead
      assert(closed.toSeq == Seq(SessionSummary(7L, ts(0), ts(20), 3L)))
    } finally query.stop()
  }

  test("a late event a full gap before the session start is its own island") {
    val input = MemoryStream[Event]
    val query = sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessionsPreGap")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, 100, 8), ev(2, 105, 8))
      query.processAllAvailable()
      // 100 - 40 = 60 min before the stored start: > the 30-min gap, so
      // this must CLOSE as its own 1-event session, not fuse across the
      // silent gap (the batch twin would emit two sessions too)
      input.addData(ev(3, 40, 8))
      query.processAllAvailable()
      val closed = spark.table("sessionsPreGap").as[SessionSummary].collect()
      assert(closed.toSeq == Seq(SessionSummary(8L, ts(40), ts(40), 1L)))
      // the ongoing 100-105 session is untouched: a later event closes it
      input.addData(ev(4, 150, 8))
      query.processAllAvailable()
      val all = spark.table("sessionsPreGap").as[SessionSummary].collect()
      assert(all.toSet == Set(
        SessionSummary(8L, ts(40), ts(40), 1L),
        SessionSummary(8L, ts(100), ts(105), 2L)))
    } finally query.stop()
  }

  test("two late islands within the gap of the stored interval bridge through it") {
    val input = MemoryStream[Event]
    val query = sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessionsBridge")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, 100, 9), ev(2, 110, 9))
      query.processAllAvailable()
      // 80 is within the gap of start=100; 130 within the gap of
      // last=110: all merge into one 80-130 session
      input.addData(ev(3, 80, 9), ev(4, 130, 9))
      query.processAllAvailable()
      input.addData(ev(5, 200, 9)) // 70 min after 130 → closes
      query.processAllAvailable()
      val closed = spark.table("sessionsBridge").as[SessionSummary].collect()
      assert(closed.toSeq == Seq(SessionSummary(9L, ts(80), ts(130), 4L)))
    } finally query.stop()
  }

  test("event-time timeout closes an idle session when the watermark passes") {
    val input = MemoryStream[Event]
    val query = sessionizeWithTimeout(input.toDS())
      .writeStream.format("memory").queryName("sessionsTO")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, 0, 7), ev(2, 10, 7))
      query.processAllAvailable()
      assert(spark.table("sessionsTO").count() == 0) // open, in state
      // OTHER user's event at t=3h advances the watermark (3h − 1h)
      // past user 7's last(10min) + gap(30min): the idle session must
      // close on timeout, with NO further events from user 7
      input.addData(ev(3, 180, 99))
      query.processAllAvailable()
      input.addData(ev(4, 200, 99)) // one more batch so timeouts fire
      query.processAllAvailable()
      val closed = spark.table("sessionsTO").as[SessionSummary].collect()
      assert(closed.contains(SessionSummary(7L, ts(0), ts(10), 2L)),
        s"idle session not closed: ${closed.toSeq}")
    } finally query.stop()
  }

  test("dedup-within-watermark drops echoes with a DIFFERENT event time") {
    val input = MemoryStream[Event]
    val query = dedupWithinWatermark(input.toDS())
      .writeStream.format("memory").queryName("dedupww")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, 0, 1), ev(2, 1, 1))
      query.processAllAvailable()
      // retransmission of event 1 stamped 5 minutes later — the case
      // dropDuplicates(event_id, ts) would let through
      input.addData(ev(1, 5, 1))
      query.processAllAvailable()
      assert(spark.table("dedupww").count() == 2)
    } finally query.stop()
  }

  test("stream-stream interval join matches views in the prior hour") {
    val views = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val query = viewsBeforePurchase(views.toDS(), purchases.toDS())
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: views at 0 and 25 min; view at 90 min is AFTER the
      // purchase; user 2's view can't match user 1's purchase
      views.addData(ev(10, 0, 1), ev(11, 25, 1), ev(12, 90, 1),
        ev(13, 20, 2))
      purchases.addData(ev(50, 30, 1, "purchase"))
      query.processAllAvailable()
      val got = spark.table("ssjoin")
        .selectExpr("purchase_id", "view_id").as[(Long, Long)]
        .collect().toSet
      assert(got == Set((50L, 10L), (50L, 11L)))
    } finally query.stop()
  }

  test("continuous asset ingest == the nightly asset day off the same artifacts") {
    import graft.operators.DailyIngest
    import org.apache.spark.sql.functions.{concat, encode, lit, when}
    val root = tempDir("graft-cai")
    DailyIngest.writeAssetIndexes(spark, sfDir, s"$root/index_gen_0")

    // arriving rows = the two catalog universes' daily batches, each
    // row declaring its memberships: the q109 asset-catalog batch
    // (audio-catalog membership for audio-kind ORIGINALS — q109
    // variants flip kind and are not in the q126 universe) plus the
    // audio catalog's fingerprint-only variant rows
    val m = graft.multimodal.Multimodal
    val docs = graft.Tables(spark, sfDir, "documents")
    val assetBatch = m.assetDocs(spark, sfDir)
      .filter(col("doc_id") % 10 === 0)
      .join(docs.select(col("doc_id"), lit(true).as("orig")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        lit(true).as("in_asset"),
        (col("orig").isNotNull && col("doc_id") % 3 === 1).as("in_audio"))
    val audioVariants = docs
      .filter(col("doc_id") % 5 === 0 && col("doc_id") % 3 === 1 &&
        col("doc_id") % 10 === 0)
      .select((col("doc_id") + m.AudioVariantIdOffset).as("doc_id"),
        lit("audio").as("kind"),
        encode(concat(expr("char(ascii(substring(text, 1, 1)) + 1)"),
          expr("substring(text, 2)")), "UTF-8").as("payload"),
        lit(false).as("in_asset"), lit(true).as("in_audio"))
    val arriving = assetBatch.unionByName(audioVariants).collect()
      .map(r => StreamMediaAsset(r.getLong(0), ts(0), r.getString(1),
        r.getAs[Array[Byte]](2), r.getBoolean(3), r.getBoolean(4)))
      .toSeq

    val input = MemoryStream[StreamMediaAsset]
    val query = continuousAssetIngest(input.toDS(), root)
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      input.addData(arriving: _*)
      query.processAllAvailable()
    } finally query.stop()

    // the nightly asset day off the SAME disk artifacts
    val outN = tempDir("graft-cai-n")
    DailyIngest.runAssets(spark, s"$root/index_gen_0", sfDir, outN)
    def rowsOf(p: String): Seq[String] =
      spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    val streamed = rowsOf(s"$root/out/batch_0/asset_disposition.parquet")
    assert(streamed.nonEmpty &&
      streamed == rowsOf(s"$outN/asset_disposition.parquet"))
    assert(rowsOf(s"$root/out/batch_0/kept_assets.parquet") ==
      rowsOf(s"$outN/kept_assets.parquet"))
    // generation 1 is a complete next snapshot == the nightly
    // index_next, family by family
    for (fam <- Seq("media_fams", "media_members", "media_bands_c",
        "frame_fps", "audio_fps"))
      assert(rowsOf(s"$root/index_gen_1/$fam.parquet") ==
        rowsOf(s"$outN/index_next/$fam.parquet"), fam)
  }

  test("continuous vector ingest == the nightly vector day off the same artifacts") {
    import graft.operators.{DailyIngest, IndexStore}
    val root = tempDir("graft-cvi")
    DailyIngest.writeVectorIndexes(spark, sfDir, s"$root/index_gen_0")

    // arriving rows = the q194 daily batch universe, in the exact
    // (vec_id, v) frame shape vecSplit derives from the lake
    val arriving = IndexStore.vecSplit(spark, sfDir)._2.collect()
      .map(r => StreamVector(r.getLong(0), ts(0),
        r.getAs[scala.collection.Seq[Double]](1).toArray))
      .toSeq

    val input = MemoryStream[StreamVector]
    val query = continuousVectorIngest(input.toDS(), root)
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      input.addData(arriving: _*)
      query.processAllAvailable()
    } finally query.stop()

    // the nightly vector day off the SAME disk artifacts
    val outN = tempDir("graft-cvi-n")
    DailyIngest.runVectors(spark, s"$root/index_gen_0", sfDir, outN)
    def rowsOf(p: String): Seq[String] =
      spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    val streamed = rowsOf(s"$root/out/batch_0/vector_disposition.parquet")
    assert(streamed.nonEmpty &&
      streamed == rowsOf(s"$outN/vector_disposition.parquet"))
    assert(rowsOf(s"$root/out/batch_0/kept_vectors.parquet") ==
      rowsOf(s"$outN/kept_vectors.parquet"))
    // generation 1 is a complete next snapshot == the nightly
    // index_next: compacted exact/near families AND the carried
    // rebuild-class sem_* tables, family by family
    for (fam <- Seq("vec_hash", "vec_fams", "vec_members", "vec_bands_c",
        "vec_canon", "sem_fams", "sem_vecc", "sem_bandsc", "sem_ccc",
        "sem_statsc"))
      assert(rowsOf(s"$root/index_gen_1/$fam.parquet") ==
        rowsOf(s"$outN/index_next/$fam.parquet"), fam)
  }

  test("continuous ingest: micro-batches chain generations like nightly days") {
    import graft.operators.DailyIngest
    def tmp(tag: String) = tempDir(tag)
    val root = tmp("graft-ci")
    // seed generation 0 from a corpus that has ingested neither day
    DailyIngest.writeIndexesDelta(spark, sfDir, s"$root/index",
      pendingDays = Set(0, 1))
    def docsOf(day: Int): Seq[SourcedDoc] =
      DailyIngest.split(spark, sfDir, day, Set(0, 1))._2
        .select($"doc_id", $"text", $"lang", $"source").collect().toSeq
        .map(r => SourcedDoc(r.getLong(0), ts(day), r.getString(1),
          r.getString(2), r.getString(3)))

    val input = MemoryStream[SourcedDoc]
    val query = continuousIngest(input.toDS(), root)
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      input.addData(docsOf(0): _*)
      query.processAllAvailable()
      input.addData(docsOf(1): _*)
      query.processAllAvailable()
    } finally query.stop()

    // micro-batch 1's disposition == the NIGHTLY rendering of day 1 off
    // a fresh seed whose corpus already holds day 0 — the two-day chain
    // equivalence, now across cadences
    val seedFull = tmp("graft-ci-seed")
    val outFull = tmp("graft-ci-out")
    DailyIngest.writeIndexesDelta(spark, sfDir, seedFull,
      pendingDays = Set(1))
    DailyIngest.runDelta(spark, seedFull, sfDir, outFull, day = 1)
    val nightly = spark.read.parquet(s"$outFull/disposition.parquet")
      .select($"doc_id", $"disposition").as[(Long, String)]
      .collect().sorted.toSeq
    val streamed = spark.read.parquet(s"$root/out/disposition")
      .filter($"batch_id" === 1)
      .select($"doc_id", $"disposition").as[(Long, String)]
      .collect().sorted.toSeq
    assert(streamed.nonEmpty && streamed == nightly)

    // micro-batch N wrote generation N+1, and generations 0..2 fold to
    // a complete index: its text_hash equals a rebuild over every
    // ingested doc (corpus ∪ day 0 ∪ day 1)
    val gens = new java.io.File(s"$root/index/text_hash.parquet")
      .listFiles().map(_.getName).filter(_.startsWith("gen=")).sorted.toSeq
    assert(gens == Seq("gen=0", "gen=1", "gen=2"))
    val folded = tmp("graft-ci-fold")
    DailyIngest.foldDelta(spark, s"$root/index", folded)
    val everything = graft.Tables(spark, sfDir, "documents")
      .filter($"doc_id" % 10 =!= 0)
    val want = graft.operators.LLMQueries.hashIndex(everything)
      .as[String].collect().sorted.toSeq
    val got = spark.read.parquet(s"$folded/text_hash.parquet").drop("gen")
      .as[String].collect().sorted.toSeq
    assert(got == want)
  }

  test("watermarked tumbling counts finalize once the watermark passes") {
    val input = MemoryStream[Event]
    val query = tumblingCounts(input.toDS())
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(ev(1, 10, 1), ev(2, 20, 2), ev(3, 40, 3))
      query.processAllAvailable()
      assert(spark.table("tumbling").count() == 0) // hour 0 not final yet
      // event at t=3h advances watermark (3h - 1h) past hour 0's end
      input.addData(ev(4, 180, 1))
      query.processAllAvailable()
      val rows = spark.table("tumbling")
        .selectExpr("window_start", "n").as[(Timestamp, Long)].collect()
      assert(rows.toSeq == Seq((ts(0), 3L)))
    } finally query.stop()
  }

  test("streaming tokenize applies the frozen vocab and finalizes after watermark") {
    val input = MemoryStream[StreamDoc]
    // the frozen artifact: "hello" merges to 2 tokens, "world" to 1
    val vocab = Seq(("hello", 2L), ("world", 1L)).toDF("t", "n_tok")
    val query = streamingTokenize(input.toDS(), vocab)
      .writeStream.format("memory").queryName("stok")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamDoc(1L, ts(0), "hello world oov"),
        StreamDoc(2L, ts(1), "hello hello"))
      query.processAllAvailable()
      // advance the watermark past the first window so it finalizes
      input.addData(StreamDoc(3L, ts(150), "late doc"))
      query.processAllAvailable()
      val out = spark.table("stok")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      // doc 1: 3 words, 2 (hello) + 1 (world) + 1 (oov) = 4 tokens;
      // doc 2: 2 words, 4 tokens — exactly the q113 batch counting rule
      assert(out == Seq((1L, 3L, 4L), (2L, 2L, 4L)))
    } finally query.stop()
  }

  test("streaming decontamination alerts only on eval-gram overlap") {
    val input = MemoryStream[StreamDoc]
    // eval doc 0 (0 % 10 == 0) contributes grams "a b c d e"/"b c d e f"
    val evalGrams = graft.operators.CurationQueries.evalGramIndex(
      Seq((0L, "a b c d e f", "en")).toDF("doc_id", "text", "lang"))
    val query = streamingDecontaminate(input.toDS(), evalGrams)
      .writeStream.format("memory").queryName("sdecon")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        StreamDoc(1L, ts(0), "x a b c d e"), // shares "a b c d e"
        StreamDoc(2L, ts(1), "p q r s t u")) // clean — must NOT emit
      query.processAllAvailable()
      input.addData(StreamDoc(3L, ts(150), "zz zz")) // advance watermark
      query.processAllAvailable()
      val out = spark.table("sdecon").as[(Long, Long, Long)]
        .collect().toSeq
      assert(out == Seq((1L, 2L, 1L))) // 2 grams, 1 contaminated
    } finally query.stop()
  }

  test("streaming fuzzy decon verifies inline and matches the batch rule") {
    val input = MemoryStream[StreamDoc]
    val evalWords = (0 until 30).map(i => s"e$i")
    val evalDf = Seq((10L, evalWords.mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val (eBands, eSets) =
      graft.operators.LLMQueries.signatureTables(evalDf)
    val query = streamingFuzzyDecontaminate(input.toDS(),
      eBands, eSets)
      .writeStream.format("memory").queryName("sfuzzy")
      .outputMode(OutputMode.Append).start()
    try {
      val para = (evalWords.dropRight(1) :+ "changed").mkString(" ")
      input.addData(
        StreamDoc(1L, ts(0), para),              // near-copy → alert
        StreamDoc(2L, ts(1), "p q r s t u v w")) // clean — must NOT emit
      query.processAllAvailable()
      input.addData(StreamDoc(3L, ts(150), "zz zz zz")) // advance watermark
      query.processAllAvailable()
      val out = spark.table("sfuzzy").as[(Long, Long, Double)]
        .collect().toSeq
      // 30-word docs share 27 of 28 shingles → J = 27/29
      assert(out == Seq((1L, 10L, 0.931034)))
      // the batch daily rule over the same frames agrees
      val batch = graft.operators.CurationQueries
        .incrementalFuzzyDecontaminate(eBands, eSets,
          Seq((1L, para, "en"), (2L, "p q r s t u v w", "en"))
            .toDF("doc_id", "text", "lang"))
        .as[(Long, Long, Long, Double)].collect().toSeq
      assert(batch == Seq((1L, 1L, 10L, 0.931034)))
    } finally query.stop()
  }

  test("streaming novelty score off the window index equals the batch rule") {
    val input = MemoryStream[StreamDoc]
    // corpus doc: windows "w1..w8" and "w2..w9" (8-word windows)
    val corpus = Seq((0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val idx = graft.operators.CurationQueries.substrWindowIndex(corpus)
    val query = streamingNoveltyScore(input.toDS(), idx)
      .writeStream.format("memory").queryName("snov")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        // doc 1: same 9 words → both windows corpus-known → novelty 0
        StreamDoc(1L, ts(0), "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
        // doc 2: one known window, one novel → 1/2 = 500000 micro
        StreamDoc(2L, ts(1), "w1 w2 w3 w4 w5 w6 w7 w8 x9"),
        // doc 3: too short for any window → fully novel by convention
        StreamDoc(3L, ts(2), "a b"))
      query.processAllAvailable()
      input.addData(StreamDoc(9L, ts(150), "zz zz")) // advance watermark
      query.processAllAvailable()
      val out = spark.table("snov").as[(Long, Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
      assert(out == Seq((1L, 2L, 2L, 0L), (2L, 2L, 1L, 500000L),
        (3L, 0L, 0L, 1000000L)))
      // the batch q158 rule on the same frames agrees row for row
      val batch = graft.operators.CurationQueries.noveltyReport(idx,
        Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
          (2L, "w1 w2 w3 w4 w5 w6 w7 w8 x9"), (3L, "a b"))
          .toDF("doc_id", "text"))
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(out == batch)
    } finally query.stop()
  }

  test("streaming BM25 search off impact postings equals the batch formula") {
    val input = MemoryStream[StreamDoc]
    val corpus = Seq((10L, "a a b"), (11L, "a c"), (12L, "b b b c"))
      .toDF("doc_id", "text")
    val (ctf, cdl) = graft.operators.LLMQueries.bm25Index(corpus)
    val posts = graft.operators.LLMQueries.bm25ScoredPostings(ctf, cdl)
    val query = streamingBm25Search(input.toDS(), posts)
      .writeStream.format("memory").queryName("sbm25")
      .outputMode(OutputMode.Append).start()
    try {
      // query "a c a" → distinct terms {a, c}
      input.addData(StreamDoc(100L, ts(0), "a c a"))
      query.processAllAvailable()
      input.addData(StreamDoc(999L, ts(150), "zzz")) // advance watermark
      query.processAllAvailable()
      // the Okapi contribution recomputed driver-side: N=3, avgdl=3,
      // k1=1.2, b=0.75 — the exact constants the shared score SQL bakes
      def s(tf: Long, df: Long, dl: Long): Long =
        math.round(math.log((3 - df + 0.5) / (df + 0.5) + 1.0) *
          (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / 3.0)) * 1e6)
      val out = spark.table("sbm25").as[(Long, Long, Long, Long)]
        .collect().sortBy(_._2).toSeq
      assert(out == Seq(
        (100L, 10L, s(2, 2, 3), 1L),                 // 'a' only
        (100L, 11L, s(1, 2, 2) + s(1, 2, 2), 2L),    // 'a' + 'c'
        (100L, 12L, s(1, 2, 4), 1L)))                // 'c' only
    } finally query.stop()
  }

  test("streaming QL search off impact postings equals the batch formula") {
    val input = MemoryStream[StreamDoc]
    val corpus = Seq((10L, "a a b"), (11L, "a c"), (12L, "b b b c"))
      .toDF("doc_id", "text")
    val (ctf, cdl) = graft.operators.LLMQueries.bm25Index(corpus)
    val posts = graft.operators.LLMQueries.qlScoredPostings(ctf, cdl)
    val query = streamingQlSearch(input.toDS(), posts)
      .writeStream.format("memory").queryName("sql1")
      .outputMode(OutputMode.Append).start()
    try {
      // query "a c a" → distinct terms {a, c}, |q| = 2
      input.addData(StreamDoc(100L, ts(0), "a c a"))
      query.processAllAvailable()
      input.addData(StreamDoc(999L, ts(150), "zzz")) // advance watermark
      query.processAllAvailable()
      // Dirichlet (μ=300) recomputed driver-side: |C|=9, cf(a)=3, cf(c)=2
      def m(tf: Long, cf: Long): Long =
        math.round(math.log(1.0 + (tf * 9) / (300.0 * cf)) * 1e6)
      def dn(dl: Long): Long =
        math.round(math.log(300.0 / (dl + 300.0)) * 1e6)
      val out = spark.table("sql1").as[(Long, Long, Long, Long)]
        .collect().sortBy(_._2).toSeq
      assert(out == Seq(
        (100L, 10L, m(2, 3) + 2 * dn(3), 1L),           // 'a' only
        (100L, 11L, m(1, 3) + m(1, 2) + 2 * dn(2), 2L), // 'a' + 'c'
        (100L, 12L, m(1, 2) + 2 * dn(4), 1L)))          // 'c' only
    } finally query.stop()
  }
}
