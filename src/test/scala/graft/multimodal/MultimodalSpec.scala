package graft.multimodal

import graft.SparkSpec

/** The multimodal plumbing must be real even though the codec is faked:
  * schema/encoders round-trip, batch shapes hold, outputs deterministic.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Multimodal.mediaTable(spark, sfDir)

  test("media table carries binary payloads with typed metadata") {
    val row = media.filter(_.doc_id == 0L).head()
    assert(row.kind == "image" && row.format == "png")
    assert(row.payload.nonEmpty)
    assert(new String(row.payload, "UTF-8").nonEmpty) // round-trips
  }

  test("feature extraction is deterministic and fixed-dimension") {
    val a = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f.features.toSeq).toMap
    val b = Multimodal.extractFeatures(media).collect()
      .map(f => f.doc_id -> f.features.toSeq).toMap
    assert(a == b)
    assert(a.values.forall(_.length == 16))
    // histogram is a probability vector
    a.values.foreach(f => assert(math.abs(f.sum - 1.0f) < 1e-3))
  }

  test("feature extraction is a narrow map: partitioning preserved") {
    val parts = media.repartition(5)
    val out = Multimodal.extractFeatures(parts)
    assert(out.rdd.getNumPartitions == 5)
    assert(out.count() == media.count())
  }

  test("feature summary aggregates without re-reading payloads") {
    val sum = Multimodal.featureSummary(spark, sfDir).collect()
    assert(sum.map(_.getString(0)).toSet == Set("image", "audio", "video"))
    assert(sum.map(_.getLong(1)).sum == media.count())
  }

  // ---- the real decoder boundary (VERDICT r9 "Next round" #3) --------

  /** A w×h binary P6 PPM with the given RGB pixel function. */
  private def ppm(w: Int, h: Int)(px: Int => (Int, Int, Int)): Array[Byte] = {
    val header = s"P6\n# crafted\n$w $h\n255\n".getBytes("US-ASCII")
    val raster = (0 until w * h).flatMap { p =>
      val (r, g, b) = px(p); Seq(r.toByte, g.toByte, b.toByte)
    }
    header ++ raster
  }

  /** A canonical mono 16-bit PCM RIFF/WAVE file around the samples. */
  private def wav(samples: Seq[Int]): Array[Byte] = {
    val dataLen = samples.length * 2
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    "RIFF".getBytes ++ le32(36 + dataLen) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(16000) ++ le16(2) ++ le16(16) ++
      "data".getBytes ++ le32(dataLen) ++
      samples.toArray.flatMap(le16)
  }

  test("PPM decoder round-trips a crafted asset to exact luminance") {
    // 2×2: pure red, pure green, pure blue, white — integer Rec.601
    val img = ppm(2, 2) {
      case 0 => (255, 0, 0)
      case 1 => (0, 255, 0)
      case 2 => (0, 0, 255)
      case _ => (255, 255, 255)
    }
    val lum = Multimodal.PpmDecoder.decode(img).map(_ & 0xff)
    assert(lum.toSeq == Seq(
      299 * 255 / 1000, 587 * 255 / 1000, 114 * 255 / 1000, 255))
    // malformed payloads degrade to the empty signal, never throw
    assert(Multimodal.PpmDecoder.decode("not a ppm".getBytes).isEmpty)
    assert(Multimodal.PpmDecoder.decode(img.take(10)).isEmpty)
    assert(Multimodal.FakeCodec.dHash(Array.empty[Byte]) == 0L)
  }

  test("WAV PCM decoder round-trips a crafted asset to exact samples") {
    val s = Seq(0, 256, -256, 32767, -32768)
    val bytes = Multimodal.WavPcmDecoder.decode(wav(s)).map(_ & 0xff)
    // (sample >> 8) + 128: arithmetic shift, so -256 >> 8 = -1
    assert(bytes.toSeq == Seq(128, 129, 127, 255, 0))
    assert(Multimodal.WavPcmDecoder.decode("RIFFjunk".getBytes).isEmpty)
    // a compressed (non-PCM) format tag is rejected, not misread
    val bad = wav(s); bad(20) = 2 // fmt tag: 2 = ADPCM
    assert(Multimodal.WavPcmDecoder.decode(bad).isEmpty)
  }

  test("both decoders drive the SAME hash pipeline; near-identical " +
      "real images stay Hamming-close") {
    // two 64×1 zigzag PPMs differing in one pixel's brightness: the
    // decoded luminance differs in one of dHash's 64 windows, so the
    // hashes differ in at most 2 adjacent comparison bits (a MONOTONE
    // ramp would hash to 0 — every adjacent comparison false)
    def grad(bump: Int) = ppm(64, 1) { p =>
      val v = (p * 37) % 200 + (if (p == 10) bump else 0)
      (v, v, v)
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", grad(0), 64, 1, "ppm"),
      Multimodal.MediaRow(2L, "image", grad(40), 64, 1, "ppm"))
      .toDS()
    val real = Multimodal.perceptualHashes(rows, Multimodal.PpmDecoder)
      .collect().map(h => h.doc_id -> h.phash).toMap
    assert(real(1L) != 0L) // the real parse produced a genuine signal
    assert(java.lang.Long.bitCount(real(1L) ^ real(2L)) <= 2)
    // the same pipeline under the fake decoder: also fine, different
    // signal (the PPM header bytes shift every window)
    val fake = Multimodal.perceptualHashes(rows)
      .collect().map(h => h.doc_id -> h.phash).toMap
    assert(fake.size == 2)
    // audio: the crafted WAV through the real PCM decoder yields
    // fingerprints via the SAME band-energy machinery as the fake
    val tone = wav((0 until 256).map(i => (i % 64) * 512 - 16384))
    val aRows = Seq(Multimodal.MediaRow(3L, "audio", tone,
      0, 0, "wav")).toDS()
    val fps = Multimodal.audioFps(aRows, Multimodal.WavPcmDecoder).collect()
    assert(fps.nonEmpty && fps.forall(_.doc_id == 3L))
    // 256 samples → (256-64)/32+1 = 7 windows
    assert(fps.length == 7)
  }

  test("dHash: deterministic, first-byte bump flips at most bit 0") {
    val p = "some fake image payload bytes for hashing".getBytes("UTF-8")
    assert(Multimodal.FakeCodec.dHash(p) == Multimodal.FakeCodec.dHash(p.clone()))
    val bumped = p.clone(); bumped(0) = (bumped(0) + 1).toByte
    val x = Multimodal.FakeCodec.dHash(p) ^ Multimodal.FakeCodec.dHash(bumped)
    assert((x & ~1L) == 0L, s"bump changed bits beyond bit 0: $x")
    // short payloads (< 64 bytes → empty windows) are well-defined
    assert(Multimodal.FakeCodec.dHash("ab".getBytes) ==
      Multimodal.FakeCodec.dHash("ab".getBytes))
    assert(Multimodal.FakeCodec.dHash(Array.emptyByteArray) == 0L)
  }

  test("phash near-dups == quadratic Hamming scan (pigeonhole exactness)") {
    val hashes = Multimodal.perceptualHashes(
      Multimodal.assetTable(spark, sfDir)).collect()
    val expected = (for {
      i <- hashes.indices; j <- (i + 1) until hashes.length
      a = hashes(i); b = hashes(j)
      h = java.lang.Long.bitCount(a.phash ^ b.phash)
      if h <= Multimodal.MediaHammingMax
    } yield {
      val (lo, hi) = if (a.doc_id < b.doc_id) (a.doc_id, b.doc_id)
        else (b.doc_id, a.doc_id)
      (lo, hi, h.toLong)
    }).toSet
    val got = Multimodal.mediaNearDups(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
    // every injected variant is found as a near-dup of its original
    val variantPairs = got.filter(_._2 >= 1000000000L)
    assert(variantPairs.nonEmpty)
    assert(variantPairs.forall { case (a, b, h) =>
      (b - 1000000000L == a && h <= 1) || h <= Multimodal.MediaHammingMax })
    assert(hashes.count(_.doc_id >= 1000000000L) ==
      variantPairs.count(p => p._2 - 1000000000L == p._1))
  }

  test("frame near-dups == driver-side containment recomputation") {
    val fh = Multimodal.frameHashes(Multimodal.assetTable(spark, sfDir))
      .collect()
    val distPairs = fh.map(f => (f.doc_id, f.fhash)).distinct
    val freq = distPairs.groupBy(_._2).view.mapValues(_.length).toMap
    val kept = distPairs.filter(p => freq(p._2) <= Multimodal.FrameDocCap)
    val byDoc = kept.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val ids = byDoc.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      shared = (byDoc(a) intersect byDoc(b)).size if shared > 0
      om = shared.toLong * 1000000L /
        math.min(byDoc(a).size, byDoc(b).size)
      if om >= Multimodal.FrameOverlapMicro
    } yield (a, b, shared.toLong, om)).toSet
    val got = Multimodal.frameNearDups(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    // variants differ from their original in frame 0 only, so every
    // multi-frame variant surfaces as a high-containment pair
    val variantPairs = got.filter(p => p._2 - 1000000000L == p._1)
    assert(variantPairs.nonEmpty)
    assert(variantPairs.forall(_._4 >= Multimodal.FrameOverlapMicro))
  }

  test("incremental media near-dups == full pass restricted to batch pairs") {
    val full = Multimodal.mediaNearDups(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    val inc = Multimodal.incrementalMediaNearDupsDaily(spark, sfDir)
      .as[(Long, Long, Long)].collect().toSet
    def isBatch(id: Long) = id % 10 == 0
    assert(inc == full.filter(p => isBatch(p._1) || isBatch(p._2)))
    assert(inc.nonEmpty) // variants of batch docs guarantee pairs
    // corpus-internal pairs exist in full but are NOT recomputed
    assert(full.exists(p => !isBatch(p._1) && !isBatch(p._2)))
  }

  test("audio near-dups == driver-side containment recomputation") {
    val fh = Multimodal.audioFps(Multimodal.audioAssetTable(spark, sfDir))
      .collect()
    val distPairs = fh.map(f => (f.doc_id, f.fp)).distinct
    val freq = distPairs.groupBy(_._2).view.mapValues(_.length).toMap
    val kept = distPairs.filter(p => freq(p._2) <= Multimodal.AudioDocCap)
    val byDoc = kept.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val ids = byDoc.keys.toSeq.sorted
    val expected = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      shared = (byDoc(a) intersect byDoc(b)).size if shared > 0
      om = shared.toLong * 1000000L /
        math.min(byDoc(a).size, byDoc(b).size)
      if om >= Multimodal.AudioOverlapMicro
    } yield (a, b, shared.toLong, om)).toSet
    val got = Multimodal.audioNearDups(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    // a first-byte bump touches windows 0 and 1 only, so every variant
    // (id = original + the audio offset) surfaces as a containment pair
    val variantPairs = got.filter(p =>
      p._2 - Multimodal.AudioVariantIdOffset == p._1)
    assert(variantPairs.nonEmpty)
    assert(variantPairs.forall(_._4 >= Multimodal.AudioOverlapMicro))
  }

  test("audio fingerprints: first-byte bump perturbs only the first two windows") {
    val payload = Array.tabulate(200)(i => ((i * 37 + 11) % 251).toByte)
    val bumped = payload.clone(); bumped(0) = (bumped(0) + 1).toByte
    val a = Multimodal.FakeCodec.audioFingerprints(payload)
    val b = Multimodal.FakeCodec.audioFingerprints(bumped)
    assert(a.length == b.length && a.length == (200 - 64) / 32 + 1)
    assert(a.drop(2).sameElements(b.drop(2)))
    // short payloads yield no fingerprints rather than a partial window
    assert(Multimodal.FakeCodec.audioFingerprints(new Array[Byte](63)).isEmpty)
  }

  test("incremental audio near-dups == full pass restricted to batch pairs") {
    val full = Multimodal.audioNearDups(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    val inc = Multimodal.incrementalAudioNearDupsDaily(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(inc == full.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0))
    assert(inc.nonEmpty) // the mod-30 variant offset keeps batch pairs alive
  }

  test("q184 band occupancy reconciles against the actual q109 join") {
    import org.apache.spark.sql.functions.{col, sum}
    val occ = Multimodal.mediaBandOccupancy(spark, sfDir)
    // Σ_bands Σ_buckets n·(n−1)/2 IS the band self-join's candidate row
    // count before Hamming filtering and pair dedup — recompute that
    // join raw and require exact equality, so the report can never
    // drift from the pair volume q109 actually pays.
    val bands = Multimodal.phashBands(
      Multimodal.assetHashes(spark, sfDir))
    val raw = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .count()
    val implied = occ.agg(sum(col("pairs_implied"))).head().getLong(0)
    assert(implied == raw,
      s"implied=$implied raw=$raw — occupancy report drifted from the join")
    // and the hot columns are consistent with the raw bucket histogram
    val hot = bands.groupBy(col("band"), col("key")).count()
      .filter(col("count") > Multimodal.MediaBandHotOcc).count()
    val hotReported = occ.agg(sum(col("hot_buckets"))).head().getLong(0)
    assert(hotReported == hot)
  }

  test("q187 cap curve: monotone, bounded, exact at an uncapped sweep point") {
    import org.apache.spark.sql.functions.{col, max => smax}
    val curve = Multimodal.mediaBandCapCurve(spark, sfDir)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(curve.map(_._1).toSeq == Multimodal.BandCapSweep)
    val truthN = curve.head._4
    assert(truthN > 0)
    curve.foreach { case (_, cand, kept, tn, micro) =>
      assert(tn == truthN)
      assert(kept <= cand && kept <= tn)
      assert(micro == kept * 1000000L / tn && micro <= 1000000L)
    }
    // a larger cap never admits fewer candidates or loses truth pairs
    curve.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 >= lo._2 && hi._3 >= lo._3)
    }
    // at a cap >= the largest bucket, banding is uncapped: recall must
    // be exactly pigeonhole recall == 1000000 and the admitted pairs
    // must equal the full band join's distinct pair set
    val bands = Multimodal.phashBands(Multimodal.assetHashes(spark, sfDir))
    val maxOcc = bands.groupBy(col("band"), col("key")).count()
      .agg(smax(col("count"))).head().getLong(0)
    val top = curve.last
    if (maxOcc <= top._1) {
      assert(top._5 == 1000000L, s"uncapped sweep point lost recall: $top")
      val full = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
      assert(top._2 == full)
    }
  }

  test("canonical media flow == member-level reference on the sf tables") {
    val (corpus, batch) = Multimodal.mediaSplit(spark, sfDir)
    val old = Multimodal
      .incrementalMediaNearDups(Multimodal.phashBands(corpus), batch)
      .as[(Long, Long, Long)].collect().toSeq
    val (fams, members, bandsC) = Multimodal.mediaNearDupIndexTables(corpus)
    val canon = Multimodal
      .incrementalMediaNearDupsCanonical(fams, members, bandsC, batch)
      .as[(Long, Long, Long)].collect().toSeq
    assert(canon.nonEmpty)
    assert(canon == old)
    // the collapsed table accounts for exactly the expanded pairs
    val collapsed = Multimodal
      .canonicalMediaPairs(fams, members, bandsC, batch)
      .as[(Long, Long, Long, Long)].collect()
    assert(collapsed.map(_._4).sum == old.length.toLong)
    assert(collapsed.filter(r => r._1 == r._2).forall(_._3 == 0L))
    val keys = collapsed.map(r => (r._1, r._2))
    assert(keys.distinct.length == keys.length)
  }

  test("canonical media compaction handles the hash-family shift") {
    import org.apache.spark.sql.functions.col
    // family A spans the split with the batch member carrying the
    // SMALLEST id (doc 10 < corpus 11, 21) → the canonical shifts
    val h = Seq((10L, 77L), (11L, 77L), (21L, 77L),
      (12L, 900L), (30L, 4000L)).toDF("doc_id", "phash")
    val corpus = h.filter(col("doc_id") % 10 =!= 0)
    val batch = h.filter(col("doc_id") % 10 === 0)
    val (fams, members, bandsC) = Multimodal.mediaNearDupIndexTables(corpus)
    val (gf, gm, gb) = Multimodal.compactMediaNearDupTables(
      fams, members, bandsC, batch)
    val (wf, wm, wb) = Multimodal.mediaNearDupIndexTables(h)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(gf) == rows(wf))
    assert(rows(gm) == rows(wm))
    assert(rows(gb) == rows(wb))
    assert(gm.filter(col("canon") === 10L).count() == 3L) // shifted
  }

  test("incremental frame near-dups == full pass restricted to batch pairs") {
    val full = Multimodal.frameNearDups(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    val inc = Multimodal.incrementalFrameNearDupsDaily(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(inc == full.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0))
    assert(inc.nonEmpty) // the mod-10 variant offset keeps batch pairs alive
  }

  test("incremental media clusters == full election on batch-touched " +
      "clusters") {
    import org.apache.spark.sql.functions.col
    val full = Multimodal.mediaClusterSurvivors(spark, sfDir)
      .as[(Long, Long, Double, Long)].collect()
    // batch-touched = full-pass clusters holding a % 10 == 0 member
    val membership = {
      val pairs = Multimodal.mediaNearDups(spark, sfDir)
        .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.toSeq.groupBy(find)
    }
    val touched = membership.filter(_._2.exists(_ % 10 == 0))
      .values.map(_.min).toSet
    val expected = full.filter(r => touched(r._1)).toSet
    val got = Multimodal.incrementalMediaClustersDaily(spark, sfDir)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty) // batch variants guarantee touched clusters
    // and corpus-only clusters are NOT re-emitted by the daily leg
    assert(full.toSet.size > got.size)
  }

  test("media_cc bridge: a batch asset merges two corpus clusters") {
    import org.apache.spark.sql.functions.col
    // two corpus clusters far apart in Hamming space (h(0x00,0xFF)=8 >
    // 6), a batch asset at 0x0F bridging both (h=4 to each side, and
    // bands 1-6 agree with both sides so banding proposes the pairs)
    val corpusH = Seq(
      (1L, "image", 0x00L), (2L, "image", 0x01L),
      (3L, "image", 0xFFL), (4L, "image", 0xFEL)
    ).toDF("doc_id", "kind", "phash")
    val corpusScored = Seq((1L, 0.3), (2L, 0.9), (3L, 0.7), (4L, 0.2))
      .toDF("doc_id", "quality")
    val ccC = Multimodal.mediaCcOf(corpusH, corpusScored)
      .as[(Long, Long, Double)].collect().toSet
    // the corpus pass forms {1,2} and {3,4}; every asset is labeled
    assert(ccC == Set((1L, 1L, 0.3), (2L, 1L, 0.9),
      (3L, 3L, 0.7), (4L, 3L, 0.2)))
    val batchH = Seq((10L, "image", 0x0FL)).toDF("doc_id", "kind", "phash")
    val batchScored = Seq((10L, 0.5)).toDF("doc_id", "quality")
    val (famsC, _, bandsC) = Multimodal.mediaNearDupIndexTables(corpusH)
    val got = Multimodal.incrementalMediaClusters(
        Multimodal.mediaCcOf(corpusH, corpusScored),
        famsC, bandsC, batchH, batchScored)
      .as[(Long, Long, Double, Long)].collect().toSeq
    // ONE merged cluster: id = min member (1), kept = max quality
    // (doc 2 at 0.9), size = all five members — whole corpus clusters
    // moved as single contracted nodes
    assert(got == Seq((1L, 2L, 0.9, 5L)))
  }

  test("media cluster survivors elect max quality, min id per component") {
    import org.apache.spark.sql.functions.col
    val pairs = Multimodal.mediaNearDups(spark, sfDir)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    // driver union-find over the proven-exact pair set
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = parent.keys.toSeq.groupBy(find)
    // quality per asset evaluated by the SAME expression the engine uses
    val quality = Multimodal.assetDocs(spark, sfDir)
      .select(col("doc_id"),
        graft.operators.LLMQueries.qualityExpr.as("q"))
      .as[(Long, Double)].collect().toMap
    val expected = members.values.map { ms =>
      val (q, kept) = ms.map(m => (quality(m), m))
        .minBy { case (q, id) => (-q, id) }
      (ms.min, kept, q, ms.size.toLong)
    }.toSet
    val got = Multimodal.mediaClusterSurvivors(spark, sfDir)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // on the variant families (equal word multiset up to one first-char
    // bump) the original must win its variant by the doc_id tie-break
    // whenever qualities tie
    members.values.filter(_.size == 2).foreach { ms =>
      val (a, b) = (ms.min, ms.max)
      if (b - a == 1000000000L && quality(a) == quality(b))
        assert(got.exists(s => s._1 == a && s._2 == a))
    }
  }

  test("kept assets = every unclustered asset + one elected per cluster") {
    import org.apache.spark.sql.functions.col
    val docsDf = Multimodal.assetDocs(spark, sfDir)
    val keptIds = Multimodal.keptAssetsOf(spark, docsDf)
      .select(col("doc_id")).as[Long].collect().toSet
    // independent cluster structure: driver union-find over the
    // proven-exact q109 pair set (the survivor test's construction)
    val pairs = Multimodal.mediaNearDups(spark, sfDir)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val clustered = parent.keys.toSet
    val universe = docsDf.select(col("doc_id")).as[Long].collect().toSet
    // every unclustered asset ships
    assert((universe -- clustered).subsetOf(keptIds))
    // exactly one shipped member per cluster
    parent.keys.toSeq.groupBy(find).values.foreach { ms =>
      assert(ms.count(keptIds.contains) == 1,
        s"cluster ${ms.min} shipped ${ms.count(keptIds.contains)}")
    }
    assert(keptIds.size ==
      (universe -- clustered).size + parent.keys.toSeq.groupBy(find).size)
  }
}
