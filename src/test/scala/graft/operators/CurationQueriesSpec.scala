package graft.operators

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Curation-operator invariants: decontamination flags exactly the
  * overlapping train docs, the hash split is deterministic and
  * partition-independent, and sequence packing produces a contiguous
  * chunk stream per language.
  */
class CurationQueriesSpec extends SparkSpec {
  import spark.implicits._

  private def checkProp(prop: Prop, n: Int = 10): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private def docsDf(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "lang")

  test("decontamination flags train docs sharing a 5-gram with eval") {
    // doc 10 is eval (10 % 10 == 0); doc 1 shares its 5-gram window
    // "a b c d e"; doc 2 shares nothing
    val df = docsDf(
      (10L, "a b c d e f", "en"),
      (1L, "x a b c d e", "en"),
      (2L, "p q r s t u", "en"))
    val out = CurationQueries.decontaminateDocs(df)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(1L))
    val (_, nGrams, nHit, ratio) = out.head
    assert(nGrams == 2L && nHit == 1L && ratio == 0.5)
  }

  test("eval-gram broadcast guard fails loudly over the cap") {
    // the bounded-eval precondition (VERDICT r9 #3): with the cap
    // lowered under the eval doc's gram count, the query must raise a
    // named error instead of silently broadcasting an unbounded side
    val df = docsDf(
      (10L, "a b c d e f g h", "en"), // eval: 4 distinct 5-grams > cap 2
      (1L, "x a b c d e", "en"))
    val e = intercept[Exception] {
      CurationQueries.decontaminateDocs(df, evalCap = 2L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("not benchmark-sized")), e.toString)
    // identical frame under the production cap: unchanged behavior
    val ok = CurationQueries.decontaminateDocs(df)
      .as[(Long, Long, Long, Double)].collect()
    assert(ok.map(_._1).toSeq == Seq(1L))
    // the daily flow guards the same way
    val e2 = intercept[Exception] {
      CurationQueries.incrementalDecontaminate(
        CurationQueries.evalGramIndex(df),
        df.filter($"doc_id" % 10 =!= 0), evalCap = 2L).collect()
    }
    assert(msgs(e2).exists(_.contains("not benchmark-sized")), e2.toString)
  }

  test("contamination report: per-eval-doc leak counts, zeros included") {
    // eval doc 10 leaks its one shared gram into train docs 1 AND 2;
    // eval doc 20 is clean and must still appear (zeros)
    val df = docsDf(
      (10L, "a b c d e f", "en"),    // grams: "a b c d e", "b c d e f"
      (1L, "x a b c d e", "en"),     // shares "a b c d e"
      (2L, "a b c d e y", "en"),     // shares "a b c d e"
      (20L, "p q r s t", "en"),      // eval, clean → zero row
      (3L, "z1 z2 z3 z4 z5", "en"))
    val out = CurationQueries.contaminationReportDocs(df)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (10L, 2L, 2L, 1L, 0.5),
      (20L, 1L, 0L, 0L, 0.0)))
  }

  test("decontamination never reports eval docs or clean docs") {
    val df = docsDf(
      (0L, "w1 w2 w3 w4 w5", "en"),
      (20L, "w1 w2 w3 w4 w5", "en"), // eval twin of eval doc 0
      (3L, "z1 z2 z3 z4 z5", "en"))
    assert(CurationQueries.decontaminateDocs(df).isEmpty)
  }

  test("short docs fall back to whole-text grams (exact-copy catch)") {
    val df = docsDf(
      (10L, "tiny doc", "en"),
      (7L, "tiny doc", "en"))
    val out = CurationQueries.decontaminateDocs(df)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.toSeq == Seq((7L, 1L, 1L, 1.0)))
  }

  test("fuzzy decon: paraphrase caught, single-idiom overlap NOT flagged") {
    // 30-word eval doc; train doc 11 is a paraphrase (last word swapped
    // → shingle Jaccard ≈ 0.93, well over ClusterThreshold); train doc
    // 12 shares exactly ONE 5-word idiom (words 5..9) — q74's exact
    // screen fires on it, the similarity screen must NOT (J ≈ 0.06)
    val evalWords = (0 until 30).map(i => s"e$i")
    val para = (evalWords.dropRight(1) :+ "changed").mkString(" ")
    val idiom = ((0 until 5).map(i => s"t$i") ++ evalWords.slice(5, 10) ++
      (10 until 30).map(i => s"t$i")).mkString(" ")
    val df = docsDf(
      (10L, evalWords.mkString(" "), "en"),
      (11L, para, "en"),
      (12L, idiom, "en"))
    val fuzzy = CurationQueries.fuzzyDecontaminateDocs(df)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(fuzzy.map(_._1) == Seq(11L))
    val (_, nMatches, topEval, maxJ) = fuzzy.head
    assert(nMatches == 1L && topEval == 10L && maxJ > 0.9)
    // the exact screen DOES flag the idiom doc — the two rungs are
    // recall (q74) vs precision (q172), not substitutes
    assert(CurationQueries.decontaminateDocs(df)
      .select($"doc_id").as[Long].collect().toSet.contains(12L))
  }

  test("fuzzy decon: daily leg == the full pass restricted to the batch") {
    val full = CurationQueries.fuzzyDecontaminate(spark, sfDir)
      .filter($"doc_id" % CurationQueries.DeconBatchMod === 0)
      .collect().map(_.toString).sorted.toSeq
    val daily = CurationQueries
      .incrementalFuzzyDecontaminateDaily(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(daily == full)
    // liveness at this SF: the full pass flags someone
    assert(CurationQueries.fuzzyDecontaminate(spark, sfDir).count() > 0)
  }

  test("decon rung report reconciles with both rungs and the universe") {
    val rows = CurationQueries.deconRungReport(spark, sfDir)
      .as[(String, Long)].collect().toMap
    val nTrain = graft.Tables(spark, sfDir, "documents")
      .filter($"doc_id" % 10 =!= 0).count()
    assert(rows.values.sum == nTrain)
    val nEx = CurationQueries.decontaminate(spark, sfDir).count()
    val nFz = CurationQueries.fuzzyDecontaminate(spark, sfDir).count()
    assert(rows.getOrElse("both", 0L) +
      rows.getOrElse("exact_only", 0L) == nEx)
    assert(rows.getOrElse("both", 0L) +
      rows.getOrElse("fuzzy_only", 0L) == nFz)
  }

  test("incremental clusters: a batch doc merges two corpus clusters") {
    // corpus: cluster {1,3} (near-copies on the w-words) and cluster
    // {5,7} (w-prefix + x-tail) sit at J≈0.47 — BELOW the threshold, so
    // they are separate clusters; batch doc 10 interpolates (J≈0.70 to
    // cluster A, J≈0.60 to cluster B) and must merge them through the
    // contracted CC without any corpus re-pairing
    val w = (0 until 30).map(i => s"w$i")
    val x = (20 until 30).map(i => s"x$i")
    val corpus = docsDf(
      (1L, w.mkString(" "), "en"),
      (3L, (w.dropRight(1) :+ "c29").mkString(" "), "en"),
      (5L, (w.take(20) ++ x).mkString(" "), "en"),
      (7L, (w.take(20) ++ x.dropRight(1) :+ "d29").mkString(" "), "en"))
    val batch = docsDf((10L, (w.take(23) ++ x.drop(3)).mkString(" "), "en"))
    val (bandsC, setsC) = LLMQueries.signatureTables(corpus)
    val ccC = CurationQueries.connectedComponentsStar(
      LLMQueries.minhashPairsOf(corpus)
        .filter($"jaccard" >= CurationQueries.ClusterThreshold)
        .select($"doc_a", $"doc_b"))._1
      .select($"doc_id", $"cluster_id")
    // precondition: the corpus really holds TWO clusters
    assert(ccC.as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (3L, 1L), (5L, 5L), (7L, 5L)))
    val out = CurationQueries
      .incrementalDedupClusters(bandsC, setsC, ccC, batch)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 5L), (3L, 1L, 5L), (5L, 1L, 5L),
      (7L, 1L, 5L), (10L, 1L, 5L)))
  }

  test("threshold sweep: monotone curves, shipped operating points sane") {
    val rows = CurationQueries.thresholdSweep(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val n = graft.Tables(spark, sfDir, "documents").count()
    assert(rows.map(_._1).distinct.sorted == Seq("quality", "toxicity"))
    assert(rows.forall(_._3 == n)) // every grid row sees every doc
    for (model <- Seq("quality", "toxicity")) {
      val curve = rows.filter(_._1 == model).sortBy(_._2).map(_._5)
      // pass rate is non-increasing in the threshold
      assert(curve.zip(curve.tail).forall { case (a, b) => a >= b })
    }
    val byKey = rows.map(r => (r._1, r._2) -> r._5).toMap
    // the calibrated quality point keeps roughly the top half —
    // the invariant whose violation was this round's q84 bug
    val qKeep = byKey(("quality",
      Math.round(CurationQueries.QualityThreshold * 1000000)))
    assert(qKeep > 350000L && qKeep < 650000L, qKeep.toString)
    // the toxicity point flags a small high tail, not half the corpus
    val tFlag = byKey(("toxicity", 300000L))
    assert(tFlag > 0L && tFlag < 200000L, tFlag.toString)
  }

  test("hash split is deterministic and partition-count-independent") {
    val rows = (0L until 200L).map(i =>
      (i, s"tok${i % 7} tok${i % 5} tok${i % 3}",
        Seq("en", "de", "zh")(atInt(i, 3))))
    val a = CurationQueries.hashSplitDocs(rows.toDF("doc_id", "text", "lang"))
      .collect().toSeq
    val b = CurationQueries.hashSplitDocs(
      rows.toDF("doc_id", "text", "lang").repartition(7)).collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  private def atInt(i: Long, n: Int): Int = (i % n).toInt

  test("hash split samples a subset and zh is sampled leaner than en") {
    val rows = (0L until 3000L).flatMap(i =>
      Seq((i * 2, "a b c", "en"), (i * 2 + 1, "a b c", "zh")))
    val out = CurationQueries.hashSplitDocs(
      rows.toDF("doc_id", "text", "lang"))
      .as[(String, String, Long, Long)].collect()
    val byLang = out.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(byLang("en") < 3000L && byLang("zh") < 3000L)
    // 0.90 vs 0.25 nominal rates — en must dominate by a wide margin
    assert(byLang("en") > 2L * byLang("zh"))
    assert(out.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("sequence packing: chunk ranges are contiguous per (lang, shard)") {
    val wordGen = Gen.choose(1, 40)
    checkProp(Prop.forAll(Gen.listOfN(30, wordGen)) { lens =>
      val rows = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, Seq.fill(n)("w").mkString(" "),
          if (i % 2 == 0) "en" else "de")
      }
      val out = CurationQueries.packSequencesDocs(
        rows.toDF("doc_id", "text", "lang"))
        .as[(Long, String, Long, Long, Long, Long)].collect()
        .groupBy(d => (d._2, d._3))
      out.forall { case ((_, shard), docs) =>
        val base = shard << 32
        val sorted = docs.sortBy(_._1)
        sorted.head._5 == base &&
          sorted.forall { case (_, _, _, n, s, e) =>
            s <= e && e - s <= n / CurationQueries.PackTokens + 1
          } &&
          sorted.sliding(2).forall {
            case Array((_, _, _, _, _, e1), (_, _, _, _, s2, _)) =>
              s2 == e1 || s2 == e1 + 1
            case _ => true
          }
      }
    })
  }

  test("sequence packing: shard boundary restarts numbering with prefix") {
    // docs straddling the PackShardDocs=128 boundary: doc 128 opens
    // shard 1, its chunk ids carry the 1<<32 prefix and local numbering
    // restarts at 0
    val rows = Seq(
      (127L, Seq.fill(300)("w").mkString(" "), "en"),
      (128L, Seq.fill(10)("w").mkString(" "), "en"))
    val out = CurationQueries.packSequencesDocs(
      rows.toDF("doc_id", "text", "lang"))
      .as[(Long, String, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out(0)._3 == 0L && out(0)._5 == 0L && out(0)._6 == 1L)
    assert(out(1)._3 == 1L &&
      out(1)._5 == (1L << 32) && out(1)._6 == (1L << 32))
  }

  test("source caps: two-level top-K equals the direct global rank") {
    // a hot source with 400 docs spanning 4 shards plus a small source;
    // the sharded formulation must reproduce the direct one-window rank
    val rnd = new scala.util.Random(5)
    val rows = (0L until 400L).map { id =>
      val words = Seq.fill(5 + rnd.nextInt(200))("w" + rnd.nextInt(50))
      (id, words.mkString(" "), "en", if (id < 360) "web" else "books")
    }
    val df = rows.toDF("doc_id", "text", "lang", "source")
    val got = CurationQueries.sourceCapsDocs(df)
      .as[(String, Long, Long, Double)].collect().toSeq
    // direct single-window reference
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, row_number}
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    val want = df.select(col("doc_id"), col("source"),
        LLMQueries.qualityExpr.as("quality"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= CurationQueries.SourceCap)
      .select(col("source"), col("rk").cast("long"), col("doc_id"),
        col("quality"))
      .orderBy(col("source"), col("rk"))
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == want)
    assert(got.count(_._1 == "web") == CurationQueries.SourceCap)
    assert(got.count(_._1 == "books") == CurationQueries.SourceCap.min(40))
  }

  test("connected components match a driver-side union-find") {
    val edgeGen = for {
      a <- Gen.choose(0L, 19L); b <- Gen.choose(0L, 19L) if a != b
    } yield (math.min(a, b), math.max(a, b))
    checkProp(Prop.forAll(Gen.listOfN(12, edgeGen)) { edges =>
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(n => n -> find(n)).toMap
      val got = CurationQueries.connectedComponents(
        edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long, Long)].collect()
        .map { case (id, label, _) => id -> label }.toMap
      got == want
    })
  }

  test("cluster sizes count every member of the component") {
    // path 1-2-3 plus pair 10-11: sizes 3 and 2, min-id labels
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = CurationQueries.connectedComponents(edges)
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L)))
  }

  test("sequence packing totals: last chunk index matches token sum") {
    val rows = Seq(
      (1L, Seq.fill(300)("w").mkString(" "), "en"),
      (2L, Seq.fill(300)("w").mkString(" "), "en"))
    val out = CurationQueries.packSequencesDocs(
      rows.toDF("doc_id", "text", "lang"))
      .as[(Long, String, Long, Long, Long, Long)].collect().sortBy(_._1)
    // 600 tokens / 256 → last token in chunk 2; doc1 spans 0-1, doc2 1-2
    // (both docs in shard 0, so the shard prefix is 0)
    assert(out(0)._5 == 0L && out(0)._6 == 1L)
    assert(out(1)._5 == 1L && out(1)._6 == 2L)
  }

  test("repetition stats: known ratios and threshold flags") {
    val out = CurationQueries.repetitionStatsDocs(docsDf(
      (1L, "a a a a", "en"),        // 3 bigrams, 1 distinct → dup 2/3
      (2L, "a b c d e f", "en"),    // all distinct, top 1/6 → ok
      (3L, "solo", "en")))          // 1 word: no bigrams, top 1.0
      .as[(Long, Long, Double, Double, Double, String)]
      .collect().sortBy(_._1)
    assert(out(0) == ((1L, 4L, 0.25, 1.0, 0.666667, "repetitive")))
    assert(out(1) == ((2L, 6L, 1.0, 0.166667, 0.0, "ok")))
    assert(out(2) == ((3L, 1L, 1.0, 1.0, 0.0, "repetitive")))
  }

  test("repetition stats match a driver-side recomputation") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val genDoc = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "dd", "eee"))
      .map(_.take(30))
    val genDocs = Gen.nonEmptyListOf(genDoc).map(_.take(8).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" "), "en") })
    checkProp(Prop.forAll(genDocs) { docs =>
      val got = CurationQueries.repetitionStatsDocs(docsDf(docs: _*))
        .as[(Long, Long, Double, Double, Double, String)]
        .collect().map(r => r._1 -> r).toMap
      docs.forall { case (id, text, _) =>
        val w = text.split("\\s+").toSeq
        val top = w.groupBy(identity).values.map(_.size).max
        val bi = if (w.length >= 2) w.sliding(2).map(_.mkString(" ")).toSeq
                 else Seq.empty
        val dup = if (bi.nonEmpty)
          round6(1.0 - bi.distinct.length.toDouble / bi.length) else 0.0
        got(id) == ((id, w.length.toLong,
          round6(w.distinct.length.toDouble / w.length),
          round6(top.toDouble / w.length), dup,
          if (round6(top.toDouble / w.length) > 0.2 || dup > 0.4)
            "repetitive" else "ok"))
      }
    })
  }

  test("pii scrub: counts, redaction length, zero residual") {
    val dirty = "hi a@b.co and c.d@e.org call 123-456-7890"
    val out = CurationQueries.piiScrubDocs(docsDf(
      (1L, dirty, "en"),
      (2L, "no pii here at all", "en")))
      .as[(Long, Long, Long, Long, Long)].collect()
    val want = "hi <EMAIL> and <EMAIL> call <PHONE>"
    assert(out.toSeq == Seq((1L, 2L, 1L, want.length.toLong, 0L)))
  }

  test("star connected components match union-find on random graphs") {
    val genEdges = Gen.listOfN(25,
      Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
      .map(_.filter { case (a, b) => a != b })
      .suchThat(_.nonEmpty)
    checkProp(Prop.forAll(genEdges) { edges =>
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(n => n -> find(n)).toMap
      val got = CurationQueries.connectedComponentsStar(
        edges.toDF("doc_a", "doc_b"))._1
        .as[(Long, Long, Long)].collect()
        .map { case (id, label, _) => id -> label }.toMap
      got == want
    })
  }

  test("star components converge in O(log n) rounds on a long path") {
    // a 64-node chain: min-label propagation needs ~63 rounds; the
    // large-star/small-star alternation must stay logarithmic
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = CurationQueries.connectedComponentsStar(edges)
    val out = labels.as[(Long, Long, Long)].collect()
    assert(out.forall { case (_, label, size) => label == 1L && size == 64L })
    assert(rounds <= 12, s"rounds=$rounds — superlogarithmic on a chain")
  }

  test("survivor election keeps max quality, breaking ties by min id") {
    val clusters = Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), // cluster 1
      (10L, 10L, 2L), (11L, 10L, 2L))           // cluster 10
      .toDF("doc_id", "cluster_id", "cluster_size")
    val scored = Seq(
      (1L, 0.5), (2L, 0.9), (3L, 0.9),   // 2 and 3 tie → 2 wins
      (10L, 0.4), (11L, 0.8))
      .toDF("doc_id", "quality")
    val out = CurationQueries.electSurvivors(clusters, scored)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(out == Set((1L, 2L, 0.9, 3L), (10L, 11L, 0.8, 2L)))
  }

  test("quality classifier matches an independent weight computation") {
    def weight(token: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-w:$token".getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(3)
      java.lang.Long.parseLong(hex, 16) - 2048L
    }
    val out = CurationQueries.qualityClassifierDocs(docsDf(
      (1L, "alpha beta alpha", "en"),
      (2L, "gamma", "de")))
      .as[(Long, String, Long, Long, Double, String)]
      .collect().sortBy(_._1)
    val s1 = 2 * weight("alpha") + weight("beta")
    assert(out(0)._3 == 3L && out(0)._4 == s1)
    assert(out(0)._5 ==
      BigDecimal(s1 / (3 * 2048.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(out(1)._4 == weight("gamma"))
    val flag = if (out(1)._5 >= CurationQueries.QualityThreshold) "keep"
               else "drop"
    assert(out(1)._6 == flag)
  }

  test("quality classifier score is token-order independent") {
    val out = CurationQueries.qualityClassifierDocs(docsDf(
      (1L, "p q r s", "en"),
      (2L, "s r q p", "en")))
      .as[(Long, String, Long, Long, Double, String)].collect()
    assert(out.map(_._4).distinct.length == 1)
  }

  test("pii seeding hits exactly the 7- and 11-multiples") {
    val seeded = CurationQueries.seedPii(docsDf(
      (0L, "t", "en"), (1L, "t", "en"), (7L, "t", "en"), (11L, "t", "en")))
      .as[(Long, String)].collect().toMap
    assert(seeded(0L) == "t contact user0@example.com now call 555-000-0000")
    assert(seeded(1L) == "t")
    assert(seeded(7L) == "t contact user7@example.com now")
    assert(seeded(11L) == "t call 555-011-0011")
  }

  // ---- segment dedup (q89) -------------------------------------------

  /** 10 words per segment: "A"/"B"/… below name distinct 10-word blocks
    * (w0 … w9 etc.) so segment identity is easy to control. */
  private def block(tag: String): String =
    (0 until CurationQueries.SegWords).map(i => s"$tag$i").mkString(" ")

  test("substring dup stats catch passages straddling segment boundaries") {
    // the shared 8-word passage sits at DIFFERENT offsets in the two
    // docs, so q89's aligned 10-word segments would never match it —
    // the sliding window does regardless of alignment. Within-doc
    // repetition alone (doc 4) must NOT count (cross-doc means ≥2
    // distinct docs); short docs surface with zero windows.
    val corpus = Seq(
      (1L, "p1 p2 p3 A B C D E F G H t1"),
      (2L, "A B C D E F G H z1 z2"),
      (3L, "x y"),
      (4L, "r r r r r r r r r r")).toDF("doc_id", "text")
    val out = CurationQueries.substringDupStatsDocs(corpus)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 5L, 1L, 200000L),
      (2L, 3L, 1L, 333333L),
      (3L, 0L, 0L, 0L),
      (4L, 3L, 0L, 0L)))
  }

  test("segment dedup keeps the corpus-wide first occurrence only") {
    val a = block("a"); val b = block("b"); val c = block("c")
    val out = CurationQueries.segmentDedupDocs(docsDf(
      (1L, s"$a $b", "en"),
      (2L, s"$b $c", "en"),   // b already seen in doc 1
      (3L, s"$c $c", "en")))  // c seen in doc 2; second c is in-doc repeat
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 2L, 2L, s"$a $b")))
    assert(out(1) == ((2L, 2L, 1L, c)))
    assert(out(2) == ((3L, 2L, 0L, "")))
  }

  test("segment dedup preserves in-order reassembly and partial tails") {
    val a = block("a")
    // doc 4: a + 3-word tail; the tail is its own (partial) segment
    val out = CurationQueries.segmentDedupDocs(docsDf(
      (4L, s"$a tail1 tail2 tail3", "en")))
      .as[(Long, Long, Long, String)].collect()
    assert(out.head == ((4L, 2L, 2L, s"$a tail1 tail2 tail3")))
  }

  test("segment dedup is partition-independent") {
    val a = block("a"); val b = block("b")
    val base = docsDf((1L, s"$a $b", "en"), (2L, s"$b $a", "en"))
    val one = CurationQueries.segmentDedupDocs(base.repartition(1))
      .collect().toSeq
    val many = CurationQueries.segmentDedupDocs(base.repartition(7))
      .collect().toSeq
    assert(one == many)
  }

  test("cluster split never puts a near-dup pair across a split boundary") {
    val out = CurationQueries.clusterSplit(spark, sfDir)
      .as[(Long, Long, String)].collect()
    val splitOf = out.map(r => r._1 -> r._3).toMap
    val clusterOf = out.map(r => r._1 -> r._2).toMap
    val pairs = graft.operators.LLMQueries.minhashPairs(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("jaccard") >=
        CurationQueries.ClusterThreshold)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusterOf(a) == clusterOf(b))
      assert(splitOf(a) == splitOf(b),
        s"near-dups $a/$b straddle ${splitOf(a)}/${splitOf(b)}")
    }
    // every doc is assigned, singletons are their own cluster
    assert(out.length == out.map(_._1).distinct.length)
    assert(out.count(r => r._2 == r._1) > 0)
    assert(out.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("quality calibration elects a per-source cutoff consistent with the scores") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (0 until 60).map { i =>
      val words = (0 until 20).map(_ => s"w${rnd.nextInt(300)}")
      (i.toLong, words.mkString(" "), "en", s"src${i % 3}")
    }.toDF("doc_id", "text", "lang", "source")
    val out = CurationQueries.qualityCalibrationDocs(df)
      .as[(String, Long, Double, Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq("src0", "src1", "src2"))
    // recount survivors with the operator's own cutoffs from the
    // per-doc scores — the join/agg plumbing must agree
    val scores = CurationQueries.qualityClassifierDocs(df)
      .select("doc_id", "mean_weight").as[(Long, Double)].collect().toMap
    out.foreach { case (src, nDocs, cutoff, nPass, micro) =>
      val ids = (0 until 60).filter(i => s"src${i % 3}" == src)
      assert(nDocs == ids.size)
      assert(nPass == ids.count(i => scores(i.toLong) >= cutoff))
      assert(micro == nPass * 1000000L / nDocs)
      assert(nPass < nDocs) // the bottom tail is non-empty by construction
    }
    val again = CurationQueries.qualityCalibrationDocs(df.repartition(7))
      .collect().toSeq
    assert(again == CurationQueries.qualityCalibrationDocs(df).collect().toSeq)
  }

  test("boilerplate removal cuts source-frequent segments from every member doc") {
    val a = block("a"); val b = block("b"); val c = block("c")
    val f = block("f") // the footer
    import spark.implicits._
    val df = Seq(
      (1L, s"$a $f", "en", "srcA"),  // f in 2 distinct srcA docs →
      (2L, s"$b $f", "en", "srcA"),  //   boilerplate, cut from BOTH
      (3L, s"$f $f", "en", "srcA"),  //   (even the all-footer doc)
      (4L, s"$c $f", "en", "srcB"))  // f once in srcB → survives there
      .toDF("doc_id", "text", "lang", "source")
    val out = CurationQueries.boilerplateRemoveDocs(df)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 2L, 1L, a)))
    assert(out(1) == ((2L, 2L, 1L, b)))
    assert(out(2) == ((3L, 2L, 0L, "")))
    assert(out(3) == ((4L, 2L, 2L, s"$c $f")))
  }

  test("boilerplate removal is partition-independent") {
    val a = block("a"); val f = block("f")
    import spark.implicits._
    val base = Seq(
      (1L, s"$a $f", "en", "srcA"), (2L, s"$f $a", "en", "srcA"))
      .toDF("doc_id", "text", "lang", "source")
    val one = CurationQueries.boilerplateRemoveDocs(base.repartition(1))
      .collect().toSeq
    val many = CurationQueries.boilerplateRemoveDocs(base.repartition(7))
      .collect().toSeq
    assert(one == many)
    // a AND f both recur within srcA → everything is boilerplate
    assert(one.forall(_.getString(3) == ""))
  }

  test("incremental segment dedup equals the full pass restricted to the batch") {
    val a = block("a"); val b = block("b"); val c = block("c"); val d = block("d")
    val corpus = docsDf((1L, s"$a $b", "en"), (2L, s"$b $c", "en"))
    // batch ids sort after corpus ids (append-only discipline)
    val batch = docsDf(
      (10L, s"$c $d", "en"),  // c known from corpus, d fresh
      (11L, s"$d $a", "en"))  // d already taken by doc 10 in-batch
    val idx = CurationQueries.segmentIndex(corpus)
    val inc = CurationQueries.incrementalSegmentDedup(idx, batch)
      .as[(Long, Long, Long, String)].collect().toSet
    val full = CurationQueries.segmentDedupDocs(corpus.unionByName(batch))
      .as[(Long, Long, Long, String)].collect()
      .filter(_._1 >= 10L).toSet
    assert(inc == full)
    assert(inc == Set((10L, 2L, 1L, d), (11L, 2L, 0L, "")))
  }

  // ---- LM fluency (q92) ----------------------------------------------

  test("lm fluency scores exact add-one bigram NLL against the ref slice") {
    // ref doc 10: "a b a b" → cb(a,b)=2, cb(b,a)=1; cu(a)=2, cu(b)=1; V=2
    // doc 1 "a b": nll = -ln((2+1)/(2+2)) = 287682 micro-nats
    // doc 2 "x y": unseen → -ln(1/(0+2))  = 693147 micro-nats
    val out = CurationQueries.lmFluencyDocs(docsDf(
      (10L, "a b a b", "en"),
      (1L, "a b", "en"),
      (2L, "x y", "en")))
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 1L, 287682L, true)))
    assert(out(1) == ((2L, 1L, 693147L, true)))
    assert(out(0)._3 < out(1)._3) // in-distribution text scores lower NLL
  }

  test("lm fluency vocab counts 1-word ref docs (oracle computes V unfiltered)") {
    // ref: "a b" (bigram) + "z" (1 word, no bigram, but IS vocabulary)
    // V = 3 {a,b,z}: doc 1 "a b" → -ln((1+1)/(1+3)) = ln 2 = 693147;
    // a vocab filtered to bigram-capable docs would give V=2 → 405465
    val out = CurationQueries.lmFluencyDocs(docsDf(
      (10L, "a b", "en"),
      (20L, "z", "en"),
      (1L, "a b", "en")))
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out.map(r => (r._1, r._3)).toSeq == Seq((1L, 693147L)))
  }

  test("lm fluency excludes ref docs and one-word docs from scoring") {
    val out = CurationQueries.lmFluencyDocs(docsDf(
      (10L, "a b", "en"),   // ref slice — never scored
      (3L, "solo", "en"),   // no bigrams
      (4L, "a b", "en")))
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out.map(_._1).toSeq == Seq(4L))
  }

  // ---- duplicated-span removal (q119) --------------------------------

  private def winDoc(prefix: String, shared: String, suffix: String) =
    s"$prefix $shared $suffix"

  test("span removal cuts a shared 8-word passage from both documents") {
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val df = docsDf(
      (1L, winDoc("a1 a2", shared, "a3 a4"), "en"),
      (2L, winDoc("b1 b2 b3", shared, "b4"), "en"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9", "en"))
    val out = CurationQueries.substringDupRemoveDocs(df)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 12L, 8L, "a1 a2 a3 a4")))
    assert(out(1) == ((2L, 12L, 8L, "b1 b2 b3 b4")))
    assert(out(2) == ((3L, 9L, 0L, "c1 c2 c3 c4 c5 c6 c7 c8 c9")))
  }

  test("span removal: fully duplicated docs survive with empty text") {
    val t = (1 to 8).map(i => s"w$i").mkString(" ")
    val out = CurationQueries.substringDupRemoveDocs(docsDf(
      (1L, t, "en"), (2L, t, "en")))
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 8L, 8L, ""), (2L, 8L, 8L, "")))
  }

  test("span removal covers boundary-straddling overlap windows once") {
    // docs share a 10-word passage → three overlapping duplicated
    // windows; covered positions must union, not double-count
    val shared = (1 to 10).map(i => s"p$i").mkString(" ")
    val out = CurationQueries.substringDupRemoveDocs(docsDf(
      (1L, s"x1 $shared x2", "en"),
      (2L, s"y1 y2 $shared", "en")))
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 12L, 10L, "x1 x2")))
    assert(out(1) == ((2L, 12L, 10L, "y1 y2")))
  }

  // ---- DSIR importance weights (q116) --------------------------------

  test("dsir ranks target-like raw docs above alien ones") {
    // 5 target docs of repeated t-bigrams; raw doc 1 reuses them, raw
    // doc 2 shares nothing with the target slice
    val target = (1 to 5).map(i => ((i * 10).toLong, "t1 t2 t1 t2 t1", "en"))
    val df = docsDf((target ++ Seq(
      (1L, "t1 t2 t1", "en"),
      (2L, "z1 z2 z3", "en"))): _*)
    val out = CurationQueries.dsirImportanceDocs(df)
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == Set(1L, 2L))
    val (_, n1, w1, _, sel1) = out(1L)
    val (_, n2, w2, _, sel2) = out(2L)
    assert(n1 == 2L && n2 == 2L)
    assert(w1 > w2)
    assert(sel1 && !sel2) // target-like kept, alien dropped
  }

  test("dsir weights are partition-independent and exclude short/target docs") {
    val df = docsDf(
      (10L, "a b c d", "en"),
      (20L, "solo", "en"),
      (3L, "a b c", "en"),
      (4L, "only", "en")) // 1 word — never scored
    val base = CurationQueries.dsirImportanceDocs(df)
      .as[(Long, Long, Long, Double, Boolean)].collect().toSet
    val repart = CurationQueries.dsirImportanceDocs(df.repartition(7))
      .as[(Long, Long, Long, Double, Boolean)].collect().toSet
    assert(base == repart)
    assert(base.map(_._1) == Set(3L)) // target (10, 20) and 1-word (4) out
  }

  // ---- source mixture (q90) ------------------------------------------

  private def srcDf(rows: (Long, String)*) =
    rows.map { case (id, s) => (id, "text", "en", s) }
      .toDF("doc_id", "text", "lang", "source")

  test("source mixture honors floor(weight) and bounds the extra copy") {
    // src1 → weight 1.5: every doc gets 1 or 2 copies; src2 → weight 2.5:
    // 2 or 3; src0/src3 → weight 0.5: 0 or 1
    val df = srcDf((0 until 40).map(i => (i.toLong, s"src${i % 4}")): _*)
    val counts = CurationQueries.sourceMixtureDocs(df)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    (0 until 40).foreach { i =>
      val n = counts.getOrElse(i.toLong, 0L)
      (i % 4) match {
        case 0 | 3 => assert(n == 0L || n == 1L, s"doc $i: $n")
        case 1 => assert(n == 1L || n == 2L, s"doc $i: $n")
        case 2 => assert(n == 2L || n == 3L, s"doc $i: $n")
      }
    }
    // weight-2.5 docs always outnumber their weight-0.5 twins
    val bySrc = CurationQueries.sourceMixtureDocs(df)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc("src2") > bySrc.getOrElse("src0", 0L))
  }

  test("source mixture maps digit-less sources to stratum 0, not a silent drop") {
    val df = srcDf((0 until 20).map(i => (i.toLong, "web")): _*)
    val counts = CurationQueries.sourceMixtureDocs(df)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    // stratum 0 → weight 0.5: every doc gets 0 or 1 copies, and the
    // fractional hash keeps roughly half (non-zero, non-all)
    assert(counts.values.forall(_ == 1L))
    assert(counts.nonEmpty && counts.size < 20)
  }

  test("source mixture is deterministic and copy_ids are dense from 1") {
    val df = srcDf((0L, "src2"), (1L, "src2"), (2L, "src1"))
    val r1 = CurationQueries.sourceMixtureDocs(df).collect().toSeq
    val r2 = CurationQueries.sourceMixtureDocs(df.repartition(5)).collect().toSeq
    assert(r1 == r2)
    r1.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sorted == (1L to rows.length).toSeq)
    }
  }

  test("shard manifest: two-level positions equal the direct per-shard rank") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val d = graft.Tables(spark, sfDir, "documents")
    val got = CurationQueries.shardManifestDocs(d)
      .as[(Long, Long, Long)].collect().toSet
    val direct = d
      .select(col("doc_id"),
        md5(concat(lit("graft-epoch0:"), col("doc_id").cast("string")))
          .as("h"))
      .withColumn("shard_id",
        expr("(instr('0123456789abcdef', substring(h, 1, 1)) - 1) div 2")
          .cast("long"))
      .withColumn("pos",
        (row_number().over(Window.partitionBy(col("shard_id"))
          .orderBy(col("h"), col("doc_id"))) - 1).cast("long"))
      .select(col("doc_id"), col("shard_id"), col("pos"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == direct)
    // positions are dense 0..n-1 within every shard, all 8 shards live
    val byShard = got.groupBy(_._2)
    assert(byShard.keySet == (0L to 7L).toSet)
    byShard.values.foreach { ms =>
      assert(ms.map(_._3).toSeq.sorted == (0L until ms.size).toSeq)
    }
  }

  test("mixed manifest: two-level positions equal the direct per-shard " +
      "rank; copy ids dense from 1") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val d = graft.Tables(spark, sfDir, "documents")
    val mm = CurationQueries.mixedManifestDocs(d)
      .localCheckpoint(eager = false)
    // the two-level (shard, block) rank equals ONE window per shard
    // over the same copy-salted keys (the q131 pin, copy flavor)
    val direct = mm
      .withColumn("kh", md5(concat(lit("graft-epoch0:"),
        col("doc_id").cast("string"), lit(":"),
        col("copy_id").cast("string"))))
      .withColumn("pos2",
        (row_number().over(Window.partitionBy(col("shard_id"))
          .orderBy(col("kh"), col("doc_id"), col("copy_id"))) - 1)
          .cast("long"))
    assert(direct.filter(col("pos") =!= col("pos2")).count() == 0)
    // copies are dense from 1 per doc (the q90 contract), positions
    // dense 0..n-1 per shard, and repeats of one doc scatter: at least
    // one multi-copy doc lands on ≥ 2 distinct shards at this SF
    val byDoc = mm.select(col("doc_id"), col("copy_id"))
      .as[(Long, Long)].collect().groupBy(_._1)
    byDoc.values.foreach { cs =>
      assert(cs.map(_._2).sorted.toSeq == (1L to cs.length).toSeq)
    }
    val byShard = mm.select(col("shard_id"), col("pos"))
      .as[(Long, Long)].collect().groupBy(_._1)
    byShard.values.foreach { ps =>
      assert(ps.map(_._2).sorted.toSeq == (0L until ps.size).toSeq)
    }
    val scattered = mm.groupBy(col("doc_id"))
      .agg(countDistinct(col("shard_id")).as("ns"))
      .filter(col("ns") >= 2).count()
    assert(scattered > 0, "no multi-shard repeats — fixture too tame")
  }

  test("shard manifest is deterministic and partition-independent") {
    val d = graft.Tables(spark, sfDir, "documents")
    val a = CurationQueries.shardManifestDocs(d).collect().toSeq
    val b = CurationQueries.shardManifestDocs(d.repartition(7)).collect().toSeq
    assert(a == b)
  }

  test("source report partitions the corpus and bounds its columns") {
    val rows = CurationQueries.sourceReport(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    val nDocs = graft.Tables(spark, sfDir, "documents").count()
    assert(rows.map(_._2).sum == nDocs) // every doc in exactly one source
    rows.foreach { case (_, n, chars, toks, dups, q) =>
      assert(dups >= 0 && dups <= n)
      assert(q >= 0 && q <= 1000000L) // quality is a [0,1] micro ratio
      assert(chars > 0 && toks > 0)
    }
  }

  test("nll buckets: per-language terciles are ordered and cover the scored docs") {
    import org.apache.spark.sql.functions.col
    val got = CurationQueries.nllBuckets(spark, sfDir)
      .as[(Long, String, Long, String)].collect()
    val scored = CurationQueries.lmFluency(spark, sfDir)
      .select(col("doc_id")).as[Long].collect().toSet
    // exactly the q92-scored docs are bucketed
    assert(got.map(_._1).toSet == scored)
    got.groupBy(_._2).foreach { case (lang, ds) =>
      val byBucket = ds.groupBy(_._4).view.mapValues(_.map(_._3)).toMap
      assert(byBucket.keySet == Set("head", "middle", "tail"),
        s"$lang missing a tercile: ${byBucket.keySet}")
      // thresholding a monotone score: head ≤ middle ≤ tail, and equal
      // scores can never straddle a bucket boundary
      assert(byBucket("head").max <= byBucket("middle").min)
      assert(byBucket("middle").max <= byBucket("tail").min)
      assert(byBucket("head").toSet.intersect(byBucket("middle").toSet).isEmpty)
      assert(byBucket("middle").toSet.intersect(byBucket("tail").toSet).isEmpty)
      // terciles: no bucket dominates (≤ ~half even with integer ties)
      assert(byBucket.values.forall(_.size <= ds.size / 2 + 1))
    }
  }

  test("snapshot diff classifies added/removed/changed/unchanged") {
    // 1: both, same text; 13: both, old carries the ' v0' revision;
    // 11: new-only; 17: old-only; 0: in neither snapshot (absent)
    val df = Seq((1L, "a", "en"), (13L, "b", "en"), (11L, "c", "en"),
      (17L, "d", "en"), (0L, "e", "en")).toDF("doc_id", "text", "lang")
    val got = CurationQueries.snapshotDiffDocs(df)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 13L -> "changed",
      11L -> "added", 17L -> "removed"))
  }

  test("mixture recipe matches a driver-side exact-integer recomputation") {
    val rows = CurationQueries.mixtureRecipe(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    val toks = graft.Tables(spark, sfDir, "documents")
      .select($"source", $"text").as[(String, String)].collect()
      .groupBy(_._1).view
      .mapValues(ds => (ds.size.toLong,
        ds.map(_._2.split("\\s+").length.toLong).sum)).toMap
    val w = toks.view.mapValues { case (_, t) =>
      math.round(math.sqrt(t.toDouble) * 1e6) }.toMap
    val wTot = w.values.sum
    rows.foreach { case (src, nDocs, nTok, wm, share, target, rep) =>
      assert((nDocs, nTok) == toks(src))
      assert(wm == w(src))
      assert(share == wm * 1000000L / wTot)
      assert(target == CurationQueries.RecipeTokenBudget * wm / wTot)
      assert(rep == target * 1000000L / nTok)
    }
    // the temperature property itself: α = 0.5 < 1 gives a smaller
    // source MORE than its raw token share relative to a bigger one
    for (a <- rows; b <- rows if a._3 < b._3)
      assert(a._4.toDouble * b._3 > b._4.toDouble * a._3,
        s"${a._1} not upsampled vs ${b._1}")
  }

  test("snapshot drift: hand-built two-bucket shift yields TV = 500000") {
    // doc 1: 10 tokens, in both snapshots unchanged (bucket 0 / 0);
    // doc 13: 31 tokens, the old snapshot carries ' v0' → 32 tokens
    // (bucket 1) vs new bucket 0 — half the mass moved a bucket
    val df = Seq(
      (1L, Seq.fill(10)("w").mkString(" "), "en", "s1"),
      (13L, Seq.fill(31)("w").mkString(" "), "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val got = CurationQueries.snapshotDriftDocs(df)
      .as[(String, Long, Long, Long)].collect()
    assert(got.toSeq == Seq(("s1", 2L, 2L, 500000L)))
  }

  test("snapshot drift is bounded and counts match the fixtures") {
    val rows = CurationQueries.snapshotDrift(spark, sfDir)
      .as[(String, Long, Long, Long)].collect()
    val d = graft.Tables(spark, sfDir, "documents")
      .select($"doc_id", $"source").as[(Long, String)].collect()
    val oldN = d.filter(_._1 % 11 != 0).groupBy(_._2).view.mapValues(_.size)
    val newN = d.filter(_._1 % 17 != 0).groupBy(_._2).view.mapValues(_.size)
    rows.foreach { case (src, nOld, nNew, tv) =>
      assert(nOld == oldN(src).toLong && nNew == newN(src).toLong)
      assert(tv >= 0 && tv <= 1000000L)
    }
  }

  test("dup-size histogram partitions the corpus, matches the star CC") {
    val rows = CurationQueries.dupSizeHistogram(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    val nDocs = graft.Tables(spark, sfDir, "documents").count()
    assert(rows.map(_._3).sum == nDocs) // every doc in exactly one family
    rows.foreach { case (sz, fams, docs) => assert(docs == sz * fams) }
    // fam_size >= 2 rows are exactly the star-CC component sizes
    val ccSizes = CurationQueries.dedupClustersStar(spark, sfDir)
      .select($"cluster_id").as[Long].collect()
      .groupBy(identity).values.map(_.size.toLong)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.filter(_._1 >= 2).map(r => r._1 -> r._2).toMap == ccSizes)
    // and the singleton row is everything the pair graph never touched
    val paired = ccSizes.map { case (sz, n) => sz * n }.sum
    assert(rows.find(_._1 == 1L).map(_._2).getOrElse(0L) == nDocs - paired)
  }

  test("budget select: block prefix sum equals the direct running sum") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = CurationQueries.budgetSelect(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // direct recomputation: ONE source-keyed running-sum window
    val s = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"),
        round(expr("round(transform(array(split(text, '\\\\s+'))," +
          " w -> least(1.0d, size(w) / 120.0d)" +
          " * (size(array_distinct(w)) / cast(size(w) as double)))[0], 6)")
          * 1e6).cast("bigint").as("qmicro"))
    val perDoc = s.collect().map(r =>
      (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3)))
    val bySource = perDoc.groupBy(_._1)
    val srcTokens = bySource.view.mapValues(_.map(_._3).sum).toMap
    val wm = srcTokens.view
      .mapValues(t => math.round(math.sqrt(t.toDouble) * 1e6)).toMap
    val wTot = wm.values.sum
    val tokTot = srcTokens.values.sum
    val expected = bySource.toSeq.map { case (src, ds) =>
      val target = (tokTot / 2) * (wm(src) * 1000000L / wTot) / 1000000L
      val ordered = ds.sortBy { case (_, id, _, q) => (-q, id) }
      val kept = ordered
        .scanLeft(0L) { case (acc, (_, _, n, _)) => acc + n }
        .zip(ordered).takeWhile { case (before, _) => before < target }
      val toks = kept.map(_._2._3).sum
      (src, kept.size.toLong, toks, target,
        toks * 1000000L / math.max(target, 1L))
    }.sortBy(_._1)
    assert(got == expected)
    // budget property: a source either keeps everything (its volume is
    // below target) or fills its budget (the crossing doc is kept)
    got.foreach { case (src, nKept, toks, target, _) =>
      assert(nKept == bySource(src).size.toLong && toks <= target ||
        toks >= target,
        s"$src neither kept all nor filled: $toks vs $target")
    }
  }

  test("eval sample churn: identities and high stability across snapshots") {
    val rows = CurationQueries.evalSampleChurn(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    rows.foreach { case (lang, stable, added, dropped, micro) =>
      // both samples are exactly K: adds and drops must balance
      assert(stable + added == CurationQueries.EvalSampleK.toLong)
      assert(stable + dropped == CurationQueries.EvalSampleK.toLong)
      assert(micro == stable * 1000000L / CurationQueries.EvalSampleK)
      // the snapshots share ~84% of ids; hash-order churn is bounded
      // by the removed members, so stability stays majority
      assert(stable > CurationQueries.EvalSampleK / 2, s"$lang unstable")
    }
  }

  test("snapshot dedup trend: re-fetch fixture lifts only the new rate") {
    val rows = CurationQueries.snapshotDedupTrend(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val d = graft.Tables(spark, sfDir, "documents")
      .select($"doc_id", $"source").as[(Long, String)].collect()
    // the shipped corpus is dup-free → old snapshot rate must be 0
    rows.foreach { case (_, _, dupOld, _, _, delta) =>
      assert(dupOld == 0L)
      assert(delta >= 0L)
    }
    // a source whose %19 re-fetch also survives the %17 filter gains a
    // 2-member family in the new snapshot — its rate must be positive
    val lifted = d.filter(t => t._1 % 19 == 0 && t._1 % 17 != 0)
      .map(_._2).toSet
    rows.filter(r => lifted.contains(r._1)).foreach {
      case (src, _, _, _, dupNew, _) =>
        assert(dupNew > 0L, s"$src should show the re-fetch")
    }
  }

  test("packing efficiency: identities hold and match a driver recount") {
    val rows = CurationQueries.packingEfficiency(spark, sfDir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    rows.foreach { case (lang, shards, toks, chunks, pad, fill) =>
      assert(toks + pad == chunks * CurationQueries.PackTokens)
      assert(pad < shards * CurationQueries.PackTokens) // < 1 chunk/shard
      assert(fill > 0 && fill <= 1000000L)
    }
    val d = graft.Tables(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)]
      .collect()
    val expected = d.groupBy(_._2).view.mapValues { ds =>
      val perShard = ds.groupBy(_._1 / CurationQueries.PackShardDocs)
        .values.map(_.map(_._3.split("\\s+").length.toLong).sum)
      (perShard.size.toLong, perShard.sum,
        perShard.map(t => (t + CurationQueries.PackTokens - 1) /
          CurationQueries.PackTokens).sum)
    }.toMap
    rows.foreach { case (lang, shards, toks, chunks, _, _) =>
      assert(expected(lang) == ((shards, toks, chunks)), s"$lang mismatch")
    }
  }

  test("release funnel: monotone stages consistent with q60/q74") {
    val rows = CurationQueries.releaseFunnel(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    rows.foreach { case (src, n, nd, nf, toks) =>
      assert(n >= nd && nd >= nf, s"$src funnel not monotone")
      assert(toks >= 0 && (nf > 0 || toks == 0))
    }
    // stage totals recomputed from the component operators
    val d = graft.Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val train = d.filter(_._1 % 10 != 0)
    import java.security.MessageDigest
    def sha(s: String) = MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).toSeq
    val kept = train.groupBy(t => sha(t._2)).values
      .map(_.map(_._1).min).toSet
    val flagged = CurationQueries.decontaminate(spark, sfDir)
      .select($"doc_id").as[Long].collect().toSet
    assert(rows.map(_._3).sum == kept.size.toLong)
    assert(rows.map(_._4).sum == kept.count(id => !flagged.contains(id)))
  }

  test("source overlap: hand-built mirror pair with exact fractions") {
    val seg1 = (1 to 10).map(i => s"w$i").mkString(" ")
    val seg2 = (11 to 20).map(i => s"x$i").mkString(" ")
    // alpha carries both segments; beta mirrors only the first
    val df = Seq(
      (1L, s"$seg1 $seg2", "en", "alpha"),
      (2L, seg1, "en", "beta"))
      .toDF("doc_id", "text", "lang", "source")
    val got = CurationQueries.sourceOverlapDocs(df)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("alpha", "beta", 1L, 2L, 1L, 1000000L)))
  }

  test("cluster caps keep the top-quality min(size, cap) of every family") {
    val caps = CurationQueries.clusterCaps(spark, sfDir)
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    val fam = CurationQueries.dedupClustersStar(spark, sfDir)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect()
    val q = graft.Tables(spark, sfDir, "documents")
      .select($"doc_id", org.apache.spark.sql.functions.expr(
        "round(transform(array(split(text, '\\\\s+'))," +
          " w -> least(1.0d, size(w) / 120.0d)" +
          " * (size(array_distinct(w)) / cast(size(w) as double)))[0], 6)"))
      .as[(Long, Double)].collect().toMap
    val expected = fam.groupBy(_._2).toSeq.flatMap { case (cid, ds) =>
      ds.map(_._1).map(id => (id, q(id)))
        .sortBy { case (id, ql) => (-ql, id) }
        .take(CurationQueries.ClusterCap).zipWithIndex
        .map { case ((id, ql), i) =>
          (cid, i + 1L, id, ql, ds.size.toLong) }
    }.toSet
    assert(caps.toSet == expected)
  }

  test("eval sample: two-level rank equals the direct per-language rank") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = CurationQueries.evalSample(spark, sfDir)
      .as[(String, Long, Long)].collect().toSeq
    val d = graft.Tables(spark, sfDir, "documents")
      .select($"doc_id", $"lang").as[(Long, String)].collect()
    val expected = d.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
      ds.map(_._1).map(id => (id, md5hex("graft-eval:" + id)))
        .sortBy { case (id, h) => (h, id) }
        .take(CurationQueries.EvalSampleK).zipWithIndex
        .map { case ((id, _), i) => (lang, i + 1L, id) }
    }
    assert(got.toSet == expected.toSet)
    // exact K per language (every testdata language exceeds K docs)
    got.groupBy(_._1).values.foreach(g =>
      assert(g.size == CurationQueries.EvalSampleK))
  }

  test("funnel disposition reconciles with the q115 funnel counts") {
    val disp = CurationQueries.funnelDisposition(spark, sfDir)
      .select($"doc_id", $"disposition").as[(Long, String)]
      .collect().toSeq
    val funnel = CurationQueries.curationFunnel(spark, sfDir)
      .select($"stage_name", $"n_docs").as[(String, Long)]
      .collect().toMap
    // stage-k survivors == docs kept or dropped at a LATER stage: the
    // explain and the chart are two renderings of one pass
    val order = Seq("dropped_exact_dup", "dropped_repetition",
      "dropped_fluency", "dropped_contaminated", "dropped_quality",
      "dropped_toxicity", "kept")
    val byDisp = disp.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(byDisp.keySet.subsetOf(order.toSet))
    def survivors(afterStage: Int): Long =
      order.drop(afterStage).map(byDisp.getOrElse(_, 0L)).sum
    assert(survivors(0) == funnel("all"))
    assert(survivors(1) == funnel("exact_dedup"))
    assert(survivors(2) == funnel("repetition_filter"))
    assert(survivors(3) == funnel("fluency_filter"))
    assert(survivors(4) == funnel("decontaminate"))
    assert(survivors(5) == funnel("quality_classifier"))
    assert(survivors(6) == funnel("toxicity_filter"))
    // the toxicity stage is the q171 classifier restricted to stage-6
    // survivors: every toxicity-dropped doc is flagged toxic by q171
    val toxic = CurationQueries.toxicityClassifier(spark, sfDir)
      .filter($"decision" === "toxic")
      .select($"doc_id").as[Long].collect().toSet
    val droppedTox = disp.collect {
      case (id, "dropped_toxicity") => id }.toSet
    assert(droppedTox.subsetOf(toxic))
  }

  test("pps sample: K rows, HT estimator shape, partition-invariant") {
    import org.apache.spark.sql.functions.{col, size, split, sum}
    val docsDf = graft.Tables(spark, sfDir, "documents")
    val rows = CurationQueries.ppsSampleDocs(docsDf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(rows.size == CurationQueries.PpsK)
    // every estimate is max(w, τ): never below the doc's own weight,
    // and the sub-threshold docs all carry the SAME value (τ itself)
    assert(rows.forall { case (_, w, est) => est >= w.toDouble })
    val inflated = rows.collect { case (_, w, est) if est > w => est }
    assert(inflated.distinct.size <= 1)
    // the single-realization estimate lands near the true token mass
    // (relative stderr ≈ 1/sqrt(K-1) ≈ 16%; 2× is a >6σ band)
    val truth = docsDf
      .agg(sum(size(split(col("text"), "\\s+")).cast("long")))
      .as[Long].collect().head.toDouble
    val est = rows.map(_._3).sum
    assert(est > truth / 2 && est < truth * 2,
      s"estimate $est vs truth $truth")
    // a pure function of doc_id: physical layout cannot move the sample
    val reshuffled = CurationQueries.ppsSampleDocs(docsDf.repartition(7))
      .as[(Long, Long, Double)].collect().toSeq
    assert(reshuffled == rows)
  }

  test("novelty report off the disk window index == in-memory") {
    val dir = new java.io.File(tempDir("graft_novelty_idx"))
    IndexStore.writeSubstrWindows(spark, sfDir, dir.getAbsolutePath)
    val (_, batch) = IndexStore.docSplit(spark, sfDir)
    val fromDisk = CurationQueries.noveltyReport(
      spark.read.parquet(s"${dir.getAbsolutePath}/substr_windows.parquet"),
      batch).collect().toSeq
    val inMemory = CurationQueries.noveltyReportDaily(spark, sfDir)
      .collect().toSeq
    assert(fromDisk.nonEmpty)
    assert(fromDisk == inMemory)
  }

  test("soft-dedup weights partition the corpus and reconcile with " +
      "the q143 family histogram") {
    val rows = CurationQueries.softDedupWeights(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val nDocs = graft.Tables(spark, sfDir, "documents").count()
    // every doc exactly once
    assert(rows.size.toLong == nDocs)
    assert(rows.map(_._1).distinct.size.toLong == nDocs)
    // family-internal consistency + the exact integer weight rule
    rows.groupBy(_._2).foreach { case (fam, members) =>
      val n = members.head._3
      assert(members.size.toLong == n, s"fam $fam size mismatch")
      assert(members.forall(m => m._3 == n && m._4 == 1000000L / n))
    }
    // singletons carry full weight
    assert(rows.filter(_._3 == 1L).forall(_._4 == 1000000L))
    // the family-size histogram implied here IS q143's
    val hist = rows.groupBy(_._2).values.map(_.size.toLong)
      .groupBy(identity).map { case (sz, fs) => (sz, fs.size.toLong) }
    val q143 = CurationQueries.dupSizeHistogram(spark, sfDir)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2)).toMap
    assert(hist == q143)
  }

  // --- Kneser–Ney bigram LM (q165/q167) --------------------------------

  test("KN fixture: hand-computed discounted probabilities") {
    val df = Seq((1L, "a b a b c", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val rows = CurationQueries
      .knFromBigrams(CurationQueries.knBigramTable(df))
      .as[(String, String, Long, Long, Long, Long, Long)]
      .collect().toSet
    // bigrams: (a,b)×2, (b,a), (b,c); bt=3
    // pkn(a,b) = (2−.75)/2 + .75·1/2·1/3 = 0.75
    // pkn(b,a) = (1−.75)/2 + .75·2/2·1/3 = 0.375 (= pkn(b,c))
    assert(rows == Set(
      ("a", "b", 2L, 2L, 1L, 1L, 750000L),
      ("b", "a", 1L, 2L, 2L, 1L, 375000L),
      ("b", "c", 1L, 2L, 2L, 1L, 375000L)))
  }

  test("KN fluency: in-domain text scores lower NLL than unseen text, " +
      "and every score is finite-positive") {
    val df = Seq(
      (0L, "the cat sat on the mat", "en", "web"),
      (10L, "the cat ran on the mat", "en", "web"),
      (1L, "the cat sat on the mat", "en", "web"),
      (2L, "zig zag quux blorp frob", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    val rows = CurationQueries.knFluencyDocs(df)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // only non-reference docs are scored
    assert(rows.keySet == Set(1L, 2L))
    // the unseen-vocab doc backs off to the continuation floor — worse
    // than the verbatim in-domain doc, but still finite and positive
    assert(rows(1L)._3 < rows(2L)._3)
    assert(rows.values.forall(r => r._3 > 0L && r._2 >= 1L))
  }

  test("KN bigram counts merge additively: split+merge == full recount") {
    import org.apache.spark.sql.functions.col
    val d = graft.Tables(spark, sfDir, "documents")
    val full = CurationQueries
      .knFromBigrams(CurationQueries.knBigramTable(d))
      .collect().toSeq
    val merged = CurationQueries.knFromBigrams(
      CurationQueries.mergeBigrams(
        CurationQueries.knBigramTable(d.filter(col("doc_id") % 3 === 0)),
        CurationQueries.knBigramTable(d.filter(col("doc_id") % 3 =!= 0))))
      .collect().toSeq
    assert(full.nonEmpty)
    assert(merged == full)
  }
}
