package graft.sinks

import graft.SparkSpec
import java.nio.file.Files

/** S5–S8 write paths + T6 retry semantics. */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String) =
    Files.createTempDirectory(s"graft-$name").resolve("t").toString

  test("overwriteSwap atomically replaces table contents") {
    val dir = tmpDir("swap")
    Sinks.overwriteSwap(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    assert(spark.read.parquet(dir).count() == 2)
    Sinks.overwriteSwap(Seq((3L, "c")).toDF("id", "v"), dir)
    val after = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(after == Set((3L, "c"))) // old rows fully gone
  }

  test("appendLedger accumulates rows partitioned by status") {
    val dir = tmpDir("ledger")
    Sinks.appendLedger(Seq((1L, "submitted")).toDF("job_id", "status"), dir)
    Sinks.appendLedger(Seq((2L, "completed")).toDF("job_id", "status"), dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    // status is a partition column → pruned scans, like the spec's index
    val dirs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("status="))
    assert(dirs.toSet == Set("status=submitted", "status=completed"))
  }

  test("writeJsonl round-trips through spark.read.json") {
    val dir = tmpDir("jsonl")
    Sinks.writeJsonl(Seq(("order-1", "POST")).toDF("custom_id", "method"), dir)
    val back = spark.read.json(dir).select("custom_id", "method")
      .as[(String, String)].collect()
    assert(back.toSeq == Seq(("order-1", "POST")))
  }

  test("error-file scan surfaces each line as a WARN log row") {
    val f = Files.createTempDirectory("graft-errfile").resolve("errors.jsonl")
    Files.writeString(f,
      "{\"custom_id\": \"order-1\", \"error\": \"bad\"}\nplain text line\n")
    val rows = Sinks.readErrorFile(spark, f.toString)
      .as[(String, String, String)].collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r._1 == "WARN" && r._2 == "openai_error_file_line"))
    assert(rows.map(_._3).toSet.contains("plain text line"))
  }

  test("language-partitioned write prunes by lang directory") {
    val dir = tmpDir("bylang")
    val docs = Seq((1L, "hello", "en"), (2L, "hallo", "de"))
      .toDF("doc_id", "text", "lang")
    Sinks.writePartitionedByLang(docs, dir)
    val dirs = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("lang=")).toSet
    assert(dirs == Set("lang=en", "lang=de"))
    // partition-pruned read touches only the one directory
    val en = spark.read.parquet(dir).filter($"lang" === "en")
    assert(en.count() == 1)
    val scan = en.queryExecution.executedPlan.toString
    assert(!scan.contains("lang=de") || en.inputFiles.forall(_.contains("lang=en")))
  }

  test("retry succeeds after transient failures") {
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val out = Retry.withBackoff(maxAttempts = 3, baseDelayMs = 100,
      sleep = slept.append(_)) { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      "ok"
    }
    assert(out == "ok" && calls == 3)
    assert(slept.toSeq == Seq(100L, 200L)) // exponential backoff
  }

  test("retry rethrows after max attempts") {
    var calls = 0
    val ex = intercept[RuntimeException] {
      Retry.withBackoff(maxAttempts = 3, baseDelayMs = 1, sleep = _ => ()) {
        () => calls += 1; throw new RuntimeException(s"boom $calls")
      }
    }
    assert(calls == 3 && ex.getMessage == "boom 3")
  }

  test("retry propagates a fatal error on its first attempt, unslept") {
    var calls = 0
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    intercept[StackOverflowError] {
      Retry.withBackoff(maxAttempts = 3, baseDelayMs = 100,
        sleep = slept.append(_)) { () =>
        calls += 1; throw new StackOverflowError("fatal")
      }
    }
    assert(calls == 1 && slept.isEmpty)
  }

  // --- bucketed upsert (S6 at scale) ---------------------------------

  private def bucketFiles(dir: String): Map[String, Set[(String, Long)]] = {
    val root = new java.io.File(dir)
    root.listFiles().filter(_.getName.startsWith("bucket="))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet)
      .toMap
  }

  test("bucketedUpsert replaces matched keys, keeps the rest, adds new") {
    val dir = tmpDir("bupsert")
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    Sinks.writeBucketed(base, dir, "id", numBuckets = 8)
    val delta = Seq((7L, "NEW7"), (42L, "NEW42"), (101L, "NEW101"))
      .toDF("id", "v")
    Sinks.bucketedUpsert(spark, dir, delta, "id", numBuckets = 8)
    val back = spark.read.parquet(dir).select("id", "v")
      .as[(Long, String)].collect().toMap
    assert(back.size == 101)
    assert(back(7L) == "NEW7" && back(42L) == "NEW42" &&
      back(101L) == "NEW101")
    assert(back(8L) == "v8") // untouched key untouched
  }

  test("bucketedUpsert leaves untouched bucket files byte-identical") {
    val dir = tmpDir("bprune")
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    Sinks.writeBucketed(base, dir, "id", numBuckets = 8)
    val before = bucketFiles(dir)
    // one-key delta touches exactly one bucket
    Sinks.bucketedUpsert(spark, dir, Seq((7L, "X")).toDF("id", "v"),
      "id", numBuckets = 8)
    val after = bucketFiles(dir)
    val changed = after.keySet.filter(b => before.get(b) != after.get(b))
    assert(changed.size == 1,
      s"expected exactly one rewritten bucket, got $changed")
  }

  test("bucketedUpsert equals the naive full merge on random deltas") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val kvGen = for {
      k <- Gen.chooseNum(1L, 60L)
      v <- Gen.alphaStr.map(_.take(6))
    } yield (k, v)
    val prop = Prop.forAll(Gen.listOfN(25, kvGen), Gen.listOfN(8, kvGen)) {
      (baseKv, deltaKv) =>
        // last write wins within each side, like a keyed collection
        val base = baseKv.toMap.toSeq
        val delta = deltaKv.toMap.toSeq
        val dir = tmpDir("bprop")
        Sinks.writeBucketed(base.toDF("id", "v"), dir, "id", numBuckets = 4)
        Sinks.bucketedUpsert(spark, dir, delta.toDF("id", "v"), "id",
          numBuckets = 4)
        val got = spark.read.parquet(dir).select("id", "v")
          .as[(Long, String)].collect().toMap
        val want = base.toMap ++ delta.toMap
        got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("bucketedUpsert replay is a no-op (at-least-once safe)") {
    val dir = tmpDir("breplay")
    Sinks.writeBucketed((1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"),
      dir, "id", numBuckets = 4)
    val delta = Seq((3L, "D3"), (51L, "D51")).toDF("id", "v")
    Sinks.bucketedUpsert(spark, dir, delta, "id", numBuckets = 4)
    val once = spark.read.parquet(dir).select("id", "v")
      .as[(Long, String)].collect().toSet
    Sinks.bucketedUpsert(spark, dir, delta, "id", numBuckets = 4)
    val twice = spark.read.parquet(dir).select("id", "v")
      .as[(Long, String)].collect().toSet
    assert(once == twice && once.size == 51)
  }
}
