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
    // zero attempts is a misconfiguration: fail loud, never a null throw
    calls = 0
    val bad = intercept[IllegalArgumentException] {
      Retry.withBackoff(maxAttempts = 0, baseDelayMs = 1, sleep = _ => ()) {
        () => calls += 1; "unreached"
      }
    }
    assert(calls == 0 && bad.getMessage.contains("maxAttempts"))
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
}
