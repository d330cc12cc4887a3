package graft.operators

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec}

/** The disk-read daily path must equal the in-memory oracle query for
  * every incremental family — the invariant that makes `Soak index`'s
  * measured build/daily split trustworthy (VERDICT r8 "Next round" #1):
  * if a parquet round-trip changed a type or dropped rows, the measured
  * daily leg would be timing a different computation than the one the
  * 90-query oracle suite proves correct.
  */
class IndexStoreSpec extends SparkSpec {

  private lazy val indexDir = {
    val dir = Files.createTempDirectory("graft_index_spec").toFile
    dir.deleteOnExit()
    dir.getAbsolutePath
  }

  for ((family, twin, build, daily) <- IndexStore.families)
    test(s"$family: daily leg off the disk index == $twin") {
      build(spark, sfDir, indexDir)
      val fromDisk = daily(spark, indexDir, sfDir).collect().toSeq
      val inMemory = SparkEntry.queries(twin)(spark, sfDir).collect().toSeq
      assert(fromDisk.nonEmpty, s"$family daily leg returned no rows")
      assert(fromDisk == inMemory)
    }

  test("bucketed hash index: one Exchange daily, append == rebuild") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(plan: SparkPlan): Int = {
      val resolved = plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      resolved.collect { case _: ShuffleExchangeExec => 1 }.sum
    }
    IndexStore.writeTextExactBucketed(spark, sfDir, "graft_hash_idx")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val daily = IndexStore.dailyTextExactBucketed(spark,
        "graft_hash_idx", sfDir)
      // row-identical to the parquet-path daily (== the q97 twin)
      val want = SparkEntry.queries("q97_incremental_exact_dedup")(
        spark, sfDir).collect().toSeq
      assert(daily.collect().toSeq == want)
      // only the batch side may exchange: the index side's clustering
      // comes off the bucketed scan
      daily.count()
      val n = shuffles(daily.queryExecution.executedPlan)
      assert(n <= 2, // batch agg + its join alignment; never the index
        s"bucketed daily plans $n shuffles:\n" +
          daily.queryExecution.executedPlan)
      val plain = IndexStore.dailyTextExact(spark, indexDir, sfDir)
      plain.count()
      assert(shuffles(plain.queryExecution.executedPlan) > n,
        "parquet-path daily should shuffle the index side too")
      // append-only compaction equals a rebuild over (corpus ∪ batch)
      IndexStore.compactTextExactBucketed(spark, "graft_hash_idx", sfDir)
      val (c, b) = IndexStore.docSplit(spark, sfDir)
      val rebuilt = graft.operators.LLMQueries.hashIndex(c.unionByName(b))
      val got = spark.table("graft_hash_idx")
      assert(got.count() == rebuilt.count())
      assert(got.distinct().count() == got.count(), "duplicate keys")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_hash_idx")
    }
  }

  // Compaction (the third lifecycle leg): merging the batch into the
  // persisted index must equal a full rebuild over (corpus ∪ batch),
  // table for table — otherwise tomorrow's snapshot quietly diverges
  // from the index the oracle queries prove correct.
  for ((family, tables, compact, rebuild) <- IndexStore.compactions)
    test(s"$family: compaction == full rebuild over (corpus ∪ batch)") {
      def tmp(tag: String) = {
        val d = Files.createTempDirectory(s"graft_${tag}_$family").toFile
        d.deleteOnExit()
        d.getAbsolutePath
      }
      val base = tmp("cidx")
      val out = tmp("cout")
      val full = tmp("cfull")
      IndexStore.families.find(_._1 == family).get._3(spark, sfDir, base)
      compact(spark, base, sfDir, out)
      rebuild(spark, sfDir, full)
      for (t <- tables) {
        val got = spark.read.parquet(s"$out/$t.parquet")
        val want = spark.read.parquet(s"$full/$t.parquet")
        assert(got.schema == want.schema, s"$family/$t schema drift")
        val g = got.collect().map(_.toString).sorted.toSeq
        val w = want.collect().map(_.toString).sorted.toSeq
        assert(g.nonEmpty, s"$family/$t compacted to empty")
        assert(g == w, s"$family/$t rows diverge from the rebuild")
      }
    }
}
