package graft.operators

import graft.{SparkEntry, SparkSpec}

/** The disk-read daily path must equal the in-memory oracle query for
  * every incremental family — the invariant that makes `Soak index`'s
  * measured build/daily split trustworthy (VERDICT r8 "Next round" #1):
  * if a parquet round-trip changed a type or dropped rows, the measured
  * daily leg would be timing a different computation than the one the
  * 90-query oracle suite proves correct.
  */
class IndexStoreSpec extends SparkSpec {

  private lazy val indexDir = tempDir("graft_index_spec")

  for ((family, twin, build, daily) <- IndexStore.families)
    test(s"$family: daily leg off the disk index == $twin") {
      build(spark, sfDir, indexDir)
      val fromDisk = daily(spark, indexDir, sfDir).collect().toSeq
      val inMemory = SparkEntry.queries(twin)(spark, sfDir).collect().toSeq
      assert(fromDisk.nonEmpty, s"$family daily leg returned no rows")
      assert(fromDisk == inMemory)
    }

  // Compaction (the third lifecycle leg): merging the batch into the
  // persisted index must equal a full rebuild over (corpus ∪ batch),
  // table for table — otherwise tomorrow's snapshot quietly diverges
  // from the index the oracle queries prove correct.
  for ((family, tables, compact, rebuild) <- IndexStore.compactions)
    test(s"$family: compaction == full rebuild over (corpus ∪ batch)") {
      def tmp(tag: String) = tempDir(s"graft_${tag}_$family")
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
