package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

// The cap-accepting daily legs (split out of IndexStore, round 14,
// pure moves — see the scaladoc on the map itself).
private[operators] trait IndexStoreCapped {
  this: IndexStore.type =>

  /** Cap-accepting daily legs of the three banded near-dup families —
    * the opt-in response when the q184/q185/q189 occupancy audits flag
    * a hot bucket, priced by the q187/q188/q191 operating curves (the
    * `need ≤ cap` admission rule, BandCapSpec-pinned). The `families`
    * legs above stay capless/exact and byte-identical; `Soak index` times
    * these beside them when SPARK_GRAFT_BAND_CAP is set, which is
    * where the PLANS.md capped-vs-exact policy rows come from. */
  val cappedDailies: Map[String,
      (SparkSession, String, String, Int) => DataFrame] = Map(
    "text_near_dup" -> ((s, indexDir, dataDir, c) =>
      LLMQueries.incrementalNearDups(
        read(s, indexDir, "text_bands"),
        read(s, indexDir, "text_sets"),
        docSplit(s, dataDir)._2, Some(c))),
    "vec_near_dup" -> ((s, indexDir, dataDir, c) =>
      VectorQueries.incrementalVectorNearDupsCanonical(
        read(s, indexDir, "vec_fams"),
        read(s, indexDir, "vec_members"),
        read(s, indexDir, "vec_bands_c"),
        read(s, indexDir, "vec_canon"),
        vecSplit(s, dataDir)._2, Some(c))),
    "media" -> ((s, indexDir, dataDir, c) =>
      graft.multimodal.Multimodal.incrementalMediaNearDupsCanonical(
        read(s, indexDir, "media_fams"),
        read(s, indexDir, "media_members"),
        read(s, indexDir, "media_bands_c"),
        graft.multimodal.Multimodal.mediaSplit(s, dataDir)._2, Some(c))),
    // the cap composed THROUGH the contracted cluster merge — the
    // emergency valve for the one daily leg that is pair-volume-bound
    // at 100× (text_cc: per-pair Jaccard over the adversarial candidate
    // graph); capped pairs → capped edges → the same merge
    "text_cc" -> ((s, indexDir, dataDir, c) =>
      CurationQueries.withClusterSizes(
        CurationQueries.incrementalClusterMembersFromPairs(
          textPairIncrement(s, indexDir, dataDir, Some(c)),
          read(s, indexDir, "text_cc")))))
}
