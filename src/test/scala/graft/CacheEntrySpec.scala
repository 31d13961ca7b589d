package graft

import org.apache.spark.sql.DataFrame

/** Library operators persist nothing: an operator that shares an
  * intermediate between consumers does so through Spark's exchange
  * reuse inside the one plan it returns, never through a cache entry
  * the caller cannot see or release. One call of each operator family
  * that used to persist an intermediate must leave the session's
  * `CacheManager` exactly as it found it.
  */
class CacheEntrySpec extends GraftSpecBase {

  test("one call of each multi-consumer operator leaves no CacheManager entry behind") {
    val q = SparkEntry.queries
    val orders = Tables.orders(spark, sf)
    val entries: Seq[(String, () => DataFrame)] = Seq(
      "d3_simhash", "d4_ngram_jaccard", "d5_embed_neardup", "d6_dedup_clusters",
      "d11_containment", "d15_minhash_calibration", "x13_leakage_safe_split",
      "t7_lm_surprisal", "t14_vocab_coverage", "t16_bigram_ppl", "t19_ppl_partition",
      "t22_keywords", "s20_nprobe_curve", "s25_anisotropy", "a47_pagerank3"
    ).map(name => name -> (() => q(name)(spark, sf))) ++ Seq(
      // the banded spellings, forced below their size cutover
      "a28 banded" -> (() => analytics.Queries.spendDeciles(spark, sf, bandedMinBytes = 0)),
      "a35 banded" -> (() => analytics.Queries.rfmSegments(orders, bandedMinBytes = 0)),
      "a36 banded" -> (() => analytics.Queries.abcClasses(orders, bandedMinBytes = 0)))
    val left = entries.map { case (name, entry) =>
      val before = numCachedEntries
      entry().collect()
      name -> (numCachedEntries - before)
    }.filter(_._2 != 0)
    assert(left.isEmpty, s"new cache entries after one call: $left")
  }

  test("curateNearDup ignores cacheKey: a keyed call leaves no CacheManager entry behind") {
    // a key no other call uses, so a keyed survivor cache (were there
    // one) could not already hold an entry for it
    val before = numCachedEntries
    text.Curation.curateNearDup(Tables.documents(spark, sf),
      cacheKey = Some("CacheEntrySpec-keyed-curateNearDup")).collect()
    assert(numCachedEntries - before == 0,
      s"a keyed curateNearDup call left ${numCachedEntries - before} new cache entries")
  }
}
