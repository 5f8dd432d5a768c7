package graft.queries

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Session cache hygiene: a registry query must not leave cached
  * blocks behind — every persist inside a query body is own()'d and
  * drained by the enclosing Det.reap after the result materializes,
  * so a long-lived session embedding these query fns never
  * accumulates cached plans. Covers every query whose plan persists
  * internally, directly or via the shared helpers (setGroups,
  * minhashPairs, shinglePairs, containmentPairs, ivfRanked, ivfPairs,
  * quantilesFromHist).
  *
  * The suite runs against the shared test session, so it clears the
  * cache first (other suites exercise the persisting helpers directly,
  * outside any reap — by design those behave like bare persists).
  */
class CacheHygieneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private val caching = Seq(
    "qx2_jaccard_pairs", "xd1_minhash_lsh", "xd2_simhash",
    "xd3_shingle_jaccard", "xd5_dedup_clusters", "xd6_incremental_dedup",
    "xd7_semantic_dedup", "xd8_semantic_clusters", "xd10_containment",
    "xs2_ann_ivf", "xs3_ann_quantized", "xs4_ann_query",
    "xs5_ann_incremental", "xp2_curation_full", "xe6_markov_rank",
    "xt3_lang_id", "xt5_tfidf", "xt6_lm_score", "xt11_bigram_lm",
    "xt14_vocab_drift", "xv3_version_diff",
    "xr1_lsh_recall", "xr5_minhash_recall", "xr6_simhash_precision",
    "q11b_binned_range_join", "xi2_incremental_quantiles")

  for (name <- caching) test(s"$name leaves no cached frames behind") {
    spark.catalog.clearCache()
    val out = Registry.byName(name).fn(spark, sf)
    assert(out.count() >= 0) // consume the (already-materialized) result
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$name left cached plans registered after returning")
  }

  /** The long-lived-service contract over the WHOLE surface: run every
    * registry query back-to-back with NO per-query cleanup (Bench and
    * Verify clear caches between queries as belt-and-braces; a user's
    * session won't) and prove nothing accumulates beyond the one
    * localCheckpoint each reap leaves for its own result — which a
    * caller releases by dropping the frame, and which this test
    * releases explicitly to prove the block store drains to zero.
    * No query may change the session conf either. The sweep runs in a
    * new session, which starts from the builder's conf whatever
    * earlier suites did to the shared one.
    */
  test("full registry sweep: no cached plans; block store drains to empty") {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val before = spark.sparkContext.getPersistentRDDs.size
    val session = spark.newSession()
    for (q <- Registry.all) {
      val conf = session.conf.getAll.toSet
      val out = q.fn(session, sf)
      out.count()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"${q.name} leaked a catalog-cached plan into the session")
      val now = session.conf.getAll.toSet
      assert((now diff conf).isEmpty && (conf diff now).isEmpty,
        s"${q.name} changed the session conf to ${now diff conf} " +
          s"from ${conf diff now}")
    }
    // only reap's per-result checkpoints may remain — bounded by the
    // number of queries run, never data- or iteration-unbounded
    val leaked = spark.sparkContext.getPersistentRDDs
    assert(leaked.size <= before + Registry.all.size,
      s"sweep left ${leaked.size} persistent RDDs (started with $before) — " +
        "something beyond the per-result checkpoints is accumulating")
    leaked.values.foreach(_.unpersist(blocking = true))
    assert(spark.sparkContext.getRDDStorageInfo.isEmpty,
      "cached blocks survived after releasing every result checkpoint")
  }
}
