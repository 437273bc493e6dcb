package graft

import org.apache.spark.storage.StorageLevel

/** A long-lived session running query families repeatedly must not
  * accumulate MEMORY_AND_DISK blocks: every graft-persisted shared table
  * is tracked, and `CacheScope.release()` frees them all (blocking).
  */
class CacheScopeSpec extends SparkSpec {

  test("no net cache growth across a double sweep with release() between") {
    spark.catalog.clearCache() // normalize whatever earlier suites left
    CacheScope.release()
    // earlier suites may have left localCheckpoint blocks that neither
    // clearCache nor release can (or should) remove — the claim under
    // test is NET growth from the graft-tracked caches, so measure the
    // delta against this baseline rather than absolute zero (the
    // absolute form was suite-order dependent)
    val baseline = spark.sparkContext.getRDDStorageInfo.length

    // dd4 persists hashed tokens + signatures + the sort barrier; ss2 the
    // prepared vector table; em2 its scale table — the heavy shared caches.
    def sweep(): Unit =
      Seq("dd4_jaccard_neardup", "ss2_ann_lsh_topk", "em2_quantized_cosine")
        .foreach(n => SparkEntry.queries(n)(spark, TestSpark.Sf0001).collect())

    sweep()
    assert(CacheScope.size > 0, "sweep should have tracked persisted tables")
    CacheScope.release()
    val cachedAfterFirst = spark.sparkContext.getRDDStorageInfo.length

    sweep()
    CacheScope.release()
    val cachedAfterSecond = spark.sparkContext.getRDDStorageInfo.length

    // <= not ===: the ContextCleaner may GC-unpersist OTHER suites'
    // stale checkpoint blocks mid-test, legitimately dropping the
    // count BELOW baseline; only growth is a failure
    assert(cachedAfterFirst <= baseline,
      s"net cache growth: $cachedAfterFirst vs baseline $baseline")
    assert(cachedAfterSecond <= baseline,
      s"net cache growth: $cachedAfterSecond vs baseline $baseline")
    assert(CacheScope.size === 0)
  }

  test("track forgets frames a catalog-wide clearCache dropped; release still unpersists") {
    spark.catalog.clearCache()
    CacheScope.release()
    CacheScope.track(spark.range(0, 10).toDF("a").persist())
    // the harnesses free caches this way and never call release()
    spark.catalog.clearCache()
    val kept = CacheScope.track(spark.range(0, 20).toDF("b").persist())
    assert(CacheScope.size === 1)
    assert(kept.storageLevel !== StorageLevel.NONE)
    CacheScope.release()
    assert(kept.storageLevel === StorageLevel.NONE)
    assert(CacheScope.size === 0)
  }
}
