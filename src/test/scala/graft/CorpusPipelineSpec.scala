package graft

import org.scalatest.funsuite.AnyFunSuite

/** The composed LLM-data pipeline (examples.CorpusPipelineDemo.run):
  * stages must only ever shrink the corpus, the split must partition
  * the survivors, and packing/chunking must cover what survives. */
class CorpusPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("pipeline stages compose with monotone counts and full coverage") {
    spark.catalog.clearCache()
    val json = graft.examples.CorpusPipelineDemo
      .run(spark, "/root/testdata/sf0.001")
    // every keep-set and member-query pin is released by the run itself
    assert(TestSpark.cacheManager.isEmpty,
      "CorpusPipelineDemo.run left cached plans in the session")
    val kv = "\"([a-z_]+)\":(\\d+)".r.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    assert(kv("n_docs") > 0)
    assert(kv("after_quality") <= kv("n_docs"))
    // each selection station is a subset of the corpus, and the
    // intersection funnel can only shrink further
    assert(kv("after_domain_quality") <= kv("n_docs"))
    assert(kv("after_lm_ppl") <= kv("n_docs"))
    assert(kv("after_dsir") <= kv("n_docs"))
    assert(kv("canonical_urls") > 0 && kv("canonical_urls") <= kv("n_docs"))
    assert(kv("after_dedup_and_split") <= kv("after_quality"))
    assert(kv("after_dedup_and_split") <= kv("after_domain_quality"))
    assert(kv("after_dedup_and_split") <= kv("after_lm_ppl"))
    assert(kv("after_dedup_and_split") <= kv("after_dsir"))
    assert(kv("train") + kv("val") + kv("test") == kv("after_dedup_and_split"))
    // the temperature mixer resamples WITHIN the train split
    assert(kv("train_mixed") <= kv("train"))
    assert(kv("train_mixed") > 0 && kv("train_packs") > 0)
    // every surviving doc yields at least one retrieval chunk
    assert(kv("chunks") >= kv("after_dedup_and_split"))
  }
}
