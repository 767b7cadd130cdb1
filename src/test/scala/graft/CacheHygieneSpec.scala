package graft

/** No declared key may leave a Dataset cache behind in the session
  * (`Caching.withCleanup` is the library-wide contract; a long-lived
  * Verify/Bench session runs every key, so one leaked persist per run
  * compounds). The r16 audit found unreleased persists on the
  * phash-incremental key paths and an inert persist in bm25Serve — this
  * spec pins the fix by running the affected keys to completion and
  * asserting the session cache manager is exactly as empty as before.
  *
  * localCheckpoint blocks are NOT tracked by the cache manager (they live
  * in the block manager until their RDDs are GC'd), so this asserts the
  * persist/unpersist discipline specifically — which is the leak class
  * the audit flagged. */
class CacheHygieneSpec extends SparkSpec {

  /** Keys whose implementations persist internally and must release. */
  private val cachingKeys = Seq(
    "media_phash_incremental", "video_phash_incremental",
    "audio_phash_incremental", "dedup_minhash_incremental", "bm25_serve",
    // packSequences persists internally; the incremental macro runs it
    // per night, so its key must release per call (materialize=true)
    "curation_incremental",
    // the exactly-once driver packs per chop under the same contract
    "curation_stream",
    // the full arrival mode adds DomainMix.mix's internal persist — also
    // bound per call via materialize=true
    "curation_incremental_full",
    // persists the index embedding + the batch embedding, both released
    // inside the call (withCleanup + materialize=true)
    "text_embed_incremental",
    // r22: the decode/embed/shingle/query caches these operators persist
    // internally now release inside the call (withCleanup around a
    // materialized verdict frame, or explicit unpersist after the parity
    // collect) instead of leaning on the harness's per-key clearCache —
    // one entry per operator family member so the contract is enforced,
    // not assumed (r21 verdict #6)
    "media_phash", "media_phash_jpeg", "audio_phash", "video_phash",
    "media_embed", "audio_embed", "video_embed", "text_embed",
    "media_ann", "audio_ann", "video_ann", "text_ann",
    "pq_topk", "ivfpq_topk", "ivfpq_append",
    "dsir_select", "dedup_minhash", "dedup_clusters",
    "takedown", "takedown_vectors")

  test("declared keys that persist internally release every cache") {
    spark.sharedState.cacheManager.clearCache()
    cachingKeys.foreach { key =>
      SparkEntry.queries(key)(spark, sf0001).collect()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"declared key '$key' left cached frame(s) in the session")
    }
  }
}
