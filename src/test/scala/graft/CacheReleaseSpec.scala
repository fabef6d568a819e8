package graft

import org.scalatest.funsuite.AnyFunSuite

/** Caller-side cache hygiene (round-9 verdict item #4): every op-internal
  * persist is registered in [[Caches]], so a LIBRARY caller — who never
  * runs the harness's `SparkHygiene.clearSessionCaches` — can compose
  * persisting entries and return the BlockManager to baseline with one
  * public call. Each persisting query is materialized TWICE in one
  * session (the accumulation shape the verdict flagged), then released;
  * `getPersistentRDDs` must return exactly to its pre-query baseline
  * WITHOUT clearSessionCaches. An op that adds a raw `.persist` without
  * `Caches.track` fails the baseline assertion here.
  */
class CacheReleaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Every queries entry whose implementation persists an intermediate
    * (the verdict's list + the other minhashRelationsOn consumers).
    */
  private val persistingQueries = Seq(
    "ds_dsir", "ta_textrank", "dd_minhash_lsh", "dd_minhash_est",
    "dd_crossfuzzy", "dd_embed_cos", "dd_cdc", "ss_opq_topk")

  test("persisting queries release to baseline via Caches.releaseAll " +
      "(no clearSessionCaches)") {
    for (name <- persistingQueries) {
      val baseline = spark.sparkContext.getPersistentRDDs.keySet
      // twice in one session — the accumulation pattern a library
      // caller composing entries would hit
      SparkEntry.queries(name)(spark, sf).count()
      SparkEntry.queries(name)(spark, sf).count()
      assert(Caches.trackedCount(spark) > 0,
        s"$name: expected op-internal persists to be Caches-tracked")
      Caches.releaseAll(spark)
      val after = spark.sparkContext.getPersistentRDDs.keySet
      assert((after -- baseline).isEmpty,
        s"$name: pinned RDDs leaked past Caches.releaseAll: " +
          s"${after -- baseline}")
      assert(Caches.trackedCount(spark) == 0,
        s"$name: registry must drop its references on release")
    }
  }

  test("dsDsirWithin (library variant, no queries entry) releases too") {
    import spark.implicits._
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val raw = Seq((1L, "a b c a b", true), (2L, "c d e f g", false),
      (3L, "a b d d e", true), (4L, "x y z w v", false))
      .toDF("doc_id", "text", "is_target")
    ops.Pipeline.dsDsirWithin(raw, k = 2).count()
    ops.Pipeline.dsDsirWithin(raw, k = 2).count()
    Caches.releaseAll(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- baseline).isEmpty)
  }

  test("releaseAll is a safe no-op on a session with nothing tracked") {
    Caches.releaseAll(spark)
    assert(Caches.trackedCount(spark) == 0)
  }

  test("untrack drops exactly the released frame's registration") {
    Caches.releaseAll(spark)
    val kept = Caches.track(spark.range(10).toDF())
    val released = Caches.track(spark.range(20).toDF())
    released.unpersist(blocking = true)
    Caches.untrack(released)
    assert(Caches.trackedCount(spark) == 1)
    Caches.releaseAll(spark)
    assert(kept.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }
}
