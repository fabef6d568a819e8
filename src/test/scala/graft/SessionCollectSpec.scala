package graft

import java.lang.ref.WeakReference

import org.scalatest.funsuite.AnyFunSuite

/** Round-10 verdict item #4: the [[Caches]] registry must not pin a
  * session a library caller dropped without `releaseAll`. The registry
  * holds weak refs only (sessions as WeakHashMap keys, frames as
  * WeakReference values), so the entry is collectable the moment the
  * caller's own references go — asserted here with a GC loop.
  *
  * What the registry CANNOT undo (and this spec deliberately does not
  * claim): a `track`-persisted plan is also registered in Spark's
  * shared-context CacheManager, which holds the physical plan — and
  * through it the session — until uncached. That pin is Spark's, exists
  * with or without this registry, and is exactly why `releaseAll` is
  * part of the library contract. The registry's own guarantee is that
  * IT never adds a strong path to the session, locked by the
  * pinned-frame case (no CacheManager entry involved).
  */
class SessionCollectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** GC until `cond` holds, up to ~5 s. Returns whether it held. */
  private def gcUntil(cond: () => Boolean): Boolean = {
    var i = 0
    while (!cond() && i < 50) {
      System.gc()
      Thread.sleep(100)
      i += 1
    }
    cond()
  }

  test("a dropped session with only pinned frames is expunged " +
      "from the registry without releaseAll") {
    val base = Caches.registrySessionCount
    var child = spark.newSession()
    val childRef = new WeakReference(child)
    locally {
      // a localCheckpoint pin: RDD-layer only, no CacheManager entry
      var df = Caches.pin(child.range(0L, 1000L).toDF("id"), eager = true)
      assert(Caches.trackedCount(child) == 1)
      df = null
    }
    assert(Caches.registrySessionCount == base + 1)
    child = null
    val expunged = gcUntil(() =>
      childRef.get() == null && Caches.registrySessionCount <= base)
    assert(expunged,
      "registry kept a dropped session alive: entry not expunged after GC")
  }

  test("releaseAll drops every registry reference for the session") {
    // NOTE: a session that has EXECUTED a query is not collectable in
    // Spark 4.1 regardless of this registry (verified with a no-Caches
    // control: plain newSession().range().count() pins identically —
    // shared-context listener machinery, upstream). The registry's own
    // contract is therefore: after releaseAll, it holds NOTHING for the
    // session; the collectability-when-only-we-pin case is the
    // pinned-frame test above.
    val base = Caches.registrySessionCount
    val child = spark.newSession()
    val df = child.range(0L, 100L).toDF("id")
    Caches.track(df).count()
    assert(Caches.trackedCount(child) == 1)
    assert(Caches.registrySessionCount == base + 1)
    Caches.releaseAll(child)
    assert(Caches.trackedCount(child) == 0)
    assert(Caches.registrySessionCount == base,
      "registry entry must be removed on releaseAll")
  }

  /** Track + materialize in an own frame; return only the weak ref. */
  private def orphanTracked(): WeakReference[Any] = {
    val p = Caches.track(
      spark.range(0L, 1000L).toDF("id").selectExpr("id", "id * 2 AS d"))
    p.count() // materialize the block
    new WeakReference(p)
  }

  test("releaseAll falls back to clearCache when a tracked wrapper was " +
      "GC-collected before release (baseline still restored)") {
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val wrapperRef = orphanTracked()
    // nothing but the registry's weak ref holds the wrapper now
    if (!gcUntil(() => wrapperRef.get() == null)) {
      Caches.releaseAll(spark) // leave no pin behind either way
      cancel("GC would not collect the wrapper; fallback path not reached")
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet != baseline,
      "expected the orphaned persist to still hold a block")
    Caches.releaseAll(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- baseline).isEmpty,
      s"clearCache fallback left pinned RDDs: ${after -- baseline}")
  }

  /** track() a LogicalRDD-backed frame: the entry holds a CacheManager
    * pin (persist) AND records an RDD ref (the LogicalRDD leaf). The
    * RDD ref stays live after the wrapper is collected (the cached plan
    * holds it), so the buggy release path would unpersist the RDD
    * (a no-op here) and skip the clearCache fallback — leaking the
    * CacheManager block. Return only the weak ref.
    */
  private def orphanTrackedLogicalRdd(): WeakReference[Any] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rdd = spark.sparkContext.parallelize(0L until 1000L, 4).map(Row(_))
    val p = Caches.track(spark.createDataFrame(rdd,
      StructType(Seq(StructField("id", LongType)))))
    assert(p.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      "fixture must exercise the LogicalRDD dual-ref path")
    p.count() // materialize the CacheManager block
    new WeakReference(p)
  }

  test("collected track()'d LogicalRDD wrapper releases BOTH pins — the " +
      "RDD ref alone must not suppress the clearCache fallback") {
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val wrapperRef = orphanTrackedLogicalRdd()
    if (!gcUntil(() => wrapperRef.get() == null)) {
      Caches.releaseAll(spark)
      cancel("GC would not collect the wrapper; dual-pin path not reached")
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet != baseline,
      "expected the orphaned dual pin to still hold blocks")
    Caches.releaseAll(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- baseline).isEmpty,
      s"releaseAll left pinned RDDs after a collected dual-pin wrapper " +
        s"(CacheManager half leaked?): ${after -- baseline}")
  }
}
