package graft.operators

import graft.GraftSpec
import graft.etl.{DataGen, Dimensions}

/** Session-cache lifecycle contract of [[FleetOps]]: a long-lived JVM
  * hosting many sessions must not accumulate cache entries for dead
  * sessions, nor serve a previous corpus after `reconfigure`. Stopping
  * the shared test context would kill every other suite in the forked
  * JVM, so the spec drives [[SessionMemo.evict]] itself and checks the
  * families bound to each session through [[SessionMemo.entries]].
  */
class FleetOpsSpec extends GraftSpec {

  test("evict drops every cache entry bound to the evicted session only") {
    val s2 = spark.newSession()
    def families(s: org.apache.spark.sql.SparkSession) = SessionMemo.entries(s).keySet
    // populate the OLTP and ETL families for s2
    FleetOps.oltp(s2).vehicles.count()
    FleetOps.etl(s2).dims("dim_route").count()
    assert(families(s2) === Set("fleet_oltp", "fleet_etl"))

    // a sibling session's entries must survive the eviction
    val s3 = spark.newSession()
    FleetOps.oltp(s3).vehicles.count()
    assert(families(s3) === Set("fleet_oltp"))

    SessionMemo.evict(s2)
    assert(families(s2).isEmpty)
    assert(families(s3) === Set("fleet_oltp"))

    // idempotent: a second eviction is a no-op
    SessionMemo.evict(s2)
    assert(families(s2).isEmpty)

    // the session is usable again after eviction (fresh entries rebuild)
    FleetOps.oltp(s2).drivers.count()
    assert(families(s2) === Set("fleet_oltp"))
    SessionMemo.evict(s2)
    SessionMemo.evict(s3)
  }

  test("3-day SCD2 flip-back gate upholds the dim invariants") {
    import org.apache.spark.sql.functions._
    val dim = FleetOps.scd2ThreeDay(spark, Dimensions.dimVehicle,
      "vehicle_id", Dimensions.vehicleTracked, "vehicle_sk", "status").cache()
    try {
      // every probe key (≡ 0 mod 5) flipped A→B→A: three versions
      val probeCounts = dim.filter(col("vehicle_id") % 5 === 0)
        .groupBy("vehicle_id").count().collect()
      assert(probeCounts.nonEmpty)
      assert(probeCounts.forall(_.getAs[Long]("count") >= 3),
        "flip-back keys must carry closed + reopened + re-closed versions")
      // exactly one current version per key
      val curCounts = dim.filter(col("is_current"))
        .groupBy("vehicle_id").count().collect()
      assert(curCounts.forall(_.getAs[Long]("count") === 1))
      assert(curCounts.length === dim.select("vehicle_id").distinct.count())
      // surrogates unique across ALL versions (incl. reopened ones)
      assert(dim.select("vehicle_sk").distinct.count() === dim.count())
      // contiguous non-overlapping validity: each non-final version ends
      // the day before the next one starts
      val gaps = dim.withColumn("next_from", lead("valid_from", 1)
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy("vehicle_id").orderBy("valid_from")))
        .filter(col("next_from").isNotNull &&
          col("valid_to") =!= date_sub(col("next_from"), 1))
      assert(gaps.count() === 0)
    } finally { dim.unpersist(); () }
  }

  test("evict releases the 2-day gate's persisted blocks for that session") {
    // a corpus of its own: eviction keeps a frame cached while another
    // session's live entry pins the same plan (CacheManager matches by
    // plan), and the suite session pins the default corpus's frames
    FleetOps.reconfigure(DataGen.Config(seed = 7, nTrips = 2000),
      Some(tempDir("fleetops-evict")))
    val s2 = spark.newSession()
    try {
      // build ONE persisted 2-day input family (staging snapshots + day-1
      // dim) — the cheapest path that persists blocks for s2; the full
      // warmup would rebuild every gate input for a second session
      FleetOps.scd2TwoDay(s2, Dimensions.dimVehicle,
        "vehicle_id", Dimensions.vehicleTracked, "vehicle_sk").count()
      assert(SessionMemo.entries(s2).keySet === Set("fleet_oltp", "fleet_scd2_2day|vehicle_sk"))
      val cachedBefore = spark.sparkContext.getPersistentRDDs.size
      assert(cachedBefore > 0)

      SessionMemo.evict(s2)
      assert(SessionMemo.entries(s2).isEmpty)
      // unpersist(blocking = false) is async — poll briefly for the drop
      val deadline = System.nanoTime() + 10e9.toLong
      var after = spark.sparkContext.getPersistentRDDs.size
      while (after >= cachedBefore && System.nanoTime() < deadline) {
        Thread.sleep(100)
        after = spark.sparkContext.getPersistentRDDs.size
      }
      assert(after < cachedBefore,
        s"expected persisted RDD count to drop below $cachedBefore, still $after")
    } finally {
      FleetOps.reconfigure(DataGen.Config())
      SessionMemo.evict(s2)
    }
  }

  test("reconfigure serves no stale corpus: the next use rebuilds on the new dir") {
    import org.apache.spark.storage.StorageLevel
    val s2 = spark.newSession()
    try {
      // start on a corpus of its own, so no other session's live entry
      // pins the frames the displacement must release
      FleetOps.reconfigure(DataGen.Config(seed = 5, nTrips = 2000),
        Some(tempDir("fleetops-reconfigure-old")))
      val old = FleetOps.etl(s2)
      old.fact.count()
      // the frames that read the OLTP corpus (dim_date and dim_time are
      // calendar grids whose plans the rebuilt entry re-caches unchanged)
      val oldFrames = old.fact +: Seq("dim_route", "dim_customer", "dim_vehicle",
        "dim_driver").map(old.dims)
      assert(oldFrames.forall(_.storageLevel.useMemory))

      val dir = tempDir("fleetops-reconfigure")
      FleetOps.reconfigure(DataGen.Config(seed = 7, nTrips = 2000), Some(dir))
      val trips = FleetOps.oltp(s2).trips
      assert(trips.inputFiles.nonEmpty && trips.inputFiles.forall(_.contains(dir)))
      assert(trips.count() === 2000)

      val fresh = FleetOps.etl(s2)
      assert(!(fresh eq old))
      assert(fresh.fact.storageLevel.useMemory)
      assert(oldFrames.forall(_.storageLevel === StorageLevel.NONE),
        "the displaced ETL entry must release its cached frames")
      assert(SessionMemo.entries(s2).keySet === Set("fleet_oltp", "fleet_etl"))
    } finally {
      FleetOps.reconfigure(DataGen.Config())
      SessionMemo.evict(s2)
    }
  }
}
