package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.GraftSpec

class StreamsSpec extends GraftSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private lazy val waypoints = Streams.waypointsDim(
    Seq(
      (10L, 1, 0.00, 0.00), (10L, 2, 0.10, 0.00), (10L, 3, 0.20, 0.00))
      .toDF("route_id", "seq", "lat", "lon"))

  test("R3 deviation: on-route events pass, off-route events alert at 5 km") {
    val gps = Seq(
      Streams.GpsEvent(1L, 10L, 0.10, 0.001, 80, ts("2025-01-01 10:00:00")), // ~0.1 km off
      Streams.GpsEvent(2L, 10L, 0.10, 0.10, 80, ts("2025-01-01 10:01:00"))   // ~11 km off
    ).toDF()
    val alerts = Streams.routeDeviationAlerts(gps, waypoints).collect()
    assert(alerts.map(_.getAs[Long]("vehicle_id")).toSeq === Seq(2L))
    assert(alerts.head.getAs[String]("alert_type") === "ROUTE_DEVIATION")
    // equirectangular parity: 0.1° lon at threshold math ⇒ 11.1 km
    assert(math.abs(alerts.head.getAs[Double]("min_distance_km") - 11.1) < 0.01)
  }

  test("R3 runs as a real streaming query (memory source → memory sink)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.GpsEvent]
    val q = Streams.routeDeviationAlerts(mem.toDF(), waypoints)
      .writeStream.format("memory").queryName("alerts_stream")
      .outputMode("append").start()
    try {
      mem.addData(
        Streams.GpsEvent(1L, 10L, 0.10, 0.001, 80, ts("2025-01-01 10:00:00")),
        Streams.GpsEvent(2L, 10L, 0.50, 0.50, 80, ts("2025-01-01 10:01:00")))
      q.processAllAvailable()
      val got = spark.table("alerts_stream").collect()
      assert(got.map(_.getAs[Long]("vehicle_id")).toSeq === Seq(2L))
    } finally q.stop()
  }

  test("events loader handles both driver timestamp formats; streams run from real NTZ files") {
    // Round 7 shipped broken because the driver regenerated
    // events.parquet as TIMESTAMP(µs, NTZ) while the loader assumed
    // ns-as-long — and no test read the streaming layer from files.
    // This test writes BOTH physical formats, reads each through the
    // SAME loader the gates use (Tables.events), and drives a real
    // file-source streaming query off the NTZ files.
    val base = tempDir("ntz_events")

    // (a) the new driver format: TIMESTAMP_NTZ microseconds
    val ntzDir = s"$base/ntz"
    Seq(
      (1L, "2025-01-01 10:00:00", 7L, "gps", 10.0, "{}"),
      (2L, "2025-01-01 10:01:00", 8L, "gps", 50.0, "{}"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .select($"event_id", to_timestamp($"ts_s").cast("timestamp_ntz").as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")
    val viaLoaderNtz = graft.Tables.events(spark, ntzDir)
    assert(viaLoaderNtz.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(viaLoaderNtz.select(unix_millis($"ts")).as[Long].collect().sorted
      === Array(ts("2025-01-01 10:00:00").getTime, ts("2025-01-01 10:01:00").getTime))

    // (b) the old driver format: raw ns epoch longs
    val nsDir = s"$base/ns"
    viaLoaderNtz.select($"event_id",
        (unix_micros($"ts") * 1000).as("ts"),
        $"user_id", $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$nsDir/events.parquet")
    val viaLoaderNs = graft.Tables.events(spark, nsDir)
    assert(viaLoaderNs.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(viaLoaderNs.select(unix_millis($"ts")).as[Long].collect().sorted
      === viaLoaderNtz.select(unix_millis($"ts")).as[Long].collect().sorted)

    // (c) end-to-end: a REAL file-source stream over the NTZ files,
    // same NTZ→session-TZ normalization, through the R3 operator
    val gpsStream = spark.readStream
      .schema(spark.read.parquet(s"$ntzDir/events.parquet").schema)
      .parquet(s"$ntzDir/events.parquet")
      .select($"user_id".as("vehicle_id"), lit(10L).as("route_id"),
        ($"value" / 100).as("lat"), lit(0.001).as("lon"),
        lit(60.0).as("speed_kmh"), $"ts".cast("timestamp").as("ts"))
    val q = Streams.routeDeviationAlerts(gpsStream, waypoints)
      .writeStream.format("memory").queryName("ntz_file_alerts")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // value=50 → lat 0.5, ~33 km off route 10; value=10 → lat 0.1, on-route
      val got = spark.table("ntz_file_alerts").collect()
      assert(got.map(_.getAs[Long]("vehicle_id")).toSeq === Seq(8L))
    } finally q.stop()
  }

  test("streaming sessionize: cross-batch continuation, gap close, exact cents") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.SessionEvent]
    def ev(u: Long, id: Long, t: String, v: Double) =
      Streams.SessionEvent(u, id, ts(t), v)
    val q = Streams.streamingSessionize(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").start()
    try {
      // batch 1: user 1 opens session 1 (2 events); user 2 opens session 1
      mem.addData(
        ev(1, 1, "2025-01-01 10:00:00", 1.10),
        ev(1, 2, "2025-01-01 10:10:00", 2.05),
        ev(2, 3, "2025-01-01 09:00:00", 5.00))
      q.processAllAvailable()
      assert(spark.table("sess_stream").count() === 0) // nothing closed yet
      // batch 2: user 1 CONTINUES session 1 across the batch boundary
      // (10:25 is within 30 min of 10:10), then a >30-min gap closes it
      mem.addData(
        ev(1, 4, "2025-01-01 10:25:00", 0.85),
        ev(1, 5, "2025-01-01 11:30:00", 9.99))
      q.processAllAvailable()
      val closed = spark.table("sess_stream").collect()
      assert(closed.length === 1)
      val r = closed.head
      assert(r.getAs[Long]("user_id") === 1L)
      assert(r.getAs[Long]("session_seq") === 1L)
      assert(r.getAs[Long]("n_events") === 3L)       // 2 from batch 1 + 1 continued
      assert(r.getAs[Long]("start_ms") === ts("2025-01-01 10:00:00").getTime)
      assert(r.getAs[Long]("end_ms") === ts("2025-01-01 10:25:00").getTime)
      assert(r.getAs[Double]("total_value") === 4.00) // 1.10+2.05+0.85 exact cents
      // user 2's only session and user 1's session 2 stay open in state
    } finally q.stop()
  }

  test("R2 ETA: distance/speed arithmetic and timestamp advance") {
    val dest = Seq((10L, 1.0, 0.0)).toDF("route_id", "dest_lat", "dest_lon")
    val gps = Seq(Streams.GpsEvent(1L, 10L, 0.0, 0.0, 111.0, ts("2025-01-01 10:00:00"))).toDF()
    val out = Streams.etaUpdates(gps, dest).collect().head
    // dist = 1° × 111 = 111 km at 111 km/h ⇒ 1.0 h ⇒ 11:00
    assert(math.abs(out.getAs[Double]("eta_hours") - 1.0) < 1e-6)
    assert(out.getAs[java.sql.Timestamp]("eta") === ts("2025-01-01 11:00:00"))
  }

  test("R1 verification: stream-static join resolves status") {
    val status = Seq(
      (100L, "delivered"), (101L, "pending")).toDF("delivery_id", "delivery_status")
    val requests = Seq(100L, 101L, 999L).toDF("delivery_id")
    val out = Streams.verifyDeliveries(requests, status)
      .orderBy($"delivery_id").collect()
    assert(out.map(r => (r.getAs[Boolean]("found"), r.getAs[Boolean]("verified"))).toSeq
      === Seq((true, true), (true, false), (false, false)))
  }

  test("R4 keyed state: last-write-wins with update counting") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.GpsEvent]
    val q = Streams.latestVehicleState(mem.toDS())
      .writeStream.format("memory").queryName("vehicle_state")
      .outputMode("update").start()
    try {
      mem.addData(Streams.GpsEvent(1L, 10L, 0.1, 0.1, 80, ts("2025-01-01 10:00:00")))
      q.processAllAvailable()
      mem.addData(
        Streams.GpsEvent(1L, 10L, 0.2, 0.2, 90, ts("2025-01-01 10:05:00")),
        // stale out-of-order event must NOT win
        Streams.GpsEvent(1L, 10L, 0.0, 0.0, 10, ts("2025-01-01 09:00:00")))
      q.processAllAvailable()
      val last = spark.table("vehicle_state")
        .orderBy($"n_updates".desc).limit(1).collect().head
      assert(last.getAs[Double]("lat") === 0.2)
      assert(last.getAs[Long]("n_updates") === 3L)
      assert(last.getAs[java.sql.Timestamp]("last_update") === ts("2025-01-01 10:05:00"))
    } finally q.stop()
  }

  test("watermarked tumbling-window aggregation emits closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.GpsEvent]
    val events = mem.toDF().withColumnRenamed("speed_kmh", "value")
    val q = Streams.windowedEventCounts(events, "ts", "vehicle_id")
      .writeStream.format("memory").queryName("windowed_counts")
      .outputMode("append").start()
    try {
      mem.addData(
        Streams.GpsEvent(1L, 10L, 0, 0, 10, ts("2025-01-01 10:00:30")),
        Streams.GpsEvent(1L, 10L, 0, 0, 20, ts("2025-01-01 10:02:00")),
        Streams.GpsEvent(1L, 10L, 0, 0, 30, ts("2025-01-01 10:06:00")))
      q.processAllAvailable()
      // advance event time beyond watermark so earlier windows close
      mem.addData(Streams.GpsEvent(1L, 10L, 0, 0, 1, ts("2025-01-01 11:00:00")))
      q.processAllAvailable()
      val rows = spark.table("windowed_counts").collect()
        .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
          r.getAs[Long]("n"), r.getAs[Double]("total_value"))).toSet
      assert(rows.contains(("2025-01-01 10:00:00.0", 2L, 30.0)))
      assert(rows.contains(("2025-01-01 10:05:00.0", 1L, 30.0)))
    } finally q.stop()
  }

  test("every streaming harness runs on a genuine FileStreamSource (parquet drops, no collect)") {
    // the r9/r10 harness conversion: every gate's feed is a watched
    // directory read through readStream — assert the source each query
    // actually ran on IS the file source, per harness; for the feeds
    // guaranteed non-empty at sf0.001, also assert the sink drained
    import graft.operators.StreamingOps
    val d = sf("sf0.001")
    type Run = () => (org.apache.spark.sql.DataFrame, Seq[String])
    val harnesses: Seq[(String, Boolean, Run)] = Seq(
      ("windowed_counts", true,
        () => StreamingOps.runFileFedWindowedCounts(spark, d)),
      ("interval_join", false,   // inner join may be empty at sf0.001
        () => StreamingOps.runFileFedIntervalJoin(spark, d, "inner", "spec_ij_sink")),
      ("outer_interval_join", true,  // null-emissions guarantee rows
        () => StreamingOps.runFileFedIntervalJoin(spark, d, "left_outer", "spec_oij_sink")),
      ("stream_dedup", true,
        () => StreamingOps.runFileFedStreamDedup(spark, d)),
      ("sessionize", false,      // only non-final sessions emit
        () => StreamingOps.runFileFedSessionize(spark, d)),
      ("enrich", true,
        () => StreamingOps.runFileFedEnrich(spark, d)),
      ("dedup_ttl", true,
        () => StreamingOps.runFileFedDedupTtl(spark, d)),
      ("delivery_verification", true,
        () => StreamingOps.runFileFedDeliveryVerification(spark, d)),
      ("eta", true,
        () => StreamingOps.runFileFedEta(spark, d)))
    harnesses.foreach { case (name, nonEmpty, run) =>
      val (sink, descs) = run()
      assert(descs.nonEmpty && descs.forall(_.startsWith("FileStreamSource")),
        s"$name ran on: ${descs.mkString("; ")}")
      if (nonEmpty) assert(sink.count() > 0, s"$name sink drained empty")
    }
  }

  test("stream-stream interval join pairs purchases with preceding clicks") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Streams.GpsEvent]
    val purchases = MemoryStream[Streams.GpsEvent]
    val cDf = clicks.toDF().select($"vehicle_id".as("k"), $"ts".as("click_ts"),
      $"speed_kmh".as("click_v"))
    val pDf = purchases.toDF().select($"vehicle_id".as("k"), $"ts".as("purchase_ts"))
    val q = Streams.streamIntervalJoin(pDf, cDf, "k", "purchase_ts", "click_ts")
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      clicks.addData(
        Streams.GpsEvent(1L, 0, 0, 0, 10, ts("2025-01-01 09:30:00")),
        Streams.GpsEvent(1L, 0, 0, 0, 20, ts("2025-01-01 08:00:00")),  // too old
        Streams.GpsEvent(2L, 0, 0, 0, 30, ts("2025-01-01 09:45:00"))) // other key
      purchases.addData(Streams.GpsEvent(1L, 0, 0, 0, 0, ts("2025-01-01 10:00:00")))
      q.processAllAvailable()
      val got = spark.table("ss_join")
        .select($"k", $"click_v").collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.toSeq === Seq((1L, 10.0)))
    } finally q.stop()
  }

  test("outer interval join: match emits, evicted unmatched null-emits, recent unmatched stays in state") {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[Streams.LeftEvent]
    val right = MemoryStream[Streams.RightEvent]
    val q = Streams.streamIntervalJoin(
        left.toDF(), right.toDF(), "key", "l_ts", "r_ts",
        lookback = "1 hour", lateness = "10 minutes",
        joinType = "left_outer")
      .writeStream.format("memory").queryName("oij_spec")
      .outputMode("append").start()
    try {
      // batch 1: key 1 matches; key 2 has no right and an OLD l_ts;
      // key 3 has no right and a RECENT l_ts (near max event time)
      left.addData(
        Streams.LeftEvent(1L, ts("2025-01-01 10:00:00"), 100L),
        Streams.LeftEvent(2L, ts("2025-01-01 08:00:00"), 200L),
        Streams.LeftEvent(3L, ts("2025-01-01 11:55:00"), 300L))
      right.addData(
        Streams.RightEvent(1L, ts("2025-01-01 09:30:00"), 900L),
        Streams.RightEvent(9L, ts("2025-01-01 12:00:00"), 901L))
      q.processAllAvailable()
      // watermark = min(11:55, 12:00) - 10 min = 11:45 → l 200 (08:00)
      // is evictable and must null-emit; l 300 (11:55 ≥ WM) must NOT
      val rows = spark.table("oij_spec")
        .select($"l_id", $"r_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toSet
      assert(rows === Set((100L, Some(900L)), (200L, None)))
    } finally q.stop()
  }

  test("keyed parquet upsert sink: last-write-wins snapshot across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft_upsert") + "/state"
    val ckpt = tempDir("graft_ckpt")
    val mem = MemoryStream[Streams.GpsEvent]
    val q = graft.streaming.KeyedParquetSink.start(
      mem.toDS(), dir, ckpt, Seq("vehicle_id"), "ts")
    try {
      mem.addData(Streams.GpsEvent(1L, 10L, 0.1, 0.1, 80, ts("2025-01-01 10:00:00")))
      q.processAllAvailable()
      mem.addData(
        Streams.GpsEvent(1L, 10L, 0.2, 0.2, 90, ts("2025-01-01 10:05:00")),
        Streams.GpsEvent(2L, 11L, 0.3, 0.3, 70, ts("2025-01-01 10:01:00")))
      q.processAllAvailable()
      // stale event must not displace the newer snapshot row
      mem.addData(Streams.GpsEvent(1L, 10L, 0.0, 0.0, 5, ts("2025-01-01 09:00:00")))
      q.processAllAvailable()
      val state = spark.read.parquet(dir).collect()
        .map(r => r.getAs[Long]("vehicle_id") -> r.getAs[Double]("lat")).toMap
      assert(state === Map(1L -> 0.2, 2L -> 0.3))
    } finally q.stop()
  }

  test("streaming exact-dedup: first-seen wins within and across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.StreamDoc]
    val q = Streams.streamingExactDedup(mem.toDS())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // batch 1: ids 3 and 1 share a fingerprint (case/whitespace
      // canonicalization) — the LOWER id must win within the batch
      mem.addData(
        Streams.StreamDoc(3L, "hello world"),
        Streams.StreamDoc(1L, "Hello   WORLD"),
        Streams.StreamDoc(2L, "unique text"))
      q.processAllAvailable()
      // batch 2: a late duplicate of batch 1 is dropped; a new doc passes
      mem.addData(
        Streams.StreamDoc(9L, "HELLO world"),
        Streams.StreamDoc(4L, "another one"))
      q.processAllAvailable()
      val kept = spark.table("dedup_stream")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(kept === Seq(1L, 2L, 4L))
    } finally q.stop()
  }

  test("TTL dedup: in-window redelivery drops as duplicate, expired redelivery as late; fresh keys pass") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.CentEvent]
    val q = Streams.streamingDedupTtl(mem.toDS(), delay = "10 minutes")
      .writeStream.format("memory").queryName("ttl_dedup_stream")
      .outputMode("append").start()
    try {
      // batch 1: three distinct keys spanning an hour — the max event
      // time (11:00) puts the watermark at 10:50 after the batch
      mem.addData(
        Streams.CentEvent(1L, ts("2025-01-01 10:00:00"), 100L),
        Streams.CentEvent(2L, ts("2025-01-01 10:55:00"), 200L),
        Streams.CentEvent(3L, ts("2025-01-01 11:00:00"), 300L))
      q.processAllAvailable()
      // batch 2:
      //  key 2 redelivered — its state is LIVE (10:55 >= wm 10:50):
      //    dropped as a duplicate
      //  key 1 redelivered — state EXPIRED (10:00 + 10 min < wm), and
      //    10:00 < wm: dropped as late data — either way not re-emitted
      //  key 4 fresh at 10:20 — BELOW the watermark: dropped as late
      //    even though the key is new (the TTL trade-off, by contract)
      //  key 5 fresh at 11:05 — emits
      mem.addData(
        Streams.CentEvent(2L, ts("2025-01-01 10:55:00"), 200L),
        Streams.CentEvent(1L, ts("2025-01-01 10:00:00"), 100L),
        Streams.CentEvent(4L, ts("2025-01-01 10:20:00"), 400L),
        Streams.CentEvent(5L, ts("2025-01-01 11:05:00"), 500L))
      q.processAllAvailable()
      val kept = spark.table("ttl_dedup_stream")
        .select("key").collect().map(_.getLong(0)).sorted.toSeq
      assert(kept === Seq(1L, 2L, 3L, 5L))
    } finally q.stop()
  }

  test("streaming state survives a stop + restart from checkpoint (exact dedup)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // recovery needs a FAULT-TOLERANT sink (the memory sink refuses a
    // used checkpoint) — a parquet file sink is the production shape
    val base = tempDir("graft_restart")
    val (ck, out) = (s"$base/ck", s"$base/out")
    val mem = MemoryStream[Streams.StreamDoc]
    def start() = Streams.streamingExactDedup(mem.toDS()).toDF()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).outputMode("append").start()
    val q1 = start()
    try {
      mem.addData(Seq(
        Streams.StreamDoc(1L, "alpha beta"), Streams.StreamDoc(2L, "gamma")))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(out).count() === 2)
    // a NEW query on the SAME checkpoint: the (fingerprint → doc_id)
    // keyed state must reload from the state store, so a duplicate of
    // a PRE-restart document is dropped — the operational recovery
    // contract (planned maintenance, crash) of every stateful gate
    val q2 = start()
    try {
      mem.addData(Seq(
        Streams.StreamDoc(3L, "alpha beta"),   // dup of pre-restart doc 1
        Streams.StreamDoc(4L, "delta")))
      q2.processAllAvailable()
    } finally q2.stop()
    val ids = spark.read.parquet(out)
      .as[Streams.StreamDoc].collect().map(_.doc_id)
    assert(ids.toSet === Set(1L, 2L, 4L), s"got ${ids.toSeq}")
  }

  test("stream-static enrich: dim joined per micro-batch, left semantics keep unmatched facts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "A"), (2L, "B")).toDF("user_id", "segment")
    val mem = MemoryStream[Streams.FactEvent]
    val q = Streams.enrichWithDim(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_test_sink")
      .outputMode("append").start()
    try {
      mem.addData(Seq(Streams.FactEvent(10L, 1L, 100L)))
      q.processAllAvailable()
      // second batch proves the static side re-resolves per batch and
      // that a keyless fact (user 9) survives the LEFT join as null
      mem.addData(Seq(
        Streams.FactEvent(11L, 2L, 200L), Streams.FactEvent(12L, 9L, 300L)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("enrich_test_sink").orderBy(col("event_id"))
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("segment")))
    assert(rows.toSeq === Seq((10L, "A"), (11L, "B"), (12L, null)))
  }

  test("StreamSource: rate-micro-batch smoke feed runs a windowless agg end-to-end") {
    // the no-dependency source of the §2.11 seam: exactly rowsPerBatch
    // rows per trigger, so batch arithmetic is deterministic — run
    // until two batches have landed, assert whole multiples
    val src = StreamSource.reader(spark,
      Map("source" -> "rate-micro-batch", "rowsPerBatch" -> "50"))
    assert(src.isStreaming)
    assert(src.schema.fieldNames.toSet === Set("timestamp", "value"))
    val ck = tempDir("graft_rate_ck_")
    // a 5 s trigger leaves a wide idle window between micro-batches, so
    // the finally-stop lands while no commit is in flight — stopping a
    // default-trigger rate query mid-commit aborts the epoch and dumps
    // CANNOT_COMMIT state-store ERROR traces into an otherwise clean log
    val q = src.groupBy().count()
      .writeStream.format("memory").queryName("rate_smoke_sink")
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("5 seconds"))
      .outputMode("complete").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n < 100 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        val t = spark.table("rate_smoke_sink").collect()
        if (t.nonEmpty) n = t.head.getLong(0)
      }
      assert(n >= 100, s"expected ≥ 2 batches of 50, saw $n rows")
      assert(n % 50 === 0, s"rate-micro-batch must land whole batches, saw $n")
    } finally q.stop()
  }

  test("StreamSource: file reader is the FileFeed shape; kafka needs the connector artifact") {
    // file: same watched-directory parquet source the gates run on
    val dir = tempDir("graft_src_probe_")
    val fileSrc = StreamSource.reader(spark,
      Map("source" -> "file", "path" -> dir),
      schema = Some(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType)))))
    assert(fileSrc.isStreaming && fileSrc.schema.fieldNames.toSeq === Seq("x"))
    // kafka: the reader config is complete, and the ONLY missing piece
    // is the deploy-time spark-sql-kafka artifact — assert Spark's own
    // resolution error names it, so the deployment requirement is a
    // tested contract rather than a doc comment
    val err = intercept[Exception] {
      StreamSource.reader(spark, Map("source" -> "kafka",
        "bootstrap" -> "broker:9092", "topic" -> "gps_events"))
    }
    assert(err.getMessage.contains("kafka"), err.getMessage)
    assert(err.getMessage.toLowerCase.contains("deploy")
      || err.getMessage.contains("Failed to find"), err.getMessage)
  }
}

class MultimodalSpec extends GraftSpec {
  import graft.multimodal.Multimodal

  test("binary assets: histogram features are normalized and deterministic") {
    val docs = graft.Tables.documents(spark, sf("sf0.001")).limit(50)
    val feats = Multimodal.decodeFeatures(Multimodal.fromDocuments(docs)).collect()
    assert(feats.length === 50)
    feats.foreach { f =>
      assert(math.abs(f.histogram.sum - 1.0) < 1e-9)
      assert(f.byte_len > 0)
    }
    val again = Multimodal.decodeFeatures(Multimodal.fromDocuments(docs)).collect()
    assert(feats.map(_.histogram.toSeq).toSeq === again.map(_.histogram.toSeq).toSeq)
  }

  test("frame sampling and resize shapes") {
    import spark.implicits._
    val assets = Seq((1L, "0123456789abcdef")).toDF("asset_id", "text")
      .select($"asset_id", $"text".cast("binary").as("content"))
    val frames = Multimodal.frameSample(assets, frame = 4, stride = 4).collect()
    assert(frames.length === 4)
    assert(new String(frames.head.getAs[Array[Byte]]("frame")) === "0123")
    val resized = Multimodal.resize(assets, 8)
      .select(octet_length($"content_resized")).head().getInt(0)
    assert(resized === 8)
  }
}
