package graft.operators

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Tables, QueryDef}
import graft.streaming.Streams

/** Streaming transforms exercised in batch mode for the driver gate —
  * the same DataFrame→DataFrame functions run under `readStream` in
  * production (and under MemoryStream in StreamsSpec); Structured
  * Streaming semantics make batch execution a valid equivalence check,
  * so these carry full DuckDB oracles. GPS positions are synthesized
  * deterministically from the events table (testdata has no geo feed);
  * timestamps surface as epoch-millis (ns-parquet rule).
  */
object StreamingOps {

  private def gpsFromEvents(s: SparkSession, d: String) =
    Tables.events(s, d).select(
      col("user_id").as("vehicle_id"),
      pmod(col("user_id"), lit(3L)).as("route_id"),
      (col("value") / 100).as("lat"),
      (pmod(col("event_id"), lit(100L)) / 100.0).as("lon"),
      lit(60.0).as("speed_kmh"),
      col("ts"))

  private val gpsSql =
    """SELECT user_id AS vehicle_id, user_id % 3 AS route_id,
      |       value / 100 AS lat, (event_id % 100) / 100.0 AS lon,
      |       60.0 AS speed_kmh, ts
      |FROM events""".stripMargin

  private def waypoints(s: SparkSession) = {
    import s.implicits._
    Streams.waypointsDim(
      Seq((0L, 1, 0.0, 0.0), (0L, 2, 0.05, 0.05),
        (1L, 1, 0.02, 0.0), (1L, 2, 0.07, 0.05),
        (2L, 1, 0.01, 0.3), (2L, 2, 0.06, 0.35))
        .toDF("route_id", "seq", "lat", "lon"))
  }

  private val waypointsSql =
    """(VALUES (0, 0.0, 0.0, 0.05, 0.05),
      |        (1, 0.02, 0.0, 0.07, 0.05),
      |        (2, 0.01, 0.3, 0.06, 0.35)) AS w(route_id, w1_lat, w1_lon, w2_lat, w2_lon)""".stripMargin

  private def distSql(lat: String, lon: String, wlat: String, wlon: String) =
    s"sqrt(pow($lat - $wlat, 2) + pow($lon - $wlon, 2)) * 111.0"

  /** Portable 3-decimal rounding — plain ROUND(x, 3) diverges between
    * engines at binary halfway points, which the sf0.1 feed hits. */
  private def round3Sql(x: String) = graft.functions.Shims.roundPortableSql(x, 3)

  /** Micro-batch SPLIT-AXIS override (r13 Next #3): where a micro-batch
    * boundary lands relative to a session gap / watermark advance is a
    * semantic axis — same-batch-dedup vs cross-batch-state-drop vs
    * late-drop are different code paths that data seeds alone never
    * toggle. Conf `spark.graft.streaming.split` takes
    * `par:<shift>:<mod>` (modulus-split harnesses: batch 1 =
    * (id+shift) % mod == 0, batch 2 = the rest) or `frac:<f>` (event-
    * time-split harnesses: cutoff at lo + (hi−lo)·f). UNSET, every
    * harness reproduces its legacy split bit-for-bit (parity, the
    * interval joins' 2024-01-16 constant, the TTL midpoint's exact
    * us·2 ≤ min+max arithmetic), so gate and fixture behavior are
    * unchanged unless tools.SplitFuzz sets the conf. */
  private[graft] val SplitConf = "spark.graft.streaming.split"

  private def splitSpec(s: SparkSession): String =
    s.conf.getOption(SplitConf).getOrElse("")

  /** Batch index (0 or 1) of an id column under the modulus split. */
  private[operators] def parExpr(s: SparkSession, id: Column): Column =
    splitSpec(s) match {
      case sp if sp.startsWith("par:") =>
        val p = sp.split(":")
        when(pmod(id + lit(p(1).toLong), lit(p(2).toLong)) === 0, lit(0L))
          .otherwise(lit(1L))
      case _ => pmod(id, lit(2L))
    }

  private def fracSplit(s: SparkSession): Option[Double] =
    splitSpec(s) match {
      case sp if sp.startsWith("frac:") =>
        Some(sp.stripPrefix("frac:").toDouble)
      case _ => None
    }

  /** Shared scaffolding of the genuine Structured-Streaming gates:
    * narrowed state partitions (state-store commits per micro-batch
    * dominate at gate feed size; a production job sizes partitions to
    * key volume), tmpfs checkpoint dir when available, conf
    * save/restore, checkpoint cleanup. Confs are snapshotted BEFORE
    * any set so an exception mid-setup still restores them all. The
    * state store provider is the session's own
    * `spark.sql.streaming.stateStore.providerClass` (PERF.md measures
    * the default HDFS-backed store against RocksDB). */
  private def withStreamingHarness[T](s: SparkSession,
      confs: Map[String, String])(body: String => T): T = {
    val saved = confs.keys.map(k => k -> s.conf.get(k)).toMap
    val ckBase = new java.io.File("/dev/shm")
    val ck = new java.io.File(
      if (ckBase.isDirectory && ckBase.canWrite) ckBase
      else new java.io.File(System.getProperty("java.io.tmpdir")),
      "graft_ck_" + java.util.UUID.randomUUID())
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      body(ck.getAbsolutePath)
    } finally {
      saved.foreach { case (k, v) => s.conf.set(k, v) }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(ck)
    }
  }

  /** Run a streaming gate end-to-end on a genuine [[FileFeed]]: each
    * DataFrame in `batches` becomes one parquet drop = one micro-batch
    * (drop → processAllAvailable, so watermark advances match the
    * batch boundaries exactly). Returns the drained memory-sink table
    * plus the streaming source descriptions so StreamsSpec can assert
    * the FileStreamSource path end-to-end. */
  private[graft] def runFileFed(
      s: SparkSession, confs: Map[String, String], sinkName: String,
      batches: Seq[org.apache.spark.sql.DataFrame])(
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Seq[String]) = {
    val feed = new graft.streaming.FileFeed(s)
    try {
      withStreamingHarness(s, confs) { ck =>
        feed.drop(batches.head)
        val q = build(feed.source(batches.head.schema))
          .writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        val descs = try {
          q.processAllAvailable()
          batches.tail.foreach { b => feed.drop(b); q.processAllAvailable() }
          q.recentProgress.toSeq
            .flatMap(_.sources.map(_.description)).distinct
        } finally q.stop()
        (s.table(sinkName), descs)
      }
    } finally feed.close()
  }

  /** Two-source variant of [[runFileFed]] for the stream-stream joins:
    * the i-th left and right drops land before the i-th trigger, so one
    * micro-batch carries both sides — the same batch boundaries the
    * single-source runner gives. */
  private[graft] def runFileFed2(
      s: SparkSession, confs: Map[String, String], sinkName: String,
      lBatches: Seq[org.apache.spark.sql.DataFrame],
      rBatches: Seq[org.apache.spark.sql.DataFrame])(
      build: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)
        => org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Seq[String]) = {
    val lFeed = new graft.streaming.FileFeed(s)
    val rFeed = new graft.streaming.FileFeed(s)
    try {
      withStreamingHarness(s, confs) { ck =>
        lFeed.drop(lBatches.head); rFeed.drop(rBatches.head)
        val q = build(lFeed.source(lBatches.head.schema),
            rFeed.source(rBatches.head.schema))
          .writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        val descs = try {
          q.processAllAvailable()
          lBatches.tail.zip(rBatches.tail).foreach { case (lb, rb) =>
            lFeed.drop(lb); rFeed.drop(rb); q.processAllAvailable()
          }
          q.recentProgress.toSeq
            .flatMap(_.sources.map(_.description)).distinct
        } finally q.stop()
        (s.table(sinkName), descs)
      }
    } finally { lFeed.close(); rFeed.close() }
  }

  /** File-fed watermarked windowed counts — shared by the late-counts
    * and windowed-topk gates (same stream, different read-side rank). */
  private[graft] def runFileFedWindowedCounts(
      s: SparkSession, d: String,
      sinkName: String = "st_late_sink"): (org.apache.spark.sql.DataFrame, Seq[String]) = {
    val ev = Tables.events(s, d)
      .filter(pmod(col("user_id"), lit(5L)) === 0)
      .select(col("user_id").as("key"), col("ts"),
        round(col("value") * 100, 0).cast("long").as("value"),
        parExpr(s, col("event_id")).as("par"))
    def batch(par: Int) = ev.filter(col("par") === par).drop("par")
    runFileFed(s, Map("spark.sql.shuffle.partitions" -> "2"), sinkName,
      Seq(batch(0), batch(1)))(src => Streams.windowedEventCounts(src, "ts", "key"))
  }

  /** File-fed stream-stream interval join (inner or left_outer): both
    * sides split at the 2024-01-16 event-time boundary into two real
    * micro-batches. Single-partition state (four stores per partition);
    * the inner form skips no-data micro-batches (output never depends
    * on eviction), the outer form KEEPS them — eviction is what emits
    * the null rows. */
  private[graft] def runFileFedIntervalJoin(
      s: SparkSession, d: String, joinType: String,
      sinkName: String): (org.apache.spark.sql.DataFrame, Seq[String]) = {
    val ev = Tables.events(s, d)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_type"), col("user_id").as("key"),
        timestamp_millis(unix_millis(col("ts"))).as("ts_ms"), col("event_id"))
    val split = fracSplit(s) match {
      case Some(f) =>
        import s.implicits._
        val (lo, hi) = ev
          .agg(min(unix_millis(col("ts_ms"))), max(unix_millis(col("ts_ms"))))
          .as[(Long, Long)].head()
        timestamp_millis(lit(lo + ((hi - lo) * f).toLong))
      case None => lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00"))
    }
    def side(tpe: String, tsName: String, idName: String, second: Boolean) =
      ev.filter(col("event_type") === tpe)
        .filter(if (second) col("ts_ms") >= split else col("ts_ms") < split)
        .select(col("key"), col("ts_ms").as(tsName), col("event_id").as(idName))
    val confs =
      if (joinType == "inner")
        Map("spark.sql.shuffle.partitions" -> "1",
          "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
      else Map("spark.sql.shuffle.partitions" -> "1")
    runFileFed2(s, confs, sinkName,
      Seq(side("purchase", "l_ts", "l_id", second = false),
        side("purchase", "l_ts", "l_id", second = true)),
      Seq(side("view", "r_ts", "r_id", second = false),
        side("view", "r_ts", "r_id", second = true))) { (l, r) =>
      Streams.streamIntervalJoin(l, r, "key", "l_ts", "r_ts",
        lookback = "4 hours", lateness = "10 minutes", joinType = joinType)
    }
  }

  /** File-fed streaming exact dedup: documents (plus the planted
    * cross-batch duplicates — every 10th doc re-enters with
    * doc_id + 1000001, flipping parity) arrive as two micro-batches
    * split on doc_id parity. */
  private[graft] def runFileFedStreamDedup(
      s: SparkSession, d: String): (org.apache.spark.sql.DataFrame, Seq[String]) = {
    import s.implicits._
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val docs = base.unionByName(
      base.filter(pmod(col("doc_id"), lit(10L)) === 0)
        .select((col("doc_id") + 1000001L).as("doc_id"), col("text")))
    def batch(par: Int) = docs.filter(parExpr(s, col("doc_id")) === par)
    runFileFed(s,
      Map("spark.sql.shuffle.partitions" -> "2",
        // NoTimeout keyed state can't fire on a no-data batch and
        // append-mode FMGWS emits nothing from one — skip the two
        // ~0.5 s watermark-advance batches
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"),
      "st_dedup_sink", Seq(batch(0), batch(1))) { src =>
      // project to (fp, doc_id) BEFORE the sink so the memory sink
      // holds two narrow columns, not the full document texts
      Streams.streamingExactDedup(src.as[Streams.StreamDoc])
        .select(graft.text.TextFunctions.fingerprint(col("text")).as("fp"),
          col("doc_id"))
    }
  }

  /** File-fed streaming sessionization: two micro-batches split at the
    * midpoint timestamp (batch 1 strictly earlier, so per-user event
    * order across batches matches event time — the arrival contract).
    * The min/max probe is a bounded 2-long aggregate, not a corpus
    * collect. */
  private[graft] def runFileFedSessionize(
      s: SparkSession, d: String): (org.apache.spark.sql.DataFrame, Seq[String]) = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val (lo, hi) = ev.agg(
      min(unix_millis(col("ts"))), max(unix_millis(col("ts"))))
      .as[(Long, Long)].head()
    val cutoff = fracSplit(s) match {
      case Some(f) => lo + ((hi - lo) * f).toLong
      case None    => lo + (hi - lo) / 2
    }
    def batch(p: Int) =
      ev.filter(if (p == 0) unix_millis(col("ts")) < cutoff
                else unix_millis(col("ts")) >= cutoff)
    runFileFed(s,
      Map("spark.sql.shuffle.partitions" -> "2",
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"),
      "st_sessionize_sink", Seq(batch(0), batch(1))) { src =>
      Streams.streamingSessionize(src.as[Streams.SessionEvent]).toDF()
    }
  }

  /** File-fed stream-static enrichment: purchase facts split on
    * event_id parity (stateless join — two batches prove the dim
    * re-resolves per batch). */
  private[graft] def runFileFedEnrich(
      s: SparkSession, d: String): (org.apache.spark.sql.DataFrame, Seq[String]) = {
    val facts = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100, 0).cast("long").as("value_cents"),
        parExpr(s, col("event_id")).as("par"))
    def batch(p: Int) = facts.filter(col("par") === p).drop("par")
    val dim = Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))
    runFileFed(s, Map("spark.sql.shuffle.partitions" -> "2"),
      "st_enrich_sink", Seq(batch(0), batch(1))) { src =>
      Streams.enrichWithDim(src, dim, "user_id")
    }
  }

  /** File-fed TTL dedup redelivery drill: batch 1 = the first half of
    * the stream by event time, batch 2 = the second half PLUS
    * redelivered copies of every 100th batch-1 row (a DataFrame union
    * — the redelivery is re-scanned executor-side, never collected). */
  private[graft] def runFileFedDedupTtl(
      s: SparkSession, d: String): (org.apache.spark.sql.DataFrame, Seq[String]) = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .filter(pmod(col("user_id"), lit(5L)) === 0)
      .select(col("event_id").as("key"), col("ts"),
        round(col("value") * 100, 0).cast("long").as("value"))
    val (mnUs, mxUs) = {
      import s.implicits._
      ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .as[(Long, Long)].head()
    }
    // legacy midpoint spelled EXACTLY as us*2 <= min+max (the fixture's
    // plant math replicates it); frac overrides use a plain cutoff
    val inB1 = fracSplit(s) match {
      case Some(f) =>
        val cut = mnUs + ((mxUs - mnUs) * f).toLong
        unix_micros(col("ts")) <= cut
      case None => unix_micros(col("ts")) * 2 <= mnUs + mxUs
    }
    val b1 = ev.filter(inB1)
    val b2 = ev.filter(!inB1)
      .unionByName(b1.filter(pmod(col("key"), lit(100L)) === 0))
    runFileFed(s,
      Map("spark.sql.shuffle.partitions" -> "2",
        // dropDuplicatesWithinWatermark emits only on ARRIVAL; eviction
        // changes future admission and runs against the same watermark
        // whether it happens in the interstitial no-data batch or at
        // the head of the next data batch — so the ~0.5 s
        // watermark-advance batch between the two drops buys nothing
        // (r15; outputs stay oracle-hash-exact, incl. the planted
        // exactly-at-horizon redeliveries and the split-axis fuzz)
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"),
      "st_ttl_sink", Seq(b1, b2)) { src =>
      Streams.streamingDedupTtl(src.as[Streams.CentEvent]).toDF()
    }
  }

  /** File-fed delivery verification (R1) run as a REAL streaming
    * query: purchase lookups arrive as two micro-batches (event_id
    * parity), streaming `dropDuplicates` keeps first-seen per
    * delivery_id across batches (= the oracle's DISTINCT), and each
    * batch stream-static joins the status snapshot — the reference's
    * per-invocation DynamoDB get (07_lambda_functions.py:18-71). */
  private[graft] def runFileFedDeliveryVerification(
      s: SparkSession, d: String): (org.apache.spark.sql.DataFrame, Seq[String]) = {
    // NOTE (r15, measured): persisting this static side for the run
    // (the stream-static join re-executes it per micro-batch) was
    // TRIED and reverted — the InMemoryRelation materialization
    // barrier in trigger 1 cost more than the saved re-aggregation at
    // gate scale (+0.3 s vs an untouched control in paired runs). At
    // production volume the status snapshot is a stored table, not a
    // per-trigger re-aggregation, so nothing scale-relevant is lost.
    val status = Tables.events(s, d)
      .groupBy(col("user_id").as("delivery_id"))
      .agg(when(max(col("value")) > 10, "delivered").otherwise("pending")
        .as("delivery_status"))
    val requests = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("delivery_id"),
        parExpr(s, col("event_id")).as("par"))
    def batch(p: Int) = requests.filter(col("par") === p).drop("par")
    runFileFed(s, Map("spark.sql.shuffle.partitions" -> "2"),
      "st_verify_sink", Seq(batch(0), batch(1))) { src =>
      Streams.verifyDeliveries(src.dropDuplicates("delivery_id"), status)
    }
  }

  /** File-fed ETA updates (R2) run as a REAL streaming query: the GPS
    * feed split on vehicle_id parity (stateless broadcast join to the
    * destinations dim, so the split is arbitrary). */
  private[graft] def runFileFedEta(
      s: SparkSession, d: String): (org.apache.spark.sql.DataFrame, Seq[String]) = {
    import s.implicits._
    val gps = gpsFromEvents(s, d)
    def batch(p: Int) = gps.filter(parExpr(s, col("vehicle_id")) === p)
    val dest = Seq((0L, 0.5, 0.5), (1L, 0.6, 0.1), (2L, 0.2, 0.9))
      .toDF("route_id", "dest_lat", "dest_lon")
    runFileFed(s, Map("spark.sql.shuffle.partitions" -> "2"),
      "st_eta_sink", Seq(batch(0), batch(1))) { src =>
      Streams.etaUpdates(src, dest)
    }
  }

  val defs: Seq[QueryDef] = Seq(

    /** R3 — deviation alerts (broadcast waypoint join + min-distance
      * fold at the 5 km threshold), batch-equivalent oracle. */
    QueryDef.sql(
      "st_route_deviation_alerts",
      s"""WITH gps AS ($gpsSql)
         |SELECT g.vehicle_id, g.route_id, epoch_ms(g.ts) AS ts_ms,
         |       g.lat, g.lon,
         |       ${round3Sql(s"LEAST(${distSql("g.lat", "g.lon", "w.w1_lat", "w.w1_lon")}, ${distSql("g.lat", "g.lon", "w.w2_lat", "w.w2_lon")})")} AS min_distance_km,
         |       'ROUTE_DEVIATION' AS alert_type
         |FROM gps g JOIN $waypointsSql ON w.route_id = g.route_id
         |WHERE ${round3Sql(s"LEAST(${distSql("g.lat", "g.lon", "w.w1_lat", "w.w1_lon")}, ${distSql("g.lat", "g.lon", "w.w2_lat", "w.w2_lon")})")} > 5.0
         |ORDER BY vehicle_id, ts_ms""".stripMargin) { (s, d) =>
      Streams.routeDeviationAlerts(gpsFromEvents(s, d), waypoints(s), thresholdKm = 5.0)
        .withColumn("ts_ms", unix_millis(col("ts")))
        .select(col("vehicle_id"), col("route_id"), col("ts_ms"),
          col("lat"), col("lon"), col("min_distance_km"), col("alert_type"))
        .orderBy(col("vehicle_id"), col("ts_ms"))
    },

    /** R2 — ETA computation (distance/speed; the timestamp advance is
      * covered by StreamsSpec — interval micro-conversion isn't
      * portable enough for hashing). */
    QueryDef.sql(
      "st_eta_updates",
      s"""WITH gps AS ($gpsSql)
         |SELECT g.vehicle_id, g.route_id, epoch_ms(g.ts) AS ts_ms,
         |       ${round3Sql(distSql("g.lat", "g.lon", "dd.dest_lat", "dd.dest_lon"))} AS distance_km,
         |       CAST(ROUND(${round3Sql(distSql("g.lat", "g.lon", "dd.dest_lat", "dd.dest_lon"))}
         |             / GREATEST(1.0, g.speed_kmh) * 3600000, 0) AS BIGINT) AS eta_travel_ms
         |FROM gps g
         |JOIN (VALUES (0, 0.5, 0.5), (1, 0.6, 0.1), (2, 0.2, 0.9))
         |     AS dd(route_id, dest_lat, dest_lon) ON dd.route_id = g.route_id
         |ORDER BY vehicle_id, ts_ms""".stripMargin) { (s, d) =>
      // travel time surfaces as integer millis: a rounded fractional-hour
      // quotient lands on exact half-boundaries (3-decimal km / 60 km/h)
      // where Spark's decimal-string and DuckDB's binary rounding differ
      runFileFedEta(s, d)._1
        .withColumn("ts_ms", unix_millis(col("ts")))
        .withColumn("eta_travel_ms",
          // the synthesized feed drives at a constant 60 km/h (the op
          // itself doesn't re-expose speed after the ETA projection)
          round(col("distance_km") / greatest(lit(1.0), lit(60.0)) * 3600000, 0)
            .cast("long"))
        .select(col("vehicle_id"), col("route_id"), col("ts_ms"),
          col("distance_km"), col("eta_travel_ms"))
        .orderBy(col("vehicle_id"), col("ts_ms"))
    },

    /** Streaming windowed top-k (E62) — the trending-items serving
      * architecture: the STREAM maintains only the mergeable windowed
      * counts (the same watermarked append-mode aggregation as
      * st_windowed_late_counts, incremental state ∝ open windows ×
      * keys), and the top-3-per-window rank runs AT READ over the
      * emitted windows with the bounded [[graft.functions.TopKStruct]]
      * aggregate — chained stateful aggregations are not expressible in
      * one append-mode streaming query, and pre-aggregate-then-rank is
      * how production leaderboards avoid needing them. Same genuine
      * two-micro-batch late-data feed and watermark oracle as the
      * counts gate, extended with the rank. */
    QueryDef.sql(
      "st_windowed_topk",
      """WITH ev AS (
        |  SELECT user_id AS key, epoch_us(ts) AS us, event_id
        |  FROM events WHERE user_id % 5 = 0
        |), a AS (SELECT * FROM ev WHERE event_id % 2 = 0),
        |b AS (SELECT * FROM ev WHERE event_id % 2 = 1),
        |wma AS (SELECT (MAX(us) // 1000 - 600000) * 1000 AS wm FROM a),
        |wmb AS (SELECT (MAX(us) // 1000 - 600000) * 1000 AS wm FROM ev),
        |kept AS (
        |  SELECT key, us FROM a
        |  UNION ALL
        |  SELECT key, us FROM b
        |  WHERE us // 300000000 * 300000000 + 300000000 > (SELECT wm FROM wma)
        |), agg AS (
        |  SELECT us // 300000000 * 300000000 AS ws_us, key, COUNT(*) AS n
        |  FROM kept GROUP BY 1, 2
        |), keptw AS (
        |  SELECT ws_us, key, n FROM agg
        |  WHERE ws_us + 300000000 <= (SELECT wm FROM wmb)
        |), r AS (
        |  SELECT ws_us, key, n,
        |         ROW_NUMBER() OVER (PARTITION BY ws_us ORDER BY n DESC, key) AS rnk
        |  FROM keptw
        |)
        |SELECT ws_us // 1000 AS window_start_ms, CAST(rnk AS INTEGER) AS rnk,
        |       key, n
        |FROM r WHERE rnk <= 3
        |ORDER BY window_start_ms, rnk""".stripMargin) { (s, d) =>
      runFileFedWindowedCounts(s, d, sinkName = "st_topk_sink")._1
        .select(unix_millis(col("window_start")).as("window_start_ms"),
          format_string("%018d", col("key")).as("item"),
          col("n").cast("double").as("sc"))
        .groupBy(col("window_start_ms"))
        .agg(graft.functions.TopKStruct.topk(s, col("sc"), col("item"), 3).as("top"))
        .select(col("window_start_ms"), posexplode(col("top")))
        .select(col("window_start_ms"), (col("pos") + 1).cast("int").as("rnk"),
          col("col.item").cast("long").as("key"),
          col("col.score").cast("long").as("n"))
        .orderBy(col("window_start_ms"), col("rnk"))
    },

    /** Watermarked tumbling-window aggregation driven END-TO-END through
      * Structured Streaming with two deterministic micro-batches and
      * genuinely LATE data: events split on event_id parity, so batch 2
      * carries rows far behind batch 1's max event time. The oracle
      * replicates Spark's exact watermark semantics in integer
      * microseconds — WM = (floor(max_event_us/1000) − 600000)·1000
      * (watermarks are millisecond-floored), batch-2 rows whose window
      * end ≤ WM₁ are dropped (late filter uses the PREVIOUS batch's
      * watermark), and append mode emits exactly the windows whose end
      * ≤ WM₂ (the no-data flush batch). Values stream as integer cents
      * so windowed sums are associative ⇒ hash-exact. */
    QueryDef.sql(
      "st_windowed_late_counts",
      """WITH ev AS (
        |  SELECT user_id AS key, epoch_us(ts) AS us, value, event_id
        |  FROM events WHERE user_id % 5 = 0
        |), a AS (SELECT * FROM ev WHERE event_id % 2 = 0),
        |b AS (SELECT * FROM ev WHERE event_id % 2 = 1),
        |wma AS (SELECT (MAX(us) // 1000 - 600000) * 1000 AS wm FROM a),
        |wmb AS (SELECT (MAX(us) // 1000 - 600000) * 1000 AS wm FROM ev),
        |kept AS (
        |  SELECT key, us, value FROM a
        |  UNION ALL
        |  SELECT key, us, value FROM b
        |  WHERE us // 300000000 * 300000000 + 300000000 > (SELECT wm FROM wma)
        |), agg AS (
        |  SELECT us // 300000000 * 300000000 AS ws_us, key,
        |         COUNT(*) AS n,
        |         CAST(SUM(CAST(ROUND(value * 1e2, 0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM kept GROUP BY 1, 2
        |)
        |SELECT ws_us // 1000 AS window_start_ms,
        |       (ws_us + 300000000) // 1000 AS window_end_ms,
        |       key, n, cents / 1e2 AS total_value
        |FROM agg
        |WHERE ws_us + 300000000 <= (SELECT wm FROM wmb)
        |ORDER BY window_start_ms, key""".stripMargin) { (s, d) =>
      // fed from a REAL file source — two parquet drops moved into a
      // watched directory, one micro-batch each; never collects a row
      // (r10: every st_* harness now runs on this feed)
      runFileFedWindowedCounts(s, d)._1
        .select(unix_millis(col("window_start")).as("window_start_ms"),
          unix_millis(col("window_end")).as("window_end_ms"),
          col("key"), col("n"), (col("total_value") / 1e2).as("total_value"))
        .orderBy(col("window_start_ms"), col("key"))
    },

    /** Watermarked stream-stream INTERVAL JOIN driven end-to-end
      * through Structured Streaming: each purchase joined to the same
      * user's views in the preceding 4 hours, fed as two genuine
      * micro-batches split on event time at 2024-01-16. The split
      * makes the oracle a plain batch interval join BY CONSTRUCTION:
      * every batch-2 row (either side) sits above batch-1's watermark
      * (WM₁ = min(max l_ts, max r_ts) − 10 min < the split point), so
      * no input row is late-dropped, and the end-of-batch state
      * evictions (left rows below WM, right rows below WM − lookback)
      * only ever remove rows no later-batch row could satisfy the
      * time-range condition with — the buffered cross-batch matches
      * (batch-2 purchases × batch-1 views) all survive. Timestamps are
      * pre-truncated to millis on the Spark side so both engines
      * compare identical values at the interval bounds. */
    QueryDef.sql(
      "st_interval_join",
      """WITH l AS (
        |  SELECT user_id AS key, epoch_ms(ts) AS l_ms, event_id AS l_id
        |  FROM events WHERE event_type = 'purchase'
        |), r AS (
        |  SELECT user_id AS key, epoch_ms(ts) AS r_ms, event_id AS r_id
        |  FROM events WHERE event_type = 'view'
        |)
        |SELECT l.key AS key, l.l_id, l.l_ms, r.r_id, r.r_ms
        |FROM l JOIN r ON r.key = l.key
        |  AND r.r_ms BETWEEN l.l_ms - 14400000 AND l.l_ms
        |ORDER BY l.key, l_id, r_id""".stripMargin) { (s, d) =>
      runFileFedIntervalJoin(s, d, joinType = "inner", sinkName = "st_ij_sink")._1
        .select(col("key"), col("l_id"), unix_millis(col("l_ts")).as("l_ms"),
          col("r_id"), unix_millis(col("r_ts")).as("r_ms"))
        .orderBy(col("key"), col("l_id"), col("r_id"))
    },

    /** R1 — delivery verification (stream-static join semantics). */
    QueryDef.sql(
      "st_delivery_verification",
      """WITH status AS (
        |  SELECT user_id AS delivery_id,
        |         CASE WHEN MAX(value) > 10 THEN 'delivered' ELSE 'pending' END AS delivery_status
        |  FROM events GROUP BY user_id
        |), requests AS (
        |  SELECT DISTINCT user_id AS delivery_id FROM events WHERE event_type = 'purchase'
        |)
        |SELECT r.delivery_id, s.delivery_status,
        |       s.delivery_status IS NOT NULL AS found,
        |       COALESCE(s.delivery_status = 'delivered', false) AS verified
        |FROM requests r LEFT JOIN status s ON s.delivery_id = r.delivery_id
        |ORDER BY r.delivery_id""".stripMargin) { (s, d) =>
      runFileFedDeliveryVerification(s, d)._1
        .select(col("delivery_id"), col("delivery_status"),
          col("found"), col("verified"))
        .orderBy(col("delivery_id"))
    },

    /** Streaming-ingest exact dedup driven END-TO-END through
      * Structured Streaming (the continuous-arrival counterpart of
      * batch q31): the documents corpus fed as two deterministic
      * micro-batches split on doc_id parity, first-seen-wins per
      * canonical fingerprint with lowest-doc_id election inside a
      * batch ([[Streams.streamingExactDedup]] keyed state — state is
      * one (fp → doc_id) entry per distinct document). The corpus has
      * no exact duplicates at gate scale, so the feed PLANTS one: every
      * 10th document re-enters with doc_id + 1000001 — the odd shift
      * flips parity, so each planted duplicate arrives in the OTHER
      * micro-batch and the cross-batch state drop genuinely fires
      * (same fixture-construction pattern as q70's planted PII). The
      * oracle restates the election as a batch window: per
      * fingerprint, the row minimizing (parity, doc_id) — parity
      * first because the earlier batch always wins, min doc_id
      * within it. */
    QueryDef.sql(
      "st_stream_dedup",
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000001 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
        |), f AS (
        |  SELECT doc_id, text,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |         doc_id % 2 AS par
        |  FROM src
        |), r AS (
        |  SELECT fp, doc_id, par,
        |         ROW_NUMBER() OVER (PARTITION BY fp ORDER BY par, doc_id) AS rn
        |  FROM f
        |)
        |SELECT fp, doc_id AS keeper_doc_id, CAST(par AS BIGINT) AS first_batch
        |FROM r WHERE rn = 1
        |ORDER BY fp""".stripMargin) { (s, d) =>
      runFileFedStreamDedup(s, d)._1
        .select(col("fp"), col("doc_id").as("keeper_doc_id"),
          parExpr(s, col("doc_id")).cast("long").as("first_batch"))
        .orderBy(col("fp"))
    },

    /** Streaming gap-sessionization (E16's continuous form — see
      * [[Streams.streamingSessionize]]): the event stream splits at
      * the midpoint timestamp into two REAL micro-batches, so sessions
      * spanning the boundary exercise the cross-batch keyed-state
      * continuation. A session emits when its user's next session
      * opens; each user's final session stays open in state, so the
      * oracle is the batch q39 sessionization minus every user's last
      * session — byte-identical on everything emitted, including the
      * exact-cents totals. */
    QueryDef.sql(
      "st_sessionize",
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN LAG(ts) OVER w IS NULL
        |                OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1
        |              ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, ts, value,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM flagged
        |), agg AS (
        |  SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |         COUNT(*) AS n_events,
        |         epoch_ms(MIN(ts)) AS start_ms,
        |         epoch_ms(MAX(ts)) AS end_ms,
        |         CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) / 100.0 AS DOUBLE) AS total_value
        |  FROM sessions
        |  GROUP BY user_id, session_seq
        |)
        |SELECT user_id, session_seq, n_events, start_ms, end_ms, total_value
        |FROM (SELECT *, MAX(session_seq) OVER (PARTITION BY user_id) AS mx FROM agg)
        |WHERE session_seq < mx
        |ORDER BY user_id, session_seq""".stripMargin) { (s, d) =>
      runFileFedSessionize(s, d)._1
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("start_ms"), col("end_ms"), col("total_value"))
        .orderBy(col("user_id"), col("session_seq"))
    },

    /** Stream-static dimension enrichment run END-TO-END through
      * Structured Streaming (the sixth genuine harness): purchase
      * events arrive as two deterministic micro-batches (event_id
      * parity — stateless join, so the split is arbitrary; two batches
      * prove the dim is re-resolved per batch) and each is broadcast
      * LEFT-joined to the static customer dimension inside the running
      * query ([[Streams.enrichWithDim]]). No state store, no
      * watermark — the oracle is the plain batch join restated. */
    QueryDef.sql(
      "st_stream_static_enrich",
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
        |       CAST(ROUND(e.value*100,0) AS BIGINT) AS value_cents
        |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
        |WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin) { (s, d) =>
      runFileFedEnrich(s, d)._1
        .select(col("event_id"), col("user_id"), col("segment"),
          col("value_cents"))
        .orderBy(col("event_id"))
    },

    /** Watermarked stream-stream LEFT OUTER interval join (E111) —
      * the tenth genuine streaming harness, completing the
      * stream-stream join semantics st_interval_join's inner form
      * leaves open: unmatched purchases must still emit (with nulled
      * view columns) once the watermark proves no matching view can
      * arrive — state EVICTION is the null-emission trigger, so the
      * no-data micro-batches stay enabled (the inner gate disables
      * them; an inner join's output never depends on eviction). The
      * oracle restates Spark's exact semantics in integer ms: the
      * inner pairs are the plain batch interval join, and a left row
      * null-emits iff unmatched AND l_ms < WM_final where WM_final =
      * min(max left ms, max right ms) − 600000 (per-input watermark =
      * max event time − lateness, global = the min policy; the feed is
      * ms-floored so no µs flooring term appears). */
    QueryDef.sql(
      "st_outer_interval_join",
      """WITH l AS (
        |  SELECT user_id AS key, epoch_ms(ts) AS l_ms, event_id AS l_id
        |  FROM events WHERE event_type = 'purchase'
        |), r AS (
        |  SELECT user_id AS key, epoch_ms(ts) AS r_ms, event_id AS r_id
        |  FROM events WHERE event_type = 'view'
        |), m AS (
        |  SELECT l.key AS key, l.l_id, l.l_ms, r.r_id, r.r_ms
        |  FROM l JOIN r ON r.key = l.key
        |    AND r.r_ms BETWEEN l.l_ms - 14400000 AND l.l_ms
        |), wm AS (
        |  SELECT LEAST((SELECT MAX(l_ms) FROM l), (SELECT MAX(r_ms) FROM r))
        |           - 600000 AS w
        |)
        |SELECT key, l_id, l_ms, r_id, r_ms FROM m
        |UNION ALL
        |SELECT l.key, l.l_id, l.l_ms,
        |       CAST(NULL AS BIGINT) AS r_id, CAST(NULL AS BIGINT) AS r_ms
        |FROM l
        |WHERE l.l_id NOT IN (SELECT l_id FROM m)
        |  AND l.l_ms < (SELECT w FROM wm)
        |ORDER BY key, l_id, r_id""".stripMargin) { (s, d) =>
      runFileFedIntervalJoin(s, d, joinType = "left_outer",
          sinkName = "st_oij_sink")._1
        .select(col("key"), col("l_id"), unix_millis(col("l_ts")).as("l_ms"),
          col("r_id"), unix_millis(col("r_ts")).as("r_ms"))
        .orderBy(col("key"), col("l_id"), col("r_id"))
    },

    /** Bounded-TTL streaming dedup via the NATIVE
      * `dropDuplicatesWithinWatermark` API (E99) — the eighth genuine
      * streaming harness, and the production spelling of
      * st_stream_dedup's custom keyed state: state per key expires
      * with the watermark (TTL = the redelivery horizon) instead of
      * growing forever. The run is a REAL two-micro-batch redelivery
      * drill: batch 1 = the first half of the stream by event time,
      * batch 2 = the second half PLUS redelivered copies of every
      * 100th batch-1 row. The contract — and the oracle — is that
      * redelivery changes NOTHING: each redelivered row is dropped as
      * a duplicate (state live) or as late data (state expired ⇒ its
      * event time is behind the watermark), so the emitted set is
      * byte-identical to the original stream. */
    QueryDef.sql(
      "st_dedup_ttl",
      """SELECT event_id, epoch_ms(ts) AS ts_ms,
        |       CAST(ROUND(value*100,0) AS BIGINT) AS cents
        |FROM events WHERE user_id % 5 = 0
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      runFileFedDedupTtl(s, d)._1
        .select(col("key").as("event_id"),
          unix_millis(col("ts")).as("ts_ms"),
          col("value").as("cents"))
        .orderBy(col("event_id"))
    },
  )
}
