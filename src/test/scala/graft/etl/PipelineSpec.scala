package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.GraftSpec

class PipelineSpec extends GraftSpec {

  private lazy val cfg = DataGen.Config(nTrips = 3000, nMaintenance = 300)
  private lazy val tables = DataGen.all(spark, cfg)
  private lazy val t = Oltp(
    tables("vehicles"), tables("drivers"), tables("routes"),
    tables("trips").cache(), tables("deliveries").cache(), tables("maintenance"))

  test("nth-last-date probe descends through distinct delivery days (S3)") {
    val d0 = Pipeline.nthLastDateWithData(t, 0)
    val d1 = Pipeline.nthLastDateWithData(t, 1)
    assert(d0.isDefined && d1.isDefined && d0.get > d1.get)
  }

  test("daily batch: fact covers exactly the day's delivered rows") {
    val day = Pipeline.nthLastDateWithData(t, 1).get
    val out = Pipeline.run(spark, t, day)
    val expected = t.deliveries.filter(
      col("delivery_status") === "delivered" &&
        to_date(col("delivered_datetime")) === to_date(lit(day))).count()
    assert(out.fact.count() === expected)
    assert(expected > 0)
  }

  test("fact invariants: QA flags, delay ≥ 0, keys resolved") {
    val day = Pipeline.nthLastDateWithData(t, 0).get
    val out = Pipeline.run(spark, t, day)
    val fact = out.fact.cache()
    assert(fact.filter(col("delay_minutes") < 0).count() === 0)
    // generated data is temporally consistent ⇒ every row passes QA
    assert(fact.filter(!col("qa_passed")).count() === 0)
    // every fact row resolves vehicle+driver surrogate keys (dims were
    // built from the same batch date)
    assert(fact.filter(col("vehicle_sk").isNull || col("driver_sk").isNull).count() === 0)
    assert(fact.filter(col("route_key").isNull || col("customer_key").isNull).count() === 0)
    // time keys live in the dim_time domain
    val timeKeys = out.dims("dim_time").select("time_key")
    assert(fact.join(timeKeys,
      fact("scheduled_time_key") === timeKeys("time_key"), "left_anti").count() === 0)
  }

  test("dim_time is the 96-row 24×4 grid (ref etl:375-376)") {
    val dt = Pipeline.run(spark, t,
      Pipeline.nthLastDateWithData(t, 0).get).dims("dim_time")
    assert(dt.count() === 96)
    assert(dt.select("time_key").distinct().count() === 96)
  }

  test("reports aggregate the fact consistently (A9)") {
    val day = Pipeline.nthLastDateWithData(t, 0).get
    val out = Pipeline.run(spark, t, day)
    val total = out.fact.count()
    val byDriver = out.reports("report_driver_totals")
      .agg(sum("total_deliveries")).head().getLong(0)
    assert(byDriver === total)
  }

  test("incremental flow: day-2 SCD2 dims read and atomically replace the warehouse") {
    val dir = tempDir("graft_incr")
    val day2 = Pipeline.nthLastDateWithData(t, 0).get
    val day1 = Pipeline.nthLastDateWithData(t, 1).get
    Pipeline.load(Pipeline.run(spark, t, day1), dir)
    // day 2 reads the dims it is about to overwrite — must not fail or
    // lose data (atomic stage-and-swap inside load)
    val existingV = spark.read.parquet(s"$dir/dim_vehicle")
    val existingD = spark.read.parquet(s"$dir/dim_driver")
    val existingVCount = existingV.count()  // before its files are swapped out
    val out2 = Pipeline.run(spark, t, day2,
      existingDimVehicle = Some(existingV), existingDimDriver = Some(existingD),
      etlBatchId = 2L)
    Pipeline.load(out2, dir)
    val dimV = spark.read.parquet(s"$dir/dim_vehicle")
    // every vehicle still has exactly one current version
    val perKey = dimV.groupBy("vehicle_id")
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n_cur"))
    assert(perKey.filter(col("n_cur") =!= 1).count() === 0)
    assert(dimV.count() >= existingVCount)
    // both batch snapshots retained
    assert(new java.io.File(s"$dir/snapshots/$day1/dim_vehicle").exists())
    assert(new java.io.File(s"$dir/snapshots/$day2/dim_vehicle").exists())
  }

  test("EtlMain.runOnce is incremental: two days accumulate, history survives, SKs resolve") {
    val dir = tempDir("graft_etlmain")
    val day1 = Pipeline.nthLastDateWithData(t, 1).get
    val day2 = Pipeline.nthLastDateWithData(t, 0).get
    EtlMain.runOnce(spark, t, dir, day1)
    EtlMain.runOnce(spark, t, dir, day2)
    val fact = spark.read.parquet(s"$dir/fact_deliveries")
    // second run continued from the warehouse's batch high-water mark
    assert(fact.select("etl_batch_id").distinct().count() === 2)
    val dimV = spark.read.parquet(s"$dir/dim_vehicle")
    // day-1 versions survived the day-2 SCD2 batch (no history rewrite)
    assert(dimV.filter(col("valid_from") === to_date(lit(day1))).count() > 0)
    // exactly one current version per vehicle
    assert(dimV.filter(col("is_current")).groupBy("vehicle_id").count()
      .filter(col("count") =!= 1).count() === 0)
    // every previously-loaded fact row still resolves its surrogate key
    assert(fact.join(dimV.select(col("vehicle_sk")), Seq("vehicle_sk"), "left_anti")
      .count() === 0)
  }

  test("catchUp processes exactly the missed days after the high-water mark (R5)") {
    val dir = tempDir("graft_catchup")
    val day3 = Pipeline.nthLastDateWithData(t, 2).get
    EtlMain.runOnce(spark, t, dir, day3) // bootstrap: high water = day3
    val processed = EtlMain.catchUp(spark, t, dir, limit = 2)
    assert(processed ===
      Seq(Pipeline.nthLastDateWithData(t, 1).get, Pipeline.nthLastDateWithData(t, 0).get))
    // idempotent: nothing newer remains inside the limit window
    assert(EtlMain.catchUp(spark, t, dir, limit = 2).isEmpty)
    val fact = spark.read.parquet(s"$dir/fact_deliveries")
    assert(fact.select("date_key").distinct().count() === 3)
  }

  test("catchUp numbers its batches on from the high-water mark, one per day") {
    val dir = tempDir("graft_batch_ids")
    val days = (2 to 0 by -1).map(n => Pipeline.nthLastDateWithData(t, n).get)
    EtlMain.runOnce(spark, t, dir, days.head)
    assert(EtlMain.catchUp(spark, t, dir, limit = 2) === days.tail)
    val ids = spark.read.parquet(s"$dir/fact_deliveries")
      .select(col("date_key"), col("etl_batch_id")).distinct().orderBy("date_key")
      .collect().map(_.getLong(1)).toSeq
    assert(ids === Seq(1L, 2L, 3L))
  }

  private def logRows(dir: String) =
    spark.read.parquet(s"$dir/load_logs").orderBy("start_time").collect().toSeq

  test("load writes a date-partitioned warehouse and dim_date anti-insert dedupes") {
    val dir = tempDir("graft_wh")
    val day = Pipeline.nthLastDateWithData(t, 0).get
    val out = Pipeline.run(spark, t, day)
    Pipeline.load(out, dir)
    Pipeline.load(out, dir)  // second load: dim_date must not duplicate
    val dimDate = spark.read.parquet(s"$dir/dim_date")
    assert(dimDate.count() === dimDate.select("date_key").distinct().count())
    val fact = spark.read.parquet(s"$dir/fact_deliveries")
    assert(fact.count() === out.fact.count() * 2) // fact appends by design
    assert(fact.columns.contains("p_date_key"))
    // dim_date logs the rows its anti-join inserted: the day, then none
    val dimDateLogged = logRows(dir).filter(_.getAs[String]("table_name") == "dim_date")
      .map(_.getAs[Long]("records_inserted"))
    assert(dimDateLogged === Seq(1L, 0L))
  }

  private val loadTables = Set("fact_deliveries", "report_driver_totals", "report_route_totals",
    "staging_daily_load", "dim_date", "dim_time", "dim_route", "dim_customer", "dim_vehicle",
    "dim_driver")

  test("load logs each step with its own times and rows, and releases the shared frames") {
    val dir = tempDir("graft_log")
    val day = Pipeline.nthLastDateWithData(t, 0).get
    val out = Pipeline.run(spark, t, day)
    val before = new java.sql.Timestamp(System.currentTimeMillis())
    Pipeline.load(out, dir)
    val after = new java.sql.Timestamp(System.currentTimeMillis())
    assert(out.shared.nonEmpty && out.shared.forall(_.storageLevel == StorageLevel.NONE))
    val rows = logRows(dir)
    // exactly one row per table
    assert(rows.map(_.getAs[String]("table_name")).sorted === loadTables.toSeq.sorted)
    assert(rows.forall(r => r.getAs[String]("status") == "success" &&
      r.getAs[String]("process_name") == s"etl_$day" && r.isNullAt(r.fieldIndex("error_message"))))
    // the steps run concurrently: each row spans its own step, inside the load call
    rows.foreach { r =>
      val (s, e) = (r.getAs[java.sql.Timestamp]("start_time"), r.getAs[java.sql.Timestamp]("end_time"))
      assert(!s.before(before) && !e.before(s) && !after.before(e), r)
    }
    val logged = rows.map(r => r.getAs[String]("table_name") -> r.getAs[Long]("records_inserted")).toMap
    Seq("fact_deliveries", "report_driver_totals", "dim_vehicle", "dim_driver", "dim_time")
      .foreach(tb => assert(logged(tb) === spark.read.parquet(s"$dir/$tb").count(), tb))
    // one log file for the whole batch
    assert(new java.io.File(s"$dir/load_logs").listFiles()
      .count(_.getName.endsWith(".parquet")) === 1)
  }

  test("a failing step logs its failure, keeps the earlier steps' rows and reaches the caller") {
    val dir = tempDir("graft_fail")
    val day = Pipeline.nthLastDateWithData(t, 0).get
    val out = Pipeline.run(spark, t, day)
    val broken = out.copy(reports = out.reports.map {
      case ("report_route_totals", df) =>
        "report_route_totals" -> df.withColumn("boom", assert_true(col("total_deliveries") < 0))
      case other => other
    })
    val e = intercept[Exception](Pipeline.load(broken, dir))
    assert(out.shared.forall(_.storageLevel == StorageLevel.NONE))
    val rows = logRows(dir)
    val status = rows.map(r => r.getAs[String]("table_name") -> r.getAs[String]("status"))
    assert(status.filter(_._2 == "failed") === Seq("report_route_totals" -> "failed"))
    assert(status.filter(_._2 == "success").map(_._1).sorted ===
      (loadTables - "report_route_totals").toSeq.sorted)
    val failed = rows.find(_.getAs[String]("status") == "failed").get
    assert(failed.getAs[String]("error_message") === e.toString)
    out.dims.keys.foreach(dim => assert(!new java.io.File(s"$dir/$dim").exists(),
      s"$dim is published after a failed step"))
  }

  test("a failed incremental batch leaves every live dim as the previous batch left it") {
    val dir = tempDir("graft_fail_incr")
    val day1 = Pipeline.nthLastDateWithData(t, 1).get
    val day2 = Pipeline.nthLastDateWithData(t, 0).get
    EtlMain.runOnce(spark, t, dir, day1)
    val dims = loadTables.filter(_.startsWith("dim_")).toSeq
    def live() = dims.map(d => d -> spark.read.parquet(s"$dir/$d").collect().map(_.toString).sorted.toSeq)
    val afterDay1 = live()
    val out2 = Pipeline.run(spark, t, day2,
      existingDimVehicle = Some(spark.read.parquet(s"$dir/dim_vehicle")),
      existingDimDriver = Some(spark.read.parquet(s"$dir/dim_driver")),
      etlBatchId = 2L)
    val broken = out2.copy(dims = out2.dims.updated("dim_customer",
      out2.dims("dim_customer").withColumn("boom", assert_true(lit(false)))))
    intercept[Exception](Pipeline.load(broken, dir))
    assert(logRows(dir).filter(_.getAs[String]("status") == "failed")
      .map(_.getAs[String]("table_name")) === Seq("dim_customer"))
    assert(live() === afterDay1)
  }

  test("every job of a load carries the caller's job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = tempDir("graft_group")
    val out = Pipeline.run(spark, t, Pipeline.nthLastDateWithData(t, 0).get)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    // the listener bus delivers events in order: the jobs between the
    // two markers' jobs are exactly the load's
    def marker(name: String): Unit = {
      sc.setJobGroup(name, name)
      try spark.range(1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("before-load")
      sc.setJobGroup("load-group", "a load under a job group")
      try Pipeline.load(out, dir) finally sc.clearJobGroup()
      marker("after-load")
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains("after-load") && System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    assert(seen.contains("after-load"), "the marker job's start event never arrived")
    val load = seen.dropWhile(_ != "before-load").dropWhile(_ == "before-load")
      .takeWhile(_ != "after-load")
    assert(load.nonEmpty && load.forall(_ == "load-group"), load.distinct)
  }
}
