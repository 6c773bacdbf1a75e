package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.Lake

/** Daily incremental ETL orchestration (reference
  * etl_pipeline.py:1170-1280 `run_etl` + `main` :1285-1313):
  * resolve target date (explicit / nth-last-with-data / yesterday),
  * extract the day, build dims, apply SCD2 batches, build the fact,
  * precompute reports, stage a JSON audit copy.
  *
  * Everything is returned as lazy DataFrames; `load` materializes them
  * as date-partitioned parquet (the warehouse layout that gives
  * partition pruning on every downstream date filter — the Spark
  * equivalent of the reference's daily-incremental indexes,
  * SURVEY §4 X2/X8).
  */
object Pipeline {

  /** One batch's outputs. `shared` holds the intermediates that several
    * outputs read (the extract, dim_route, dim_customer, the SCD2
    * vehicle/driver dims and the pre-resolve fact), inputs before their
    * consumers, so `load` can compute each of them once. */
  final case class EtlOutput(
      targetDate: String,
      dims: Map[String, DataFrame],
      fact: DataFrame,
      reports: Map[String, DataFrame],
      stagingAudit: DataFrame,
      shared: Seq[DataFrame])

  /** nth-last date with delivered data (ref get_nth_last_date_with_data,
    * etl_pipeline.py:140-165): n=0 → most recent. */
  def nthLastDateWithData(t: Oltp, n: Int): Option[String] = {
    val rows = t.deliveries
      .filter(col("delivery_status") === "delivered" &&
        col("delivered_datetime").isNotNull)
      .select(to_date(col("delivered_datetime")).as("d"))
      .distinct()
      .orderBy(col("d").desc)
      .limit(n + 1)
      .collect()
    if (rows.length > n) Some(rows(n).getDate(0).toString) else None
  }

  /** One daily batch, pure transform (no writes). */
  def run(spark: SparkSession, t: Oltp, targetDate: String,
      existingDimVehicle: Option[DataFrame] = None,
      existingDimDriver: Option[DataFrame] = None,
      etlBatchId: Long = 1L): EtlOutput = {
    val day = to_date(lit(targetDate))

    val extract = FactDeliveries.extractDay(t, day)

    val dimDate = Dimensions.dimDate(spark,
      start = targetDate, end = targetDate) // daily increment; S7 anti-join on load
    val dimTime = Dimensions.dimTime(spark)
    val dimRoute = Dimensions.dimRoute(t)
    val dimCustomer = Dimensions.dimCustomer(extract, t.trips, t.routes)
    val stgVehicle = Dimensions.dimVehicle(t, day)
    val stgDriver = Dimensions.dimDriver(t, day)

    val vehicleTracked = Dimensions.vehicleTracked
    val driverTracked = Dimensions.driverTracked

    val dimVehicle = Scd2.applyBatch(
      existingDimVehicle.getOrElse(
        Scd2.emptyDim(stgVehicle, "vehicle_id", vehicleTracked, "vehicle_sk")),
      stgVehicle, "vehicle_id", vehicleTracked, day, "vehicle_sk")
    val dimDriver = Scd2.applyBatch(
      existingDimDriver.getOrElse(
        Scd2.emptyDim(stgDriver, "driver_id", driverTracked, "driver_sk")),
      stgDriver, "driver_id", driverTracked, day, "driver_sk")

    val fact = FactDeliveries.build(extract, dimRoute, dimCustomer, etlBatchId)

    // point-in-time surrogate-key resolution (ref :1137-1168 — the
    // reference only GENERATES this lookup SQL; we execute it)
    val factWithDate = fact
      .withColumnRenamed("vehicle_key", "vehicle_id")
      .withColumnRenamed("driver_key", "driver_id")
      .withColumn("full_date", to_date(col("date_key").cast("string"), "yyyyMMdd"))
    val factResolved = Scd2.resolveKeys(
      Scd2.resolveKeys(factWithDate,
        dimVehicle, "vehicle_id", "vehicle_id", "full_date", "vehicle_sk"),
      dimDriver, "driver_id", "driver_id", "full_date", "driver_sk")
      .drop("full_date")

    // audit staging: the day's extract as one JSON column (ref
    // load_to_staging :966-974, VARIANT ↔ to_json)
    val stagingAudit = extract
      .select(to_json(struct(col("*"))).as("raw_json"))
      .withColumn("load_date", day)

    EtlOutput(
      targetDate,
      Map(
        "dim_date" -> dimDate, "dim_time" -> dimTime,
        "dim_route" -> dimRoute, "dim_customer" -> dimCustomer,
        "dim_vehicle" -> dimVehicle, "dim_driver" -> dimDriver),
      factResolved,
      Map(
        "report_driver_totals" -> Reports.driverTotals(fact),
        "report_route_totals" -> Reports.routeTotals(fact)),
      stagingAudit,
      Seq(extract, dimRoute, dimCustomer, dimVehicle, dimDriver, fact))
  }

  /** Role-filtered secure views (ref scripts/04_dimensional_model.sql:
    * 196-236): registered as temp views over filtered DataFrames —
    * `vw_fact_deliveries_secure` hides Individual-customer rows
    * (ref 04:207), `vw_driver_performance` exposes only current driver
    * versions with their report rollup. */
  def registerSecureViews(out: EtlOutput): Unit = {
    out.fact
      .join(out.dims("dim_customer").select(col("customer_key"), col("customer_type")),
        Seq("customer_key"), "left")
      .filter(col("customer_type") =!= "Individual")
      .drop("customer_type")
      .createOrReplaceTempView("vw_fact_deliveries_secure")
    out.dims("dim_driver")
      .filter(col("is_current"))
      .select(col("driver_id"), col("full_name"), col("performance_category"),
        col("deliveries_per_hour"))
      .createOrReplaceTempView("vw_driver_performance")
  }

  /** Warehouse load: dims overwritten as snapshots (SCD2 dims carry
    * their own history), fact appended date-partitioned, dim_date
    * anti-join-insert (S7, ref load_dim_date_if_not_exists :978-1024).
    * Each table's write is one step of the batch's `load_logs` (G10,
    * ref 01_data_generation.py:42-72), its row count observed by the
    * write itself, and the steps run concurrently ([[LoadLog.batch]]).
    * Dims are written once, to `snapshots/<batch date>/` — the
    * parquet-lake analog of the DW's 30-day Time Travel retention
    * (ref 04:162-168, SURVEY X13) — and published to the live path as
    * a copy of those files.
    *
    * The batch's shared intermediates are persisted for the duration of
    * the load (in dependency order, so each cached plan reads the
    * caches below it), shared by the steps that read them, and released
    * however the load ends. */
  def load(out: EtlOutput, warehouseDir: String): Unit = {
    val spark = out.fact.sparkSession
    val owned = out.shared.filter(_.storageLevel == StorageLevel.NONE)
    owned.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try {
      // Invariant: no Spark write runs after any live dim directory has
      // been replaced. The fact's PIT lineage, the SCD2 dims and
      // dim_date's anti-join all READ the live dim directories this load
      // replaces, so every table is written first, concurrently, with
      // each dim going to its batch snapshot; only once every write has
      // succeeded are the live dims swapped in from the snapshots'
      // files. No write reads a replaced directory, a cache block
      // evicted and recomputed never sees a new dim, and a failed batch
      // leaves the live dims as they were.
      def snapshot(dim: String) = s"$warehouseDir/snapshots/${out.targetDate}/$dim"
      val factStep = LoadLog.write("fact_deliveries", out.fact)(
        _.withColumn("p_date_key", col("date_key"))
          .write.mode("append").partitionBy("p_date_key")
          .parquet(s"$warehouseDir/fact_deliveries"))
      val reportSteps = out.reports.map { case (name, df) =>
        LoadLog.write(name, df)(Lake.atomicOverwrite(_, s"$warehouseDir/$name"))
      }
      val stagingStep = LoadLog.write("staging_daily_load", out.stagingAudit)(
        _.write.mode("append").parquet(s"$warehouseDir/staging_daily_load"))
      val dimSteps = out.dims.map {
        case (name @ "dim_date", df) =>
          // the snapshot is the live rows plus the batch's new dates, one
          // row per day, so one file; the step counts only the inserts
          val live =
            if (Quality.missingTables(spark, warehouseDir, Seq(name)).nonEmpty) None
            else Some(spark.read.parquet(s"$warehouseDir/$name"))
          val toInsert = live.fold(df)(l =>
            df.join(l.select("date_key"), Seq("date_key"), "left_anti"))
          LoadLog.write(name, toInsert) { inserted =>
            live.fold(inserted)(_.unionByName(inserted))
              .coalesce(1).write.mode("overwrite").parquet(snapshot(name))
          }
        case (name, df) =>
          // a cached dim keeps one partition per shuffle partition;
          // rebalance lets AQE size the snapshot's files by its bytes
          LoadLog.write(name, df)(
            _.hint("rebalance").write.mode("overwrite").parquet(snapshot(name)))
      }
      LoadLog.batch(spark, warehouseDir, _ => s"etl_${out.targetDate}")(
        Seq(factStep) ++ reportSteps ++ Seq(stagingStep) ++ dimSteps)
      out.dims.keys.foreach(dim =>
        Lake.publishCopy(spark, snapshot(dim), s"$warehouseDir/$dim"))
    } finally owned.foreach(_.unpersist())
  }
}
