package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Daily-ETL CLI (reference entry point 1: `python etl_pipeline.py
  * --date/--nth`, etl_pipeline.py:1285-1313 + run_etl_scheduler.py —
  * the 30 s scheduler poll itself stays outside the engine, as cron).
  *
  * Usage:
  *   runMain graft.etl.EtlMain --warehouse /path [--date YYYY-MM-DD | --nth k]
  *           [--catchup N] [--oltp /path/to/oltp/parquet] [--trips N]
  *
  * `--catchup N` processes up to N missed days (after the warehouse's
  * loaded high-water mark) as individual incremental batches.
  *
  * Without `--oltp` the seeded generator provides the OLTP tables;
  * with it, each table is read from `<dir>/<table>.parquet`. Without
  * `--date`/`--nth`, the most recent day with delivered data runs
  * (the reference defaults to yesterday; "latest with data" is its
  * deterministic analog). */
object EtlMain {

  /** One incremental daily run against the ACCUMULATED warehouse (ref
    * run_etl, etl_pipeline.py:1170-1280): existing SCD2 dims are read
    * back and passed into the batch so multi-day history survives and
    * previously-loaded fact rows keep resolvable surrogate keys; the
    * batch id continues from the warehouse's high-water mark. A missing
    * warehouse bootstraps from empty dims (batch 1). */
  def runOnce(spark: SparkSession, t: Oltp, warehouse: String,
      targetDate: String): Pipeline.EtlOutput =
    loadDay(spark, t, warehouse, targetDate,
      highWater(spark, warehouse).fold(1L)(_._2 + 1L))

  private def loadDay(spark: SparkSession, t: Oltp, warehouse: String,
      targetDate: String, batchId: Long): Pipeline.EtlOutput = {
    def existing(table: String): Option[DataFrame] =
      if (Quality.missingTables(spark, warehouse, Seq(table)).isEmpty)
        Some(spark.read.parquet(s"$warehouse/$table"))
      else None
    val out = Pipeline.run(spark, t, targetDate,
      existingDimVehicle = existing("dim_vehicle"),
      existingDimDriver = existing("dim_driver"),
      etlBatchId = batchId)
    Pipeline.load(out, warehouse)
    out
  }

  /** The loaded fact's high-water mark, read in one aggregate: its last
    * day (`yyyy-MM-dd`) and last batch id. None while no fact row is
    * loaded. */
  private def highWater(spark: SparkSession, warehouse: String): Option[(String, Long)] =
    if (Quality.missingTables(spark, warehouse, Seq("fact_deliveries")).nonEmpty) None
    else {
      val m = spark.read.parquet(s"$warehouse/fact_deliveries")
        .agg(max("date_key"), max("etl_batch_id")).head()
      if (m.isNullAt(0)) None
      else {
        val k = m.getInt(0).toString
        Some((s"${k.substring(0, 4)}-${k.substring(4, 6)}-${k.substring(6, 8)}", m.getLong(1)))
      }
    }

  /** Catch-up over missed days (the CLI completion of the reference's
    * run_etl_scheduler.py:41-70 `--once` daily poll): every day with
    * delivered data STRICTLY AFTER the warehouse's loaded high-water
    * mark runs as its own incremental batch, oldest first, up to
    * `limit` days per invocation, with consecutive batch ids from the
    * same mark. Returns the days processed. */
  def catchUp(spark: SparkSession, t: Oltp, warehouse: String,
      limit: Int = 7): Seq[String] = {
    val hw = highWater(spark, warehouse)
    val pending = t.deliveries
      .filter(col("delivery_status") === "delivered" &&
        col("delivered_datetime").isNotNull)
      .select(to_date(col("delivered_datetime")).as("d")).distinct()
      .filter(hw.map { case (day, _) => col("d") > to_date(lit(day)) }.getOrElse(lit(true)))
      .orderBy(col("d"))
      .limit(limit)
      .collect().map(_.getDate(0).toString).toSeq
    val firstBatch = hw.fold(0L)(_._2) + 1L
    pending.zipWithIndex.foreach { case (d, i) => loadDay(spark, t, warehouse, d, firstBatch + i) }
    pending
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val warehouse = opts.getOrElse("warehouse",
      sys.error("--warehouse <dir> is required"))

    val spark = graft.GraftSession("graft-etl")
    spark.sparkContext.setLogLevel("WARN")

    val t = opts.get("oltp") match {
      case Some(dir) =>
        def rd(n: String) = spark.read.parquet(s"$dir/$n.parquet")
        Oltp(rd("vehicles"), rd("drivers"), rd("routes"),
          rd("trips"), rd("deliveries"), rd("maintenance"))
      case None =>
        val cfg = DataGen.Config(
          nTrips = opts.get("trips").map(_.toInt).getOrElse(100000))
        val tables = DataGen.all(spark, cfg)
        Oltp(tables("vehicles"), tables("drivers"), tables("routes"),
          tables("trips"), tables("deliveries"), tables("maintenance"))
    }

    opts.get("catchup").foreach { lim =>
      val days = catchUp(spark, t, warehouse, lim.toInt)
      println(s"""{"etl":"catchup","days":[${days.map(d => s""""$d"""").mkString(",")}]}""")
      spark.stop()
      return
    }

    val targetDate = opts.get("date").orElse {
      val nth = opts.get("nth").map(_.toInt).getOrElse(0)
      Pipeline.nthLastDateWithData(t, nth)
    }.getOrElse(sys.error("no day with delivered data found"))

    val batch = runOnce(spark, t, warehouse, targetDate)
    // the batch's lineage reads the dims its load replaced: everything
    // after the load reads the loaded tables back from the warehouse
    val out = batch.copy(
      fact = spark.read.parquet(s"$warehouse/fact_deliveries")
        .filter(col("p_date_key") === targetDate.replace("-", "").toInt)
        .drop("p_date_key"),
      dims = batch.dims.map { case (k, _) => k -> spark.read.parquet(s"$warehouse/$k") })
    Pipeline.registerSecureViews(out)
    // the reference's extract-time outlier scan (etl_pipeline.py:271-276)
    val outliers = Quality.outlierScan(out.fact,
      Seq("package_weight_kg", "distance_km", "fuel_consumed_liters"))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"etl":"ok","target_date":"$targetDate","fact_rows":${out.fact.count()},"outliers":$outliers}""")
    spark.stop()
  }
}
