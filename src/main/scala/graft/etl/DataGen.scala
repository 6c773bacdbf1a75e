package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded, Spark-native FleetLogix data generator (SURVEY §2.10 G1–G10),
  * reproducing the reference generator's distributions and constraints
  * (scripts/01_data_generation.py) as pure column expressions over
  * `spark.range` — fully distributed, no driver-side loops.
  *
  * Determinism at scale: randomness is derived from
  * `xxhash64(seed, salt, id)` per row — a function of the row identity
  * only, NOT of partition layout (unlike `rand(seed)`, whose stream
  * depends on partitioning and would change results under AQE/
  * repartitioning). Same seed ⇒ same tables on 1 core or 1000.
  */
object DataGen {

  final case class Config(
      seed: Long = 42L,
      asOfDate: String = "2025-11-28",
      nVehicles: Int = 200,
      nDrivers: Int = 400,
      nRoutes: Int = 50,
      nTrips: Int = 100000,
      nMaintenance: Int = 5000,
      nCustomers: Int = 500)

  /** Uniform [0,1) from row id + salt (G1 base). */
  private def u(seed: Long, salt: Int, id: Column): Column =
    (xxhash64(lit(seed), lit(salt), id).bitwiseAND(lit(Long.MaxValue)))
      .cast("double") / lit(Long.MaxValue.toDouble)

  /** Weighted categorical pick via inverse CDF over u (G1).
    * Ref: random.choices(..., weights=...) 01:108-113,394-396. */
  private def weighted(uCol: Column, items: Seq[(String, Double)]): Column = {
    val total = items.map(_._2).sum
    val cum = items.scanLeft(0.0)(_ + _._2).tail.map(_ / total)
    items.zip(cum).init.foldRight(lit(items.last._1): Column) {
      case (((item, _), bound), acc) => when(uCol < bound, item).otherwise(acc)
    }
  }

  /** Hourly departure probability vector, 24 bins with morning peak
    * (G2; ref 01:75-88) — inverse CDF as a when-ladder. */
  private def hourlyPick(uCol: Column): Column = {
    val probs = Seq(
      0.02, 0.01, 0.01, 0.01, 0.02, 0.03,
      0.07, 0.08, 0.10, 0.10, 0.08, 0.07,
      0.06, 0.05, 0.05, 0.05, 0.04, 0.04,
      0.03, 0.02, 0.01, 0.01, 0.01, 0.01)
    val total = probs.sum
    val cum = probs.scanLeft(0.0)(_ + _).tail.map(_ / total)
    cum.init.zipWithIndex.foldRight(lit(23): Column) {
      case ((bound, h), acc) => when(uCol < bound, h).otherwise(acc)
    }
  }

  private val cities = Seq(
    "Buenos Aires", "Córdoba", "Rosario", "Mendoza", "La Plata",
    "Mar del Plata", "Salta", "San Miguel de Tucumán", "Santa Fe")

  /** Base one-way distances/tolls (ref 01:204-249); reverse direction
    * gets ±3% / ±10% jitter, unlisted pairs draw uniform. */
  private val routesInfo: Map[(String, String), (Double, Double)] = Map(
    ("Buenos Aires", "Córdoba") -> (695.0, 7000.0),
    ("Buenos Aires", "Rosario") -> (300.0, 4500.0),
    ("Buenos Aires", "Mendoza") -> (1050.0, 9000.0),
    ("Buenos Aires", "La Plata") -> (60.0, 3000.0),
    ("Buenos Aires", "Mar del Plata") -> (400.0, 4000.0),
    ("Buenos Aires", "Salta") -> (1500.0, 12000.0),
    ("Buenos Aires", "San Miguel de Tucumán") -> (1400.0, 11000.0),
    ("Buenos Aires", "Santa Fe") -> (470.0, 5000.0),
    ("Córdoba", "Rosario") -> (400.0, 4000.0),
    ("Córdoba", "Mendoza") -> (650.0, 6000.0),
    ("Córdoba", "La Plata") -> (750.0, 7500.0))

  /** vehicles (ref 01:97-151): per-type capacity ranges, weighted status. */
  def vehicles(spark: SparkSession, cfg: Config): DataFrame = {
    val id = col("id") + 1
    val asOf = to_date(lit(cfg.asOfDate))
    val vtype = weighted(u(cfg.seed, 1, id), Seq(
      "Camión Grande" -> 1, "Camión Mediano" -> 1, "Van" -> 1, "Motocicleta" -> 1))
    val capLo = when(vtype === "Camión Grande", 10000.0)
      .when(vtype === "Camión Mediano", 5000.0)
      .when(vtype === "Van", 1500.0).otherwise(200.0)
    val capHi = when(vtype === "Camión Grande", 20000.0)
      .when(vtype === "Camión Mediano", 9999.0)
      .when(vtype === "Van", 4999.0).otherwise(1499.0)
    spark.range(cfg.nVehicles).select(
      id.as("vehicle_id"),
      format_string("AR%06d", id).as("license_plate"),
      vtype.as("vehicle_type"),
      round(capLo + u(cfg.seed, 2, id) * (capHi - capLo), 0)
        .cast(DecimalType(10, 2)).as("capacity_kg"),
      weighted(u(cfg.seed, 3, id), Seq("Diesel" -> 1, "Nafta" -> 1)).as("fuel_type"),
      date_sub(asOf, (u(cfg.seed, 4, id) * 3650).cast("int")).as("acquisition_date"),
      weighted(u(cfg.seed, 5, id),
        Seq("active" -> 75, "inactive" -> 5, "maintenance" -> 20)).as("status"))
  }

  /** drivers (ref 01:155-181): EMP_/LIC_ codes, ±status, date windows. */
  def drivers(spark: SparkSession, cfg: Config): DataFrame = {
    val id = col("id") + 1
    val asOf = to_date(lit(cfg.asOfDate))
    spark.range(cfg.nDrivers).select(
      id.as("driver_id"),
      format_string("EMP_%03d", id).as("employee_code"),
      format_string("Nombre%d", pmod(xxhash64(lit(cfg.seed), lit(10), id), lit(200)))
        .as("first_name"),
      format_string("Apellido%d", pmod(xxhash64(lit(cfg.seed), lit(11), id), lit(300)))
        .as("last_name"),
      format_string("LIC_%05d", id).as("license_number"),
      date_add(asOf, (u(cfg.seed, 12, id) * 1825).cast("int")).as("license_expiry"),
      format_string("+54-11-%07d", pmod(xxhash64(lit(cfg.seed), lit(13), id), lit(9999999L)))
        .as("phone"),
      date_sub(asOf, (u(cfg.seed, 14, id) * 3650).cast("int")).as("hire_date"),
      weighted(u(cfg.seed, 15, id), Seq("active" -> 75, "inactive" -> 25)).as("status"))
  }

  /** routes (ref 01:196-284): distinct city pairs, base distance table
    * with jittered reverse, estimated duration = distance/U(70,100). */
  def routes(spark: SparkSession, cfg: Config): DataFrame = {
    import scala.jdk.CollectionConverters._
    // the pair table is tiny (≤72 rows) and static — build it locally,
    // parallelize; everything downstream joins it as a broadcast dim
    val pairs = (for {
      o <- cities; dest <- cities if o != dest
    } yield (o, dest)).zipWithIndex.map { case ((o, dest), i) =>
      val base = routesInfo.get((o, dest))
      val rev = routesInfo.get((dest, o))
      org.apache.spark.sql.Row(o, dest, i.toLong + 1,
        base.map(b => java.lang.Double.valueOf(b._1)).orNull,
        rev.map(b => java.lang.Double.valueOf(b._1)).orNull,
        base.map(b => java.lang.Double.valueOf(b._2)).orNull,
        rev.map(b => java.lang.Double.valueOf(b._2)).orNull)
    }
    val schema = StructType(Seq(
      StructField("origin_city", StringType), StructField("destination_city", StringType),
      StructField("pair_id", LongType),
      StructField("base_km", DoubleType), StructField("rev_km", DoubleType),
      StructField("base_toll", DoubleType), StructField("rev_toll", DoubleType)))
    val pdf = spark.createDataFrame(pairs.asJava, schema)
    val id = col("rid")
    // deterministic shuffle of pairs, take n (ref 01:253-258)
    val shuffled = pdf
      .withColumn("shuffle_key", xxhash64(lit(cfg.seed), lit(20), col("pair_id")))
      .orderBy(col("shuffle_key")).limit(cfg.nRoutes)
      .withColumn("rid", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("shuffle_key"))).cast("long"))
    val km = coalesce(
      col("base_km"),
      col("rev_km") * (lit(0.97) + u(cfg.seed, 21, id) * 0.06),
      lit(100.0) + u(cfg.seed, 22, id) * 1500.0)
    val toll = coalesce(
      col("base_toll"),
      col("rev_toll") * (lit(0.9) + u(cfg.seed, 23, id) * 0.2),
      lit(3000.0) + u(cfg.seed, 24, id) * 9000.0)
    shuffled.select(
      id.as("route_id"),
      format_string("R_%04d", id).as("route_code"),
      col("origin_city"), col("destination_city"),
      round(km, 1).cast(DecimalType(10, 1)).as("distance_km"),
      round(km / (lit(70.0) + u(cfg.seed, 25, id) * 30.0), 2)
        .cast(DecimalType(5, 2)).as("estimated_duration_hours"),
      round(toll, 0).cast(DecimalType(10, 0)).as("toll_cost"))
  }

  /** trips (ref 01:316-417): FK sampling from active parents with the
    * no-motorcycle-over-500km constraint (G3/G4), hourly-peak departure
    * (G2/G5), derived fuel/weight measures (G6), weighted status. */
  def trips(spark: SparkSession, cfg: Config,
      vehiclesDf: DataFrame, driversDf: DataFrame, routesDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val id = col("id") + 1
    val asOf = to_timestamp(lit(cfg.asOfDate))

    // eligible-vehicle pools: all active, and active-non-moto for long
    // routes (ref 01:348-353) — indexable via row_number, broadcastable
    val active = vehiclesDf.filter(col("status") === "active")
    val poolAll = active
      .withColumn("pool", lit("all"))
      .withColumn("pidx", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("vehicle_id"))).cast("long"))
    val poolNoMoto = active.filter(col("vehicle_type") =!= "Motocicleta")
      .withColumn("pool", lit("nomoto"))
      .withColumn("pidx", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("vehicle_id"))).cast("long"))
    val pools = poolAll.unionByName(poolNoMoto)
      .select(col("pool"), col("pidx"), col("vehicle_id"), col("capacity_kg"))
    val poolSizes = pools.groupBy("pool").agg(max("pidx").as("pool_n"))

    val activeDrivers = driversDf.filter(col("status") === "active")
      .withColumn("didx", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("driver_id"))).cast("long"))
      .select(col("didx"), col("driver_id"))
    val nDrv = activeDrivers.count()

    val base = spark.range(cfg.nTrips).select(
      id.as("trip_id"),
      (pmod(xxhash64(lit(cfg.seed), lit(30), id), lit(cfg.nRoutes.toLong)) + 1)
        .as("route_id"),
      u(cfg.seed, 31, id).as("u_vehicle"),
      (pmod(xxhash64(lit(cfg.seed), lit(32), id), lit(nDrv)) + 1).as("didx"),
      u(cfg.seed, 33, id).as("u_day"),
      u(cfg.seed, 34, id).as("u_hour"),
      u(cfg.seed, 35, id).as("u_min"),
      u(cfg.seed, 36, id).as("u_jitter"),
      u(cfg.seed, 37, id).as("u_fuel"),
      u(cfg.seed, 38, id).as("u_weight"),
      u(cfg.seed, 39, id).as("u_status"))

    val withRoute = base
      .join(broadcast(routesDf.select(
        col("route_id"), col("distance_km"), col("estimated_duration_hours"))),
        Seq("route_id"))
      .withColumn("pool",
        when(col("distance_km") > 500, "nomoto").otherwise("all"))
    val withVehicle = withRoute
      .join(broadcast(poolSizes), Seq("pool"))
      .withColumn("pidx", (col("u_vehicle") * col("pool_n")).cast("long") + 1)
      .join(broadcast(pools), Seq("pool", "pidx"))
      .join(broadcast(activeDrivers), Seq("didx"))

    val departure = to_timestamp(lit(cfg.asOfDate)) +
      make_dt_interval(
        (col("u_day") * 730).cast("int") - 730,
        hourlyPick(col("u_hour")),
        (col("u_min") * 60).cast("int"))
    val estH = col("estimated_duration_hours").cast("double")
    val arrival = col("departure_datetime") + make_dt_interval(
      lit(0), lit(0), (estH * 60 + col("u_jitter") * 15 * estH + 40).cast("int"))

    withVehicle
      .withColumn("departure_datetime", departure)
      .withColumn("arrival_datetime", arrival)
      .select(
        col("trip_id"), col("vehicle_id"), col("driver_id"), col("route_id"),
        col("departure_datetime"), col("arrival_datetime"),
        round(col("distance_km") * (lit(0.08) + col("u_fuel") * 0.07), 2)
          .cast(DecimalType(10, 2)).as("fuel_consumed_liters"),
        round(col("capacity_kg") * (lit(0.4) + col("u_weight") * 0.5), 2)
          .cast(DecimalType(10, 2)).as("total_weight_kg"),
        weighted(col("u_status"),
          Seq("completed" -> 85, "cancelled" -> 5, "in_progress" -> 10))
          .as("status"))
  }

  /** deliveries (ref 01:431-551): 2–6 per trip with weights
    * (.1,.2,.4,.2,.1) via explode (G7), skewed 500-name customer pool,
    * scheduled inside the trip window, delivered +U(0,50)min or NULL. */
  def deliveries(spark: SparkSession, cfg: Config, tripsDf: DataFrame): DataFrame = {
    val tid = col("trip_id")
    val k = weighted(u(cfg.seed, 40, tid),
      Seq("2" -> 10, "3" -> 20, "4" -> 40, "5" -> 20, "6" -> 10)).cast("int")
    val exploded = tripsDf
      .select(tid, col("departure_datetime"), col("arrival_datetime"))
      .withColumn("seq", explode(sequence(lit(1), k)))
    val rid = xxhash64(lit(cfg.seed), lit(41), tid, col("seq"))
    def ru(salt: Int): Column =
      (xxhash64(lit(cfg.seed), lit(salt), tid, col("seq"))
        .bitwiseAND(lit(Long.MaxValue))).cast("double") / lit(Long.MaxValue.toDouble)

    // skewed popularity: idx = floor(n·u²) concentrates on low ids
    // (ref 01:454-456 weighted pool)
    val custIdx = (ru(42) * ru(42) * cfg.nCustomers).cast("int")
    val tripSpanSec = unix_timestamp(col("arrival_datetime")) -
      unix_timestamp(col("departure_datetime"))
    val scheduled = col("departure_datetime") + make_dt_interval(
      lit(0), lit(0), lit(0), (lit(0.05) + ru(43) * 0.9) * tripSpanSec)
    val status = weighted(ru(44),
      Seq("delivered" -> 90, "pending" -> 5, "failed" -> 5))
    val delivered = when(status === "delivered",
      col("scheduled_datetime") + make_dt_interval(lit(0), lit(0), (ru(45) * 50).cast("int")))
      .otherwise(lit(null).cast(TimestampType))

    exploded
      .withColumn("delivery_id", abs(rid))
      .withColumn("scheduled_datetime", scheduled)
      .select(
        col("delivery_id"),
        tid,
        format_string("TN-%010d", pmod(rid, lit(9999999999L))).as("tracking_number"),
        format_string("Cliente_%03d", custIdx).as("customer_name"),
        format_string("Calle %d Nro %d", pmod(xxhash64(lit(cfg.seed), lit(46), tid, col("seq")), lit(200)),
          pmod(xxhash64(lit(cfg.seed), lit(47), tid, col("seq")), lit(9000)) + 1000)
          .as("delivery_address"),
        round(lit(5.0) + ru(48) * 495.0, 2).cast(DecimalType(10, 2)).as("package_weight_kg"),
        col("scheduled_datetime"),
        delivered.as("delivered_datetime"),
        status.as("delivery_status"),
        (ru(49) < 0.8).as("recipient_signature"))
  }

  /** maintenance (ref 01:661-749): date ≥ acquisition (G8), six kinds,
    * cost U(1000,20000), next = +U(30,365)d. */
  def maintenance(spark: SparkSession, cfg: Config, vehiclesDf: DataFrame): DataFrame = {
    val id = col("id") + 1
    val asOf = to_date(lit(cfg.asOfDate))
    val kinds = Seq("Cambio de aceite", "Rotación de neumáticos", "Revisión de frenos",
      "Cambio de filtros", "Alineación y balanceo", "Revisión general")
    spark.range(cfg.nMaintenance)
      .select(
        id.as("maintenance_id"),
        (pmod(xxhash64(lit(cfg.seed), lit(50), id), lit(cfg.nVehicles.toLong)) + 1)
          .as("vehicle_id"),
        u(cfg.seed, 51, id).as("u_date"),
        weighted(u(cfg.seed, 52, id), kinds.map(_ -> 1.0)).as("maintenance_type"),
        round(lit(1000.0) + u(cfg.seed, 53, id) * 19000.0, 2)
          .cast(DecimalType(10, 2)).as("cost"),
        (lit(30) + (u(cfg.seed, 54, id) * 335).cast("int")).as("next_delta"),
        format_string("Taller_%d", pmod(xxhash64(lit(cfg.seed), lit(55), id), lit(20)))
          .as("performed_by"))
      .join(broadcast(vehiclesDf.select(col("vehicle_id"), col("acquisition_date"))),
        Seq("vehicle_id"))
      .withColumn("maintenance_date",
        date_add(col("acquisition_date"),
          (col("u_date") * datediff(asOf, col("acquisition_date"))).cast("int")))
      .select(
        col("maintenance_id"), col("vehicle_id"), col("maintenance_date"),
        col("maintenance_type"), lit("").as("description"), col("cost"),
        date_add(col("maintenance_date"), col("next_delta")).as("next_maintenance_date"),
        col("performed_by"))
  }

  /** Generate and write every table as parquet, the tables concurrently
    * ([[LoadLog.batch]]), logging one audit row
    * per table to `load_logs` (S4 batch-insert sink + G10 audit,
    * ref 01_data_generation.py:42-72 — Spark's task-parallel write IS
    * the chunked executemany). Returns the rows written per table. */
  def writeAll(spark: SparkSession, cfg: Config, dir: String): Map[String, Long] = {
    def layOut(name: String, df: DataFrame): Unit = {
      // deliveries is the incremental-extract table: date-partitioned at
      // rest (ref 03_optimization_indexes.sql:23-24 — the daily-batch
      // partial index; Spark's analog is directory layout + in-file
      // ordering). Grain tracks volume: MONTH partitions here (a year of
      // gate data = 12 right-sized directories — day grain measured
      // ~+1 s of footer/listing overhead on every full scan at this
      // volume), with rows SORTED by delivered_datetime inside each
      // file so the daily extract's pushed timestamp range skips to the
      // day's row groups — partition prune to the month, min/max skip
      // to the day. At 100 TB/year the same code flips to day grain by
      // changing the partition expression. NULL delivered_datetime rows
      // land in the default partition, untouched by any day filter.
      if (name == "deliveries") {
        val parted = df
          .withColumn("p_month",
            trunc(col("delivered_datetime").cast("date"), "month"))
          .repartition(col("p_month"))
          .sortWithinPartitions(col("p_month"), col("delivered_datetime"))
        graft.sources.Lake.writePartitioned(parted, s"$dir/$name", Seq("p_month"))
      } else {
        // r15 (guide §6): ONE file per non-partitioned table. The
        // generator's spark.range parallelism was leaking into the
        // at-rest layout as 32 ~100 KB files per table, so every scan
        // of a 4 MB OLTP table launched ~32 tasks (openCostInBytes
        // packs 4 MB per split). Row content is a pure function of row
        // id (header doc), so the layout choice is semantics-free; at
        // 10M-trip stress volume one file is ~370 MB — still inside
        // the guide's 128 MB–1 GB per-file target.
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
      }
    }
    LoadLog.batch(spark, dir, t => s"datagen_$t")(
      all(spark, cfg).map { case (name, df) => LoadLog.write(name, df)(layOut(name, _)) }.toSeq)
  }

  /** All seven tables, FK-consistent, fully deterministic. */
  def all(spark: SparkSession, cfg: Config = Config()): Map[String, DataFrame] = {
    val v = vehicles(spark, cfg)
    val dr = drivers(spark, cfg)
    val r = routes(spark, cfg)
    val t = trips(spark, cfg, v, dr, r)
    val del = deliveries(spark, cfg, t)
    val m = maintenance(spark, cfg, v)
    Map("vehicles" -> v, "drivers" -> dr, "routes" -> r,
      "trips" -> t, "deliveries" -> del, "maintenance" -> m)
  }
}
