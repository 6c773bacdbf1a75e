package graft.etl

import org.apache.spark.sql.functions._
import graft.GraftSpec

class DataGenSpec extends GraftSpec {

  private lazy val cfg = DataGen.Config(nTrips = 2000, nMaintenance = 500)
  private lazy val tables = DataGen.all(spark, cfg)
  private lazy val t = Oltp(
    tables("vehicles"), tables("drivers"), tables("routes"),
    tables("trips"), tables("deliveries"), tables("maintenance"))

  test("row counts match config") {
    assert(t.vehicles.count() === cfg.nVehicles)
    assert(t.drivers.count() === cfg.nDrivers)
    assert(t.routes.count() === cfg.nRoutes)
    assert(t.trips.count() === cfg.nTrips)
    assert(t.maintenance.count() === cfg.nMaintenance)
    val nDel = t.deliveries.count()
    assert(nDel >= cfg.nTrips * 2 && nDel <= cfg.nTrips * 6)
  }

  test("generation is deterministic and partition-independent") {
    val again = DataGen.trips(spark, cfg,
      tables("vehicles").repartition(7), tables("drivers"), tables("routes"))
      .orderBy(col("trip_id")).collect()
    val first = t.trips.orderBy(col("trip_id")).collect()
    assert(first.toSeq === again.toSeq)
  }

  test("referential integrity holds by construction (G3)") {
    assert(t.trips.join(t.vehicles, Seq("vehicle_id"), "left_anti").count() === 0)
    assert(t.trips.join(t.drivers, Seq("driver_id"), "left_anti").count() === 0)
    assert(t.trips.join(t.routes, Seq("route_id"), "left_anti").count() === 0)
    assert(t.deliveries.join(t.trips, Seq("trip_id"), "left_anti").count() === 0)
    assert(t.maintenance.join(t.vehicles, Seq("vehicle_id"), "left_anti").count() === 0)
  }

  test("motorcycles never drive routes over 500 km (G4, ref 01:348-353)") {
    val bad = t.trips
      .join(t.vehicles.filter(col("vehicle_type") === "Motocicleta"), "vehicle_id")
      .join(t.routes.filter(col("distance_km") > 500), "route_id")
    assert(bad.count() === 0)
  }

  test("temporal consistency by construction (ref README:59)") {
    assert(t.trips.filter(col("arrival_datetime") <= col("departure_datetime")).count() === 0)
    assert(t.deliveries.filter(
      col("delivered_datetime") < col("scheduled_datetime")).count() === 0)
    val m = t.maintenance.join(t.vehicles.select(col("vehicle_id"),
      col("acquisition_date")), "vehicle_id")
    assert(m.filter(col("maintenance_date") < col("acquisition_date")).count() === 0)
    assert(t.maintenance.filter(
      col("next_maintenance_date") <= col("maintenance_date")).count() === 0)
  }

  test("status mixes approximate the reference weights (G1)") {
    val mix = t.trips.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = cfg.nTrips.toDouble
    assert(math.abs(mix("completed") / n - 0.85) < 0.03)
    assert(math.abs(mix.getOrElse("cancelled", 0L) / n - 0.05) < 0.02)
    val dmix = t.deliveries.groupBy("delivery_status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dn = t.deliveries.count().toDouble
    assert(math.abs(dmix("delivered") / dn - 0.90) < 0.03)
  }

  test("departure hours follow the morning-peak distribution (G2)") {
    val byHour = t.trips.groupBy(hour(col("departure_datetime")).as("h"))
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = cfg.nTrips.toDouble
    // peak bins (8h,9h: p=0.10) must clearly exceed night bins (p=0.01)
    assert(byHour.getOrElse(8, 0L) / n > 0.06)
    assert(byHour.getOrElse(9, 0L) / n > 0.06)
    assert(byHour.getOrElse(2, 0L) / n < 0.03)
  }

  test("writeAll persists every table with an audit row each (S4/G10)") {
    val dir = tempDir("graft_gen")
    val small = DataGen.Config(nTrips = 300, nMaintenance = 30)
    val counts = DataGen.writeAll(spark, small, dir)
    assert(counts.keySet === Set("vehicles", "drivers", "routes", "trips",
      "deliveries", "maintenance"))
    val logs = spark.read.parquet(s"$dir/load_logs")
    assert(logs.count() === 6)
    val logged = logs.collect()
      .map(r => r.getAs[String]("table_name") -> r.getAs[Long]("records_inserted")).toMap
    assert(logged === counts)
  }

  test("writeAll lays out each non-partitioned table as ONE parquet file (r15, guide §6)") {
    // the optimization pin: the generator's spark.range parallelism must
    // never leak into the at-rest layout again (32 ~100 KB files per
    // 4 MB table = ~32 scan tasks per query over the fixture)
    val dir = tempDir("graft_gen_layout")
    val small = DataGen.Config(nTrips = 300, nMaintenance = 30)
    DataGen.writeAll(spark, small, dir)
    for (t <- Seq("vehicles", "drivers", "routes", "trips", "maintenance")) {
      val files = new java.io.File(s"$dir/$t").listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      assert(files.length === 1, s"$t should be one file, got ${files.length}")
    }
    // deliveries keeps its month-partitioned lake layout (S8)
    assert(new java.io.File(s"$dir/deliveries").listFiles().exists(_.getName.startsWith("p_month=")))
  }

  test("per-type capacity ranges hold (ref 01:102-107)") {
    val bad = t.vehicles.filter(
      (col("vehicle_type") === "Camión Grande" && !col("capacity_kg").between(10000, 20000)) ||
      (col("vehicle_type") === "Camión Mediano" && !col("capacity_kg").between(5000, 9999)) ||
      (col("vehicle_type") === "Van" && !col("capacity_kg").between(1500, 4999)) ||
      (col("vehicle_type") === "Motocicleta" && !col("capacity_kg").between(200, 1499)))
    assert(bad.count() === 0)
  }
}
