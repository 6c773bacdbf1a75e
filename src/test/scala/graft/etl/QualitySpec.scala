package graft.etl

import org.apache.spark.sql.functions._
import graft.GraftSpec

class QualitySpec extends GraftSpec {
  import spark.implicits._

  test("z-score outlier scan finds planted outliers, population σ") {
    val base = (1 to 200).map(i => (i.toLong, 10.0 + (i % 5), 100.0))
    val planted = Seq((201L, 10000.0, 100.0))
    val df = (base ++ planted).toDF("id", "a", "b")
    val out = Quality.outlierScan(df, Seq("a", "b"))
    assert(out("a") === 1L)   // the planted spike
    assert(out("b") === 0L)   // constant column → σ=0 → no outliers
  }

  test("warehouse schema validation reports missing tables") {
    val dir = tempDir("graft_q")
    val tables = DataGen.all(spark, DataGen.Config(nTrips = 500, nMaintenance = 50))
    val t = Oltp(tables("vehicles"), tables("drivers"), tables("routes"),
      tables("trips"), tables("deliveries"), tables("maintenance"))
    assert(Quality.missingTables(spark, dir, Quality.requiredWarehouseTables)
      .toSet === Quality.requiredWarehouseTables.toSet)
    val day = Pipeline.nthLastDateWithData(t, 0).get
    Pipeline.load(Pipeline.run(spark, t, day), dir)
    assert(Quality.missingTables(spark, dir, Quality.requiredWarehouseTables).isEmpty)
  }

  test("JSON staging round-trips the extract losslessly") {
    val dir = tempDir("graft_stg")
    val tables = DataGen.all(spark, DataGen.Config(nTrips = 1000, nMaintenance = 50))
    val t = Oltp(tables("vehicles"), tables("drivers"), tables("routes"),
      tables("trips"), tables("deliveries"), tables("maintenance"))
    val day = Pipeline.nthLastDateWithData(t, 0).get
    Pipeline.load(Pipeline.run(spark, t, day), dir)

    val extract = FactDeliveries.extractDay(t, to_date(lit(day)))
    val parsed = Quality.readStaging(spark, dir,
      org.apache.spark.sql.types.StructType(extract.schema))
    assert(parsed.count() === extract.count())
    // spot fields survive the VARIANT round-trip exactly
    val a = extract.select($"delivery_id", $"tracking_number", $"package_weight_kg")
      .orderBy($"delivery_id").collect().toSeq
    val b = parsed.select($"delivery_id", $"tracking_number", $"package_weight_kg")
      .orderBy($"delivery_id").collect().toSeq
    assert(a === b)
  }
}
