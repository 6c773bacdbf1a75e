package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{CorpusGen, QueryDef}
import graft.etl.{DataGen, EtlMain, Oltp}
import graft.operators.{Advanced, FleetOps, Relational, SimilarityOps,
  StreamingOps, Temporal, TextOps}

/** Input volumes. `standard` is the benchmark's; `tiny` is the self-test's.
  * The KPIs keep 5000 trips in both: fl_q07 keeps routes with 50 or more
  * trips, and the 50 routes need about 5000 trips for that. */
final case class Sizes(etlTrips: Int, kpiTrips: Int, docs: Long, vecs: Long,
    events: Long, orders: Long)

object Sizes {
  val standard = Sizes(etlTrips = 5000, kpiTrips = 5000, docs = 1000,
    vecs = 500, events = 20000, orders = 3000)
  val tiny = Sizes(etlTrips = 2000, kpiTrips = 5000, docs = 300, vecs = 200,
    events = 4000, orders = 600)
}

/** The result of one call: the rows a user would see, kept for the
  * output check. An ETL day returns none. */
final case class Result(schema: StructType, rows: Array[Row])

/** One call of a pass: a registry entry or one ETL day. */
final case class Call(name: String, family: String, oracle: Option[String],
    run: () => Option[Result])

/** A workload builds its inputs from the seed, then runs passes of calls
  * in a closed loop with one client. */
abstract class Workload(val spark: SparkSession, val seed: Long, val sizes: Sizes) {
  def name: String
  /** Build the inputs under `dir`; timed as part of set-up. */
  def build(dir: String): Unit
  /** The directory the entries read their tables from. */
  def tablesDir: String
  /** Calls of one pass, in order. */
  def pass(): Seq[Call]
  /** Checks beyond the oracle compare; returns the problems found. */
  def check(): Seq[String] = Nil
  def header: Map[String, Any]
  /** Seconds of the OLTP generation in set-up, if the workload has one. */
  var datagenS = 0.0
}

object Workload {
  val names = Seq("daily_etl", "kpi_dashboard", "stream_alerts", "corpus_sweep",
    "mixed_queries")

  def apply(name: String, spark: SparkSession, seed: Long, sizes: Sizes): Workload =
    name match {
      case "daily_etl" => new DailyEtl(spark, seed, sizes)
      case "kpi_dashboard" => new KpiDashboard(spark, seed, sizes)
      case "stream_alerts" => new StreamAlerts(spark, seed, sizes)
      case "corpus_sweep" => new CorpusSweep(spark, seed, sizes)
      case "mixed_queries" => new MixedQueries(spark, seed, sizes)
      case other => sys.error(s"unknown workload $other (one of ${names.mkString(", ")})")
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The paper's nightly load: a seeded OLTP set, then one day per call
  * through the scheduler's `--once` poll, `EtlMain.catchUp(limit = 1)`.
  * The first call bootstraps the empty warehouse; each later call loads
  * the next day incrementally. */
final class DailyEtl(spark: SparkSession, seed: Long, sizes: Sizes)
    extends Workload(spark, seed, sizes) {
  val name = "daily_etl"
  private var oltp: Oltp = _
  var warehouse: String = _
  val loaded = mutable.ArrayBuffer.empty[String]
  private var oltpDir: String = _

  def tablesDir: String = oltpDir

  def build(dir: String): Unit = {
    oltpDir = s"$dir/oltp"
    datagenS = Workload.timed(DataGen.writeAll(spark, config, oltpDir))._2
    def rd(t: String) = spark.read.parquet(s"$oltpDir/$t")
    oltp = Oltp(rd("vehicles"), rd("drivers"), rd("routes"), rd("trips"),
      rd("deliveries"), rd("maintenance"))
    warehouse = s"$dir/warehouse"
  }

  private def config = Fixtures.fleet(seed, sizes.etlTrips)

  def pass(): Seq[Call] = Seq(Call("etl_day", "etl", None, () => {
    val days = EtlMain.catchUp(spark, oltp, warehouse, 1)
    require(days.size == 1, "no pending day left to load")
    loaded ++= days
    None
  }))

  private val loggedTables = Seq("fact_deliveries", "report_driver_totals",
    "report_route_totals", "staging_daily_load", "dim_date", "dim_time",
    "dim_route", "dim_customer", "dim_vehicle", "dim_driver")

  override def check(): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    val keys = loaded.map(_.replace("-", "").toLong).toSet
    val fact = spark.read.parquet(s"$warehouse/fact_deliveries")
    val got = fact.groupBy(col("date_key").cast("long")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = oltp.deliveries
      .filter(col("delivery_status") === "delivered" && col("delivered_datetime").isNotNull)
      .groupBy(date_format(col("delivered_datetime"), "yyyyMMdd").cast("long"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    keys.toSeq.sorted.foreach { k =>
      if (got.getOrElse(k, 0L) != want.getOrElse(k, 0L))
        problems += s"fact rows for $k: ${got.getOrElse(k, 0L)}, OLTP delivered ${want.getOrElse(k, 0L)}"
    }
    (got.keySet -- keys).foreach(k => problems += s"fact has rows for unloaded day $k")
    val dups = fact.groupBy("delivery_id").count().filter(col("count") > 1).count()
    if (dups > 0) problems += s"$dups delivery_id values appear twice in fact_deliveries"
    Seq("dim_vehicle" -> "vehicle_id", "dim_driver" -> "driver_id").foreach { case (dim, key) =>
      val bad = spark.read.parquet(s"$warehouse/$dim").groupBy(key)
        .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n"))
        .filter(col("n") =!= 1).count()
      if (bad > 0) problems += s"$dim: $bad ${key}s without exactly one is_current row"
    }
    val logs = spark.read.parquet(s"$warehouse/load_logs")
      .groupBy("process_name", "table_name").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val expected = for (d <- loaded.toSeq; t <- loggedTables) yield (s"etl_$d", t)
    expected.filter(k => logs.getOrElse(k, 0L) != 1L).foreach { case (p, t) =>
      problems += s"load_logs has ${logs.getOrElse((p, t), 0L)} rows for $t on $p" }
    (logs.keySet -- expected).foreach { case (p, t) =>
      problems += s"load_logs has an unexpected row for $t on $p" }
    problems.toSeq
  }

  def header: Map[String, Any] = Map("datagen" -> Map("seed" -> seed,
    "nTrips" -> config.nTrips,
    "nDrivers" -> config.nDrivers, "nVehicles" -> config.nVehicles,
    "asOfDate" -> config.asOfDate))
}

/** Workloads whose calls are registry entries; each call collects the
  * entry's rows. */
abstract class EntryWorkload(spark: SparkSession, seed: Long, sizes: Sizes)
    extends Workload(spark, seed, sizes) {
  /** (family, entry) in pass order. */
  def entries: Seq[(String, QueryDef)]

  def pass(): Seq[Call] = entries.map { case (family, q) =>
    Call(q.name, family, q.oracle, () => {
      val df = q.fn(spark, tablesDir)
      Some(Result(df.schema, df.collect()))
    })
  }
}

/** Seeded inputs. Both draw every value from the seed and the row id
  * alone, so a seed gives the same tables on any run. */
object Fixtures {
  /** DataGen's config at `nTrips`, with drivers and vehicles scaled to keep
    * the reference's trips per driver (250) and per vehicle (500) a year,
    * so the per-driver HAVING thresholds of fl_q06 and fl_q10 keep rows. */
  def fleet(seed: Long, nTrips: Int): DataGen.Config = DataGen.Config(seed = seed,
    nTrips = nTrips, nDrivers = math.max(1, nTrips / 250),
    nVehicles = math.max(1, nTrips / 500))

  /** The FleetLogix OLTP set, generated through `FleetOps.reconfigure`
    * into `dir`: a benchmark-owned directory, never the gate fixture. */
  def oltp(spark: SparkSession, cfg: DataGen.Config, dir: String): String = {
    val abs = new java.io.File(dir).getAbsolutePath
    FleetOps.reconfigure(cfg, Some(abs))
    FleetOps.oltp(spark)
    abs
  }

  /** A corpus with the testdata's schema (`CorpusGen`); the relational
    * tables (orders, customers, ...) only when `relational` is set. */
  def corpus(spark: SparkSession, seed: Long, sizes: Sizes, dir: String,
      relational: Boolean = true): String = {
    CorpusGen.documents(spark, sizes.docs, seed)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    CorpusGen.embeddings(spark, sizes.vecs, seed = seed)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    CorpusGen.events(spark, sizes.events, seed)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    if (relational) CorpusGen.relational(spark, dir, sizes.orders, seed)
    dir
  }

  def corpusHeader(seed: Long, sizes: Sizes, relational: Boolean = true): Map[String, Any] =
    Map("seed" -> seed, "documents" -> sizes.docs, "embeddings" -> sizes.vecs,
      "events" -> sizes.events, "orders" -> (if (relational) sizes.orders else 0L))

  def kpis: Seq[(String, QueryDef)] =
    FleetOps.defs.filter(_.name.startsWith("fl_q")).map("kpi" -> _)

  def gates: Seq[(String, QueryDef)] = StreamingOps.defs.map("streaming" -> _)

  /** Corpus entries with their registry family. */
  def corpusEntries(names: Seq[String]): Seq[(String, QueryDef)] = {
    val all = Seq("relational" -> Relational.defs, "temporal" -> Temporal.defs,
      "text" -> TextOps.defs, "similarity" -> SimilarityOps.defs,
      "advanced" -> Advanced.defs).flatMap { case (f, ds) => ds.map(f -> _) }
    val missing = names.filterNot(n => all.exists(_._2.name == n))
    require(missing.isEmpty, s"corpus entries not registered: ${missing.mkString(", ")}")
    all.filter { case (_, q) => names.contains(q.name) }
  }
}

/** The 12 reference KPIs over a seeded OLTP set. */
final class KpiDashboard(spark: SparkSession, seed: Long, sizes: Sizes)
    extends EntryWorkload(spark, seed, sizes) {
  val name = "kpi_dashboard"
  private var dir: String = _
  def tablesDir: String = dir
  private def config = Fixtures.fleet(seed, sizes.kpiTrips)

  def build(d: String): Unit =
    datagenS = Workload.timed { dir = Fixtures.oltp(spark, config, s"$d/oltp") }._2

  def entries: Seq[(String, QueryDef)] = Fixtures.kpis

  def header: Map[String, Any] = Map("datagen" -> Map("seed" -> seed,
    "nTrips" -> config.nTrips,
    "nDrivers" -> config.nDrivers, "nVehicles" -> config.nVehicles,
    "asOfDate" -> config.asOfDate))
}

/** Entries over a seeded corpus. */
abstract class CorpusWorkload(spark: SparkSession, seed: Long, sizes: Sizes)
    extends EntryWorkload(spark, seed, sizes) {
  private var dir: String = _
  def tablesDir: String = dir

  def build(d: String): Unit = dir = Fixtures.corpus(spark, seed, sizes, d)

  def header: Map[String, Any] = Map("corpus" -> Fixtures.corpusHeader(seed, sizes))
}

/** The 11 file-fed streaming gates. */
final class StreamAlerts(spark: SparkSession, seed: Long, sizes: Sizes)
    extends CorpusWorkload(spark, seed, sizes) {
  val name = "stream_alerts"
  def entries: Seq[(String, QueryDef)] = Fixtures.gates
}

/** A fixed cross-section of the corpus registries: the fixpoint loops
  * plus entries of every family, chosen so dedup, sim, text, plans and
  * functions all run. */
final class CorpusSweep(spark: SparkSession, seed: Long, sizes: Sizes)
    extends CorpusWorkload(spark, seed, sizes) {
  val name = "corpus_sweep"
  def entries: Seq[(String, QueryDef)] = Fixtures.corpusEntries(Seq(
    "q07_join3_rollup", "q11_rank_window", "q02b_approx_distinct",
    "q21b_asof_join_native", "q22_band_join", "q144_session_window",
    "q45_bpe_tokens", "q31_fingerprint", "q91_unicode_nfc", "q81_heavy_hitters",
    "q57_dedup_clusters", "q68_cluster_dedup_lsh", "q37_ann_bruteforce",
    "q67_ann_ivfpq", "q41_salted_agg", "q94_pagerank", "q39_sessionize",
    "q127_triangle_count", "q127b_triangle_sample", "q135_kcore"))
}

/** Every query layer in one closed loop: the 12 KPIs, the route-deviation
  * alert gate (the paper's real-time alert path) and one corpus entry per
  * module: dedup (a connected-components fixpoint), sim, text, plans,
  * functions. */
final class MixedQueries(spark: SparkSession, seed: Long, sizes: Sizes)
    extends EntryWorkload(spark, seed, sizes) {
  val name = "mixed_queries"
  private var dir: String = _
  def tablesDir: String = dir
  private def config = Fixtures.fleet(seed, sizes.kpiTrips)

  def build(d: String): Unit = {
    datagenS = Workload.timed(Fixtures.oltp(spark, config, s"$d/oltp"))._2
    // its entries read documents, embeddings and events only
    dir = Fixtures.corpus(spark, seed, sizes, s"$d/corpus", relational = false)
  }

  def entries: Seq[(String, QueryDef)] = Fixtures.kpis ++
    Fixtures.gates.filter { case (_, q) =>
      q.name == "st_route_deviation_alerts" } ++
    Fixtures.corpusEntries(Seq("q57_dedup_clusters", "q37_ann_bruteforce",
      "q45_bpe_tokens", "q21b_asof_join_native", "q91_unicode_nfc"))

  def header: Map[String, Any] = Map("datagen" -> Map("seed" -> seed,
    "nTrips" -> config.nTrips,
    "nDrivers" -> config.nDrivers, "nVehicles" -> config.nVehicles,
    "asOfDate" -> config.asOfDate),
    "corpus" -> Fixtures.corpusHeader(seed, sizes, relational = false))
}
