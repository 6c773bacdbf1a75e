package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the counters of its measured
  * calls. Counts and busy times are per pass (a pass of `daily_etl` is
  * one day); per-entry times are medians over the run. A metric whose
  * layer the workload does not reach reads 0. */
object Layers {
  val etlTables = Seq("fact_deliveries", "report_driver_totals",
    "report_route_totals", "staging_daily_load", "dim_date", "dim_time",
    "dim_route", "dim_customer", "dim_vehicle", "dim_driver", "load_logs")
  val families = Seq("relational", "temporal", "text", "similarity", "advanced")
  val fixpoints = Seq("q127_triangle_count", "q127b_triangle_sample",
    "q135_kcore", "q57_dedup_clusters", "q68_cluster_dedup_lsh")

  import PerfBench.{median, quantile}

  /** Warehouse table an output path belongs to: `<wh>/<table>[__tmp]`
    * or `<wh>/snapshots/<day>/<table>`. */
  private def tableOf(path: String): Option[String] = {
    val i = path.lastIndexOf("/warehouse/")
    if (i < 0) None else {
      val seg = path.substring(i + "/warehouse/".length).split("/")
      val t = if (seg(0) == "snapshots" && seg.length > 2) seg(2) else seg(0)
      Some(t.stripSuffix("__tmp"))
    }
  }

  private def wallAndBusy(s: Span): (Double, Double) = {
    val endMs = s.startMs + (s.endNs - s.startNs) / 1000000L
    (s.seconds, s.counters.jobBusyMs(s.startMs, endMs) / 1e3)
  }

  def apply(w: Workload, passes: Seq[(Span, Seq[PerfBench.Done])], floorS: Double,
      cpus: Int, warehouseFiles: Int): Map[String, Map[String, Any]] = {
    val out = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    def put(k: String, v: Double, unit: String): Unit =
      out(k) = Map("value" -> v, "unit" -> unit)
    val calls = passes.flatMap(_._2)
    val cs = calls.map(_.span.counters)
    val n = math.max(1, passes.size).toDouble
    def per(f: Counters => Double): Double = cs.map(f).sum / n
    def entryS(name: String): Double =
      median(calls.filter(d => d.call.name == name && d.error.isEmpty).map(_.span.seconds))

    // Spark runtime: scheduler, planner, executors
    val jobs = per(_.jobs.size.toDouble)
    put("spark.jobs", jobs, "count")
    put("spark.job_floor_s", floorS, "s")
    put("spark.floor_s", jobs * floorS, "s")
    put("spark.driver_s", calls.map { d =>
      val (wall, busy) = wallAndBusy(d.span); wall - busy }.sum / n, "s")
    put("sql.plan_s", per(_.planMs / 1e3), "s")
    put("sql.actions", per(_.sqlActions.toDouble), "count")
    put("spark.tasks", per(_.tasks.toDouble), "count")
    val runS = per(_.runMs / 1e3)
    put("spark.exec_run_s", runS, "s")
    put("spark.exec_cpu_s", per(_.cpuNs / 1e9), "s")
    val passWall = passes.map(_._1.seconds).sum / n
    put("spark.core_util", if (passWall > 0) runS / (passWall * cpus) else 0.0, "ratio")

    // scan and shuffle
    val scanMin = cs.map(_.scanTasksMin).filter(_ != Int.MaxValue)
    put("scan.tasks_min", if (scanMin.isEmpty) 0.0 else scanMin.min.toDouble, "count")
    put("scan.bytes", per(_.scanBytes.toDouble), "bytes")
    put("scan.rows", per(_.scanRows.toDouble), "rows")
    put("shuffle.write_bytes", per(_.shuffleWrite.toDouble), "bytes")
    put("shuffle.read_bytes", per(_.shuffleRead.toDouble), "bytes")
    put("shuffle.fetch_wait_s", per(_.fetchWaitMs / 1e3), "s")
    put("spill.disk_bytes", per(_.spillDisk.toDouble), "bytes")

    // etl and sources.Lake
    val writes = mutable.Map.empty[String, Array[Double]]
    cs.foreach(_.writes.foreach { case (path, a) =>
      tableOf(path).foreach { t =>
        val acc = writes.getOrElseUpdate(t, Array(0.0, 0.0, 0.0, 0.0))
        a.indices.foreach(i => acc(i) += a(i))
      }
    })
    val etl = w match { case d: DailyEtl => Some(d); case _ => None }
    put("etl.day_s", if (etl.isDefined) entryS("etl_day") else 0.0, "s")
    etlTables.foreach(t =>
      put(s"etl.write_s.$t", writes.get(t).map(_(0)).getOrElse(0.0) / n, "s"))
    put("etl.fact_rows", writes.get("fact_deliveries").map(_(3)).getOrElse(0.0) / n, "rows")
    put("lake.bytes_written", writes.values.map(_(1)).sum / n, "bytes")
    put("lake.files_written", writes.values.map(_(2)).sum / n, "count")
    put("lake.warehouse_files", warehouseFiles.toDouble, "count")
    // the first day loads into an empty warehouse
    put("etl.bootstrap_s", if (etl.isDefined) calls.head.span.seconds else 0.0, "s")
    put("etl.datagen_s", w.datagenS, "s")
    PerfBench.kpiNames.foreach(q => put(s"kpi.query_s.$q", entryS(q), "s"))

    // the corpus registries: operators, dedup, sim, text, plans, functions
    families.foreach(f => put(s"corpus.family_s.$f",
      calls.filter(_.call.family == f).map(_.span.seconds).sum / n, "s"))
    fixpoints.foreach(q => put(s"corpus.entry_s.$q", entryS(q), "s"))

    // streaming: per trigger, and state at each query's last trigger
    val trig = cs.flatMap(_.triggers)
    put("stream.triggers", trig.size / n, "count")
    put("stream.trigger_p50_ms", median(trig.map(_.triggerMs.toDouble)), "ms")
    put("stream.trigger_p90_ms", quantile(trig.map(_.triggerMs.toDouble), 0.9), "ms")
    put("stream.plan_ms", median(trig.map(_.planMs.toDouble)), "ms")
    put("stream.add_batch_ms", median(trig.map(_.addBatchMs.toDouble)), "ms")
    put("stream.wal_ms", median(trig.map(_.walMs.toDouble)), "ms")
    put("stream.input_rows", trig.map(_.inputRows).sum / n, "rows")
    val lastOfQuery = trig.groupBy(_.query).values.map(_.last)
    put("stream.state_rows", lastOfQuery.map(_.stateRows).sum / n, "rows")
    put("stream.state_bytes", lastOfQuery.map(_.stateBytes).sum / n, "bytes")
    PerfBench.gateNames.foreach(g => put(s"stream.gate_s.$g", entryS(g), "s"))
    out.toMap
  }

  /** Spans as written to the artifact. Self time is a span's duration
    * less what its children cover: for a call, its children are the Spark
    * jobs it ran, so a call's self time is the driver's share. */
  def spans(all: Seq[Span]): Seq[Map[String, Any]] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val (wall, busy) = wallAndBusy(s)
      val self = kids.get(s.id) match {
        case Some(ch) => wall - ch.map(_.seconds).sum
        case None => wall - busy
      }
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "group" -> s.group, "start_ms" -> s.startMs, "seconds" -> wall,
        "self_s" -> self, "jobs" -> s.counters.jobs.size, "job_busy_s" -> busy)
    }
  }
}
