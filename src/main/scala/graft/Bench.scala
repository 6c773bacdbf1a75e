package graft

/** Benchmark main (driver contract): runs every registered query on
  * SPARK_GRAFT_SF_DIR, prints one JSON line with per-query seconds.
  *
  * Per-query timing forces full materialization with a count over the
  * finished plan (the result sets are small — top-k/aggregates — so
  * count ≈ execute; write-out cost is excluded deliberately, matching
  * how the reference measures query latency with EXPLAIN ANALYZE,
  * scripts/03_optimization_indexes.sql:7-8).
  *
  * Methodology vs the DuckDB baseline (tools/baseline_duckdb.py,
  * median of 3): each entry runs once warm (file listing, page cache,
  * codegen compile, plan cache) and then three measured passes; the
  * reported time is the MEDIAN of the three — the same statistic the
  * DuckDB side reports, so the ratio is symmetric (advice r4: the
  * earlier min-of-2 systematically favored Spark). Local-mode Spark
  * additionally pays a fixed per-job scheduling cost that a
  * 1000-executor deployment amortizes across long-running stages, so
  * the output also carries a measured empty-job `floor` (median of 11
  * trivial jobs over a cached 1-row frame) and `value_adjusted` =
  * Σ max(0, t − floor) — the work-proportional total. Raw `value`
  * remains the headline number.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // optional args: entry names to restrict the run to (driver passes
    // none → full run); unknown names fail fast like Verify's
    val only = args.toSet
    val unknownNames = only -- SparkEntry.queries.keySet
    require(unknownNames.isEmpty,
      s"unknown entry name(s): ${unknownNames.toSeq.sorted.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-bench")
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOG_LEVEL", "ERROR"))

    // Stress-run observability: per-query shuffle-spill deltas from task
    // metrics, so a bigger-SF run reports WHAT spilled instead of a
    // guess. Listener-bus posting is async, so attribution can bleed a
    // few tasks into a neighbor entry — fine for a diagnostic note.
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
          }
        }
      })

    // JVM/codegen warmup on the flagship query so the first measured
    // query doesn't absorb one-time JIT + classload cost
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // Materialize the FleetLogix OLTP parquet + memoized ETL outside the
    // timed region: fl_etl_* entries then measure the query, not a
    // datagen→dims→SCD2→fact pipeline build masquerading as one.
    // Skipped when a name filter selects no fl_* entry — a targeted
    // corpus-query rerun should not pay the fleet warehouse build.
    if (only.isEmpty || only.exists(_.startsWith("fl_")))
      try operators.FleetOps.warmup(spark) catch { case _: Throwable => () }

    // empty-job floor: per-job scheduling cost of this local session
    val probe = spark.range(1).toDF("x").cache()
    probe.count()
    val floorSamples = (0 until 11).map { _ =>
      val t0 = System.nanoTime(); probe.count(); (System.nanoTime() - t0) / 1e9
    }.sorted
    val floor = floorSamples(floorSamples.length / 2)

    // why an entry's last failed pass failed, for the artifact's detail
    val errors = scala.collection.mutable.Map.empty[String, String]
    def timeOnce(q: QueryDef): Double = {
      val t0 = System.nanoTime()
      try q.fn(spark, sfDir).count() catch { case e: Throwable =>
        errors(q.name) = Verify.describe(e)
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    val results = SparkEntry.allDefs
      .filter(q => only.isEmpty || only(q.name))
      .map { q =>
      val warm = timeOnce(q)
      // median of 3 measured passes — the DuckDB baseline's statistic,
      // so both sides of the reported ratio use the same estimator.
      // Any pass may fail transiently (-1 sentinel); the median is
      // taken over the successful passes, falling back to the warm
      // pass, then to -1 as the per-entry failure signal.
      val sm0 = spillMem.get(); val sd0 = spillDisk.get()
      val passes = (0 until 3).map(_ => timeOnce(q))
      val ok = passes.filter(_ >= 0).sorted
      val t =
        if (ok.nonEmpty) ok(ok.length / 2)
        else if (warm >= 0) warm
        else -1.0
      // spill across the 3 measured passes (bytes; 0 = stayed in memory)
      val spills = (spillMem.get() - sm0, spillDisk.get() - sd0)
      (q.name, t, q.oracle.isDefined, warm, passes, spills)
    }
    // per-query -1 stays visible as the failure signal; totals clamp it
    // to 0 so a failed entry can never shrink a headline number
    val qs = results.map { case (k, v, _, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map { case (_, v, _, _, _, _) => math.max(0.0, v) }.sum
    val adjusted = results.map { case (_, v, _, _, _, _) => math.max(0.0, v - floor) }.sum
    // the apples-to-apples subtotal: only entries with a DuckDB oracle
    // (rows-only entries have no baseline counterpart to compare against)
    val oracleMatched = results.collect { case (_, v, true, _, _, _) => math.max(0.0, v) }.sum
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    // a name-filtered run is a SUBSET: label it as such and keep it out
    // of BENCH_FULL.json so a targeted rerun can never overwrite the
    // recorded full-suite baseline or pass a subtotal off as the total
    val metricName = if (only.isEmpty) "total" else "subset"
    val headline = s""""value":${r4(total)},"unit":"sec","floor":${r4(floor)},"value_adjusted":${r4(adjusted)},"value_oracle_matched":${r4(oracleMatched)}"""

    // Full machine-readable artifact: medians, plus the per-pass raw
    // times that make a contended session detectable (a clean session
    // has tight pass spreads; a noisy one shows outlier passes). Written
    // to a FILE because the driver only captures a bounded stdout tail.
    // The artifact's detail also names each failed pass's exception; the
    // contract line printed below keeps the detail without it.
    def fullJson(withErrors: Boolean) = {
      val detail = results.map { case (k, v, _, warm, passes, (sm, sd)) =>
        val spill = if (sm > 0 || sd > 0) s""","spill_mem":$sm,"spill_disk":$sd""" else ""
        val error = errors.get(k).filter(_ => withErrors)
          .map(e => s""","error":${Verify.json.writeValueAsString(e)}""").getOrElse("")
        s""""$k":{"t":$v,"warm":$warm,"passes":[${passes.mkString(",")}]$spill$error}"""
      }.mkString("{", ",", "}")
      s"""{"metric":"$metricName",$headline,"floor_samples":[${floorSamples.map(r4).mkString(",")}],"queries":$qs,"detail":$detail,"sf":"$sfDir"}"""
    }
    // SPARK_GRAFT_BENCH_OUT redirects the artifact so an off-SF stress
    // run can never overwrite the recorded sf0.1 full-suite baseline
    val outFile = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isEmpty) "BENCH_FULL.json" else "BENCH_PARTIAL.json"))
    val w = new java.io.PrintWriter(outFile, "UTF-8")
    try w.println(fullJson(withErrors = true)) finally w.close()

    spark.stop()
    // contract line (full per-query map) first, then a SHORT headline
    // line LAST: the driver keeps only the final ~2KB of stdout, and the
    // 85-entry query map alone overflows that — the closing line always
    // fits, parses on its own, and points at the full artifact.
    println(fullJson(withErrors = false))
    // the compact map keeps the closing line inside the captured tail:
    // the 12 reference KPI queries are the contract's headline set; the
    // full ~200-entry map lives in queries_file (the full line above
    // overflows any bounded tail by construction)
    val kpiQs = results.collect { case (k, v, _, _, _, _) if k.startsWith("fl_q") =>
      "\"" + k + "\":" + r4(v)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"$metricName",$headline,"queries":$kpiQs,"queries_file":"${outFile.getAbsolutePath}","sf":"$sfDir"}""")
  }
}
