package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.{Failure, Success}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.operators.{FleetOps, StreamingOps}

/** One workload run: set-up, a measured closed loop of `--seconds`, an
  * output check off the clock, and a JSON artifact with the run header,
  * the end-to-end metrics and, with `--trace 1`, the per-layer metrics
  * and spans.
  *
  * Usage: perfbench.PerfBench --workload NAME --seed N --seconds S
  *          --trace 0|1 --work DIR --out FILE [--tiny] [--passes N]
  *          [--sha SHA]
  *
  * `--passes N` runs exactly N passes instead of as many as fit in
  * `--seconds` (at least one).
  */
object PerfBench {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, out: String, tiny: Boolean,
      passes: Option[Int], sha: String)

  private def parse(args: Array[String]): Opts = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "tiny") { kv(k) = "1"; i += 1 }
      else { require(i + 1 < args.length, s"--$k needs a value"); kv(k) = args(i + 1); i += 2 }
    }
    def need(k: String) = kv.getOrElse(k, sys.error(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"), kv.contains("tiny"),
      kv.get("passes").map(_.toInt), kv.getOrElse("sha", "unknown"))
  }

  private[perfbench] def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile; 0 for no samples. */
  private[perfbench] def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  private def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else if (f.isFile) Seq(f) else Nil

  /** Waits until the JIT compilers have finished nothing new for half a
    * second, or 5 s at most. */
  private def quiesceJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) {
      val end = System.nanoTime() + 5000000000L
      var last = jit.getTotalCompilationTime
      var idle = 0
      while (idle < 2 && System.nanoTime() < end) {
        Thread.sleep(250)
        val now = jit.getTotalCompilationTime
        idle = if (now == last) idle + 1 else 0
        last = now
      }
    }
  }

  final case class Done(span: Span, call: Call, error: Option[Throwable],
      rows: Option[Int])

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workload.names.contains(o.workload),
      s"unknown workload ${o.workload} (one of ${Workload.names.mkString(", ")})")
    val work = new File(o.work).getAbsoluteFile
    work.mkdirs()
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark, o.trace)
    val sizes = if (o.tiny) Sizes.tiny else Sizes.standard
    val w = Workload(o.workload, spark, o.seed, sizes)
    val failures = mutable.ArrayBuffer.empty[Map[String, String]]
    def fail(where: String, e: Throwable): Unit =
      failures += Map("call" -> where, "class" -> e.getClass.getName,
        "message" -> String.valueOf(e.getMessage).take(500))

    // set-up: the seeded inputs. There is no warm-up pass: the measured
    // pass is the first one of this JVM, as for a freshly started
    // process, and a cold pass (15-35 s on a 4-core box) leaves no room
    // for a second within the run budget. Set-up runs once for the same
    // reason.
    val fixture = new File(work, "fixture")
    val buildS = Workload.timed(w.build(fixture.getPath))._2
    val setupS = sessionS + buildS

    // heap still live: a collection, a pause for Spark's cleaner to drop
    // the blocks the first one orphaned, then another
    def settle(): Long = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    // the first pass starts without the set-up's garbage and without the
    // background work set-up leaves, which would compete with it for the
    // cores: Spark's cleaner dropping what the collections orphaned, and
    // the JIT compiling what set-up made hot
    settle()
    val quiesceS = Workload.timed(quiesceJit())._2

    // the measured closed loop: whole passes until the time is up
    val root = tracer.begin(w.name, -1)
    val passes = mutable.ArrayBuffer.empty[(Span, Seq[Done])]
    val last = mutable.LinkedHashMap.empty[String, (Call, Result)]
    val warehouseFiles = mutable.ArrayBuffer.empty[Int]
    val heap = new HeapPeak
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    def more = o.passes match {
      case Some(n) => passes.size < n
      case None => passes.isEmpty || System.nanoTime() < deadline
    }
    while (more) {
      heap.arm()
      val p = tracer.begin(s"pass${passes.size}", root.id)
      val done = w.pass().map { c =>
        val (s, r) = tracer.call(c.name, p.id)(c.run())
        r match {
          case Success(res) => res.foreach(x => last(c.name) = (c, x))
          case Failure(e) => fail(c.name, e)
        }
        Done(s, c, r.failed.toOption, r.toOption.flatten.map(_.rows.length))
      }
      passes += ((tracer.end(p), done))
      heap.disarm()
      w match {
        case d: DailyEtl if o.trace => warehouseFiles += files(new File(d.warehouse)).size
        case _ => ()
      }
      heap.record(settle())
    }
    tracer.end(root)
    heap.close()
    org.apache.spark.BusDrain(spark.sparkContext)

    // empty-job floor: the per-job scheduling cost of this session,
    // probed after the loop so it does not warm the measured passes
    val floorS = if (!o.trace) 0.0 else {
      val probe = spark.range(1).toDF("x").cache()
      probe.count()
      val s = median((0 until 11).map(_ => Workload.timed(probe.count())._2))
      probe.unpersist()
      s
    }

    // output check, off the clock, once per run
    val checkT0 = System.nanoTime()
    val problems = mutable.ArrayBuffer.empty[String]
    problems ++= scala.util.Try(w.check()).fold(
      e => Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}"), identity)
    // an empty KPI would pass its oracle compare unseen. fl_q02 is the
    // exception: it lists drivers whose licence expires within 30 days,
    // about 1 in 60 drivers, so it is empty at the benchmark's 20 drivers
    problems ++= last.collect { case (name, (_, res)) if kpiNames.contains(name) &&
      name != "fl_q02_expiring_licenses" && res.rows.isEmpty => s"$name returned no rows" }
    val dumpDir = new File(work, "dump")
    rm(dumpDir)
    if (last.nonEmpty) {
      last.foreach { case (name, (_, res)) =>
        spark.createDataFrame(java.util.Arrays.asList(res.rows: _*), res.schema)
          .coalesce(1).write.parquet(new File(dumpDir, name).getPath)
      }
      val oracles = last.values.flatMap { case (c, _) => c.oracle.map(c.name -> _) }.toMap
      json.writeValue(new File(dumpDir, "oracle_sql.json"), oracles)
    }
    val checkS = (System.nanoTime() - checkT0) / 1e9

    val calls = passes.flatMap(_._2)
    val ok = calls.filter(_.error.isEmpty)
    val lat = ok.map(_.span.seconds).toSeq
    val passS = passes.map(_._1.seconds).toSeq
    val triggerMs = tracer.triggers.map(_.triggerMs.toDouble).toSeq
    def m(v: Double, unit: String, n: Int) = Map("value" -> v, "unit" -> unit, "samples" -> n)

    // the contract's metrics: one set for every workload
    val e2e = Map(
      "pass_s" -> m(median(passS), "s", passS.size),
      "setup_s" -> m(setupS, "s", 1),
      "heap_peak_mb" -> m(heap.peakMb, "MB", heap.samples))

    // the same figures under the names users of each layer know
    val failRatio = m((calls.size - ok.size).toDouble / math.max(1, calls.size), "ratio", calls.size)
    val named = Map("fail_ratio" -> failRatio, "setup_s" -> e2e("setup_s"),
      "heap_peak_mb" -> e2e("heap_peak_mb")) ++ (o.workload match {
      case "daily_etl" => Map(
        "etl_day_p50_s" -> m(median(lat), "s", lat.size),
        "etl_catchup_s" -> m(passS.sum, "s", passS.size))
      case "kpi_dashboard" => Map(
        "kpi_refresh_s" -> m(median(passS), "s", passS.size),
        "kpi_query_p50_s" -> m(median(lat), "s", lat.size),
        "kpi_query_p90_s" -> m(quantile(lat, 0.9), "s", lat.size))
      case "stream_alerts" => Map(
        "stream_pass_s" -> m(median(passS), "s", passS.size),
        "stream_trigger_p50_ms" -> m(median(triggerMs), "ms", triggerMs.size),
        "stream_trigger_p90_ms" -> m(quantile(triggerMs, 0.9), "ms", triggerMs.size))
      case "corpus_sweep" => Map(
        "corpus_pass_s" -> m(median(passS), "s", passS.size),
        "corpus_entry_p50_s" -> m(median(lat), "s", lat.size),
        "corpus_entry_p90_s" -> m(quantile(lat, 0.9), "s", lat.size))
      case _ => Map.empty
    })

    val layers = if (!o.trace) Map.empty[String, Map[String, Any]]
      else Layers(w, passes.toSeq, floorS, cpus.toInt,
        warehouseFiles.lastOption.getOrElse(0))

    val header = Map(
      "git_sha" -> o.sha,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cpus" -> cpus.toInt,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version,
      "jvm" -> System.getProperty("java.runtime.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "tiny" -> o.tiny, "passes" -> passS.size,
      "build_s" -> buildS, "session_s" -> sessionS, "check_s" -> checkS,
      "jit_quiesce_s" -> quiesceS,
      "warm_up" -> "none: the measured pass is the first pass of this JVM",
      // input parquet files; the ETL's warehouse output is not an input
      "fixture_files" -> (files(fixture) ++ files(new File(w.tablesDir)))
        .map(_.getCanonicalPath).distinct
        .count(p => p.endsWith(".parquet") && !p.contains("/warehouse/")),
      "loop" -> "closed, one client; each call waits for the previous one") ++ w.header

    val artifact = Map(
      "header" -> header,
      "attempted" -> calls.size,
      "failed" -> (calls.size - ok.size),
      "failures" -> failures.toSeq,
      "problems" -> problems.toSeq,
      "end_to_end" -> e2e,
      "named" -> named,
      "per_layer" -> layers,
      "dump" -> (if (last.nonEmpty) dumpDir.getPath else null),
      "tables_dir" -> w.tablesDir,
      "calls" -> passes.zipWithIndex.toSeq.flatMap { case ((_, done), i) =>
        done.map(d => Map("pass" -> i, "name" -> d.call.name, "family" -> d.call.family,
          "seconds" -> d.span.seconds, "ok" -> d.error.isEmpty,
          "rows" -> d.rows.map(Int.box).orNull)) },
      "spans" -> (if (o.trace) Layers.spans(tracer.spans.toSeq) else Nil))
    json.writerWithDefaultPrettyPrinter().writeValue(new File(o.out), artifact)
    spark.stop()
  }

  private lazy val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Names of the per-layer metrics that name an entry or a table; every
    * traced run reports all of them, 0 where its workload has none. */
  def kpiNames: Seq[String] = FleetOps.defs.map(_.name).filter(_.startsWith("fl_q"))
  def gateNames: Seq[String] = StreamingOps.defs.map(_.name)
}
