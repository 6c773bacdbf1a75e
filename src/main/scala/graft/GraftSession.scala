package graft

import org.apache.spark.sql.SparkSession

/** The one place that configures Spark: every `src/main` main and the
  * test suite run on this session, `local[cpus]` with one shuffle
  * partition per cpu, UTC, the UI off, and nanosecond parquet
  * timestamps read as raw longs (`Tables.events` converts them to
  * microseconds). The cpus come from
  * `SPARK_GRAFT_CPUS`, or else every available processor. Callers set
  * their own log level. No session extensions are installed: the native
  * functions (`graft.functions`) register themselves in whichever
  * session a column form or `function.register` is given.
  *
  * Adaptive execution keeps Spark's defaults (on, parallelismFirst).
  * With parallelismFirst=false plus advisory sizing, KB-sized stages
  * coalesced no further, while the compute-heavy small-byte shuffles
  * (the q33 Jaccard block join, the q127 wedge closure, q135's decrement
  * probes) collapsed to one task by size and serialized: q33 0.72→2.07 s,
  * q135 3.6→5.6 s. Per-loop widths stay governed by [[operators.Fixpoint]]. */
object GraftSession {
  def apply(app: String): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
  }
}
