package graft
import java.io.File
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional trailing args: entry names to restrict the dump to
    // (driver passes none → full dump)
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val spark = GraftSession("graft-verify")
    // optional session-conf injection (e.g. forcing the q127 wedge-
    // budget dispatch for a restated-oracle differential dump):
    // SPARK_GRAFT_CONF="k=v;k2=v2"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Reads and writes the dump's JSON maps (oracle_sql.json,
    * failures.json); shared with tools.SplitFuzz, which rewrites a dump's
    * oracle_sql.json, and Bench, which records why a pass failed. */
  private[graft] val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A thrown entry as failures.json and Bench's artifact record it. */
  private[graft] def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"

  /** The dump loop behind [[main]], session-reusable (tools.Fuzz runs
    * it once per generated corpus inside one session). */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           only: Set[String]): Unit = {
    // a typo'd entry name would otherwise dump nothing and read as a
    // clean (empty) verify — fail fast instead (advice r6)
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown entry name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    spark.sparkContext.setLogLevel("WARN")
    new File(outDir).mkdirs()
    // A thrown entry must leave a visible trace: r7's events schema break
    // made 11 entries silently ABSENT from the dump and the round's
    // correctness JSON recorded zero failures. Collect every failure and
    // write failures.json alongside the dumps.
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        failures(name) = describe(e)
      }
    }
    json.writeValue(new File(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql)
    // A RESTRICTED dump must not hide failures a previous full dump of
    // this dir recorded for entries it didn't re-run: carry forward the
    // existing map's other entries, drop ones this run re-ran and ones no
    // longer in the registry (a failure recorded for a since-renamed or
    // removed entry would otherwise be perpetuated by every restricted
    // dump forever), add this run's failures.
    val failuresFile = new File(s"$outDir/failures.json")
    val carried: Map[String, String] =
      if (only.isEmpty || !failuresFile.exists) Map.empty
      else json.readValue(failuresFile, classOf[Map[String, String]])
        .filterNot { case (k, _) => only(k) || !SparkEntry.queries.contains(k) }
    json.writeValue(failuresFile, carried ++ failures)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} entries FAILED: " +
        failures.keys.mkString(", "))
  }
}
