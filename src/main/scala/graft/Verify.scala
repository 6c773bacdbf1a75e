package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
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

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * Shared with tools.SplitFuzz, which rewrites split-dependent oracle
    * SQL and re-serializes the dump's oracle_sql.json. */
  private[graft] def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

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
    new java.io.File(outDir).mkdirs()
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
        failures(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    def q(s: String): String = jsonEscape(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A RESTRICTED dump must not hide failures a previous full dump of
    // this dir recorded for entries it didn't re-run: carry forward the
    // existing map's other entries, drop ones this run fixed, add this
    // run's failures. (Parsing matches the writer below: one-line JSON,
    // string values, escapes produced by q().)
    val carried: Map[String, String] =
      if (only.isEmpty) Map.empty
      else {
        val f = Paths.get(s"$outDir/failures.json")
        if (!Files.exists(f)) Map.empty
        else {
          val re = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
          // sequential unescape (chained replaces double-decode "\\n")
          def unq(s: String): String = {
            val b = new StringBuilder; var i = 0
            while (i < s.length) {
              if (s(i) == '\\' && i + 1 < s.length) {
                s(i + 1) match {
                  case 'n' => b += '\n'; case 'r' => b += '\r'
                  case 't' => b += '\t'
                  case 'u' if i + 5 < s.length =>
                    b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
                    i += 4
                  case other => b += other
                }
                i += 2
              } else { b += s(i); i += 1 }
            }
            b.toString
          }
          // drop keys this run re-ran AND keys no longer in the registry:
          // a failure recorded for a since-renamed/removed entry would
          // otherwise be perpetuated by every restricted dump forever
          re.findAllMatchIn(Files.readString(f))
            .map(m => unq(m.group(1)) -> unq(m.group(2)))
            .filterNot { case (k, _) =>
              only(k) || !SparkEntry.queries.contains(k) }
            .toMap
        }
      }
    val failJson = (carried ++ failures)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} entries FAILED: " +
        failures.keys.mkString(", "))
  }
}
