package graft

import java.nio.file.{Files, Paths}

import scala.sys.process._

import org.apache.spark.sql.functions.col

/** Contracts of the Verify dump loop itself — the machinery every
  * correctness claim rides on. */
class VerifySpec extends GraftSpec {

  test("restricted dump drops carried failures for entries no longer in the registry (ADVICE r13)") {
    val out = "target/verify-spec-out"
    new java.io.File(out).mkdirs()
    // simulate a failures.json left by an older registry: one stale key
    // (since renamed/removed) and one live entry this run does NOT re-run
    val live = "q02_count_distinct"
    Files.writeString(Paths.get(s"$out/failures.json"),
      s"""{"zz_removed_entry": "AnalysisException: gone", "$live": "stale but live"}""")
    Verify.dump(spark, sf("sf0.001"), out, Set("q01_agg_pricing"))
    val after = Files.readString(Paths.get(s"$out/failures.json"))
    assert(!after.contains("zz_removed_entry"),
      "a failure recorded for a since-removed entry must not be perpetuated")
    assert(after.contains(live),
      "a live entry's failure must still carry when this run didn't re-run it")
    // and the re-run entry succeeded, so it must not appear either
    assert(!after.contains("q01_agg_pricing"))
  }

  test("restricted dump rejects unknown entry names (fail fast, not an empty clean dump)") {
    val e = intercept[IllegalArgumentException] {
      Verify.dump(spark, sf("sf0.001"), "target/verify-spec-out2",
        Set("q999_no_such_entry"))
    }
    assert(e.getMessage.contains("q999_no_such_entry"))
  }

  test("tools/check.py fails recorded Verify failures and changed values, and counts only what it compared") {
    val out = tempDir("verify-check")
    val dumped = Seq("q01_agg_pricing", "q02_count_distinct")
    Verify.dump(spark, sf("sf0.001"), out, dumped.toSet)
    def check(dir: String): (Int, String) = {
      val log = new StringBuilder
      val line: String => Unit = l => log.synchronized(log.append(l).append('\n'))
      val code = Seq("python3", "tools/check.py", sf("sf0.001"), dir)
        .!(ProcessLogger(line, line))
      (code, log.toString)
    }

    // a clean restricted dump: the closing line counts the two entries
    // compared, not the 190 keys of its oracle_sql.json
    val (clean, cleanLog) = check(out)
    assert(clean == 0, cleanLog)
    assert(cleanLog.linesIterator.exists(_.startsWith("== 0 failures; 2 oracle-compared,")), cleanLog)

    // an entry Verify recorded as thrown has no dump directory and fails
    val thrown = "q03_conditional_agg"
    Files.writeString(Paths.get(s"$out/failures.json"),
      s"""{"$thrown": "AnalysisException: boom"}""")
    val (failed, failedLog) = check(out)
    assert(failed == 1, failedLog)
    assert(failedLog.linesIterator.exists(_.startsWith(s"  $thrown: FAIL (Verify: AnalysisException")),
      failedLog)

    // a dumped value changed
    val changed = tempDir("verify-check-changed")
    val name = dumped.head
    spark.read.parquet(s"$out/$name").withColumn("count_order", col("count_order") + 1)
      .coalesce(1).write.parquet(s"$changed/$name")
    Files.copy(Paths.get(s"$out/oracle_sql.json"), Paths.get(s"$changed/oracle_sql.json"))
    val (mismatch, mismatchLog) = check(changed)
    assert(mismatch == 1, mismatchLog)
    assert(mismatchLog.linesIterator.exists(_.startsWith(s"  $name: FAIL")), mismatchLog)
  }
}
