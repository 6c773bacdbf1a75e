package graft.etl

import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

/** `load_logs` audit rows (G10, ref 01_data_generation.py:42-72): one
  * row per table a batch writes, with that step's own start and end
  * time, rows written and outcome. The rows are collected while the
  * batch runs and written as one file at its end, so the audit trail
  * costs one small write per batch, not one per table. */
final class LoadLog private (processName: String => String) {
  private val rows = mutable.ArrayBuffer.empty[Row]

  /** Run the step that writes `table`; `body` returns its row count. A
    * step that throws is logged `failed` with its message, and the
    * exception is rethrown. */
  def step(table: String)(body: => Long): Long = {
    def now = new Timestamp(System.currentTimeMillis())
    val start = now
    try {
      val n = body
      rows += Row(processName(table), table, n, start, now, "success", null)
      n
    } catch {
      case NonFatal(e) =>
        rows += Row(processName(table), table, 0L, start, now, "failed", e.toString)
        throw e
    }
  }
}

object LoadLog {

  /** Run `steps` with a fresh log, then append its rows to
    * `<dir>/load_logs` as one file — also when a step failed. A failure
    * of that write never hides the step's exception: it is attached to
    * it as suppressed. */
  def batch[T](spark: SparkSession, dir: String, processName: String => String)(
      steps: LoadLog => T): T = {
    val log = new LoadLog(processName)
    var failure: Throwable = null
    try steps(log)
    catch { case e: Throwable => failure = e; throw e }
    finally {
      try {
        if (log.rows.nonEmpty)
          spark.createDataFrame(log.rows.asJava, Schemas.loadLogs)
            .coalesce(1).write.mode("append").parquet(s"$dir/load_logs")
      } catch { case NonFatal(e) if failure != null => failure.addSuppressed(e) }
    }
  }
}
