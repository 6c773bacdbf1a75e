package graft.etl

import java.sql.Timestamp
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

import graft.sources.Lake

/** `load_logs` audit rows (G10, ref 01_data_generation.py:42-72): one
  * row per table a batch writes, with that step's own start and end
  * time, rows written and outcome. The rows are collected while the
  * batch runs and written as one file at its end, so the audit trail
  * costs one small write per batch, not one per table. */
object LoadLog {

  /** One logged write of a batch: the table it writes, and the write,
    * which returns the rows it wrote. */
  final case class Step(table: String, run: () => Long)

  /** The step that writes `df` to `table` through `write`, its rows
    * counted by the write itself ([[Lake.writeCounted]]). */
  def write(table: String, df: DataFrame)(write: DataFrame => Unit): Step =
    Step(table, () => Lake.writeCounted(df)(write))

  /** Run a batch's `steps` concurrently, each on its own thread of a
    * pool made for the batch, then append one row per step to
    * `<dir>/load_logs` as one file — also when a step failed. Returns
    * the rows each step wrote.
    *
    * Each thread carries the caller's Spark thread-locals (job group,
    * job description, active session), so a caller's job group covers
    * and can cancel every step. Every step runs to its end, whether or
    * not another fails: a failed step is logged `failed` with its
    * message, and the first failure in step order is rethrown with the
    * others attached as suppressed. A failure of the log write never
    * hides a step's exception: it is attached to it as suppressed.
    * Rows are logged in step order, however the steps interleave. */
  def batch(spark: SparkSession, dir: String, processName: String => String)(
      steps: Seq[Step]): Map[String, Long] = {
    def now = new Timestamp(System.currentTimeMillis())
    val pool = Executors.newFixedThreadPool(math.max(1, steps.size))
    val outcomes = try {
      val running = steps.map { s =>
        SQLExecution.withThreadLocalCaptured(castToImpl(spark), pool) {
          val start = now
          val outcome = try Right(s.run()) catch { case e: Throwable => Left(e) }
          val row = outcome.fold(
            e => Row(processName(s.table), s.table, 0L, start, now, "failed", e.toString),
            n => Row(processName(s.table), s.table, n, start, now, "success", null))
          (row, outcome)
        }
      }
      running.map(_.join())
    } finally pool.shutdown()

    val failure = outcomes.collect { case (_, Left(e)) => e } match {
      case first +: rest => rest.foreach(first.addSuppressed); Some(first)
      case _ => None
    }
    try {
      if (outcomes.nonEmpty)
        spark.createDataFrame(outcomes.map(_._1).asJava, Schemas.loadLogs)
          .coalesce(1).write.mode("append").parquet(s"$dir/load_logs")
    } catch { case NonFatal(e) if failure.nonEmpty => failure.get.addSuppressed(e) }
    failure.foreach(e => throw e)
    steps.zip(outcomes).collect { case (s, (_, Right(n))) => s.table -> n }.toMap
  }
}
