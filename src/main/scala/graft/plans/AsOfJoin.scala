package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed left as-of join (point-in-time lookup).
  *
  * For each left row, attaches the latest right row whose `rightTime <=
  * leftTime` within the same equality-key group — the semantics of the
  * reference's SCD2 point-in-time fact key resolution
  * (reference: scripts/05_etl_pipeline/etl_pipeline.py:1144-1158,
  * `fact.date BETWEEN dim.valid_from AND dim.valid_to`) and of
  * streaming "latest state at event time" lookups.
  *
  * Implementation is union + running `last` over a key-partitioned
  * window rather than a non-equi join: Spark would execute
  * `l.t BETWEEN r.from AND r.to` as a BroadcastNestedLoopJoin (O(n·m)
  * per key) — fine for a broadcast dim, catastrophic for a 100 TB fact
  * against a large right side. The union approach costs exactly ONE
  * shuffle of both sides on the key columns and a per-partition sort —
  * the same cost profile as a sort-merge join — and never materializes
  * the cross product. Right-side payload is packed in a struct so
  * `last(_, ignoreNulls=true)` carries forward the whole latest right
  * row (including its legitimately-null fields).
  *
  * Nulls follow SQL `=` / `<=`: a null key or null time matches
  * nothing. Right rows with a null key or a null `rightTime` are
  * dropped before the union; otherwise the window would group a null
  * left key with null right keys, and a null right time (sorting first)
  * would be carried forward to every later left row of its key. Left
  * rows with a null key or time keep null payloads, as no right row can
  * precede them.
  */
object AsOfJoin {

  /** @param keys       equality join columns (same names both sides)
    * @param leftTime   event-time column on `left`
    * @param rightTime  event-time column on `right`
    * @param rightCols  right payload columns to attach (null when no
    *                   right row is ≤ leftTime)
    * @param tieBreak   optional right column ordering the winner among
    *                   right rows sharing the same timestamp (latest wins)
    */
  def apply(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightCols: Seq[String],
      tieBreak: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val t = "__asof_t"
    val side = "__asof_side"
    val tb = "__asof_tb"
    val payload = "__asof_payload"

    val l = left
      .withColumn(t, col(leftTime))
      .withColumn(side, lit(1))
      .withColumn(tb, lit(null).cast("long"))
      .withColumn(payload,
        lit(null).cast(right.select(rightCols.map(col): _*).schema))

    val r = right
      .filter((keys :+ rightTime).map(col(_).isNotNull).reduce(_ && _))
      .withColumn(t, col(rightTime))
      .withColumn(side, lit(0))
      .withColumn(tb, tieBreak.map(col(_).cast("long")).getOrElse(lit(0L)))
      .select((keys.map(col) :+ col(t) :+ col(side) :+ col(tb) :+
        struct(rightCols.map(col): _*).as(payload)): _*)

    val unioned = l.unionByName(r, allowMissingColumns = true)

    // Right rows sort BEFORE left rows at equal timestamps (side 0 < 1)
    // so `rightTime == leftTime` matches (the `<=` contract).
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(t).asc, col(side).asc, col(tb).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = unioned
      .withColumn(payload, last(col(payload), ignoreNulls = true).over(w))
      .filter(col(side) === 1)

    val leftCols = left.columns.map(col)
    val outCols = leftCols ++ rightCols.map(c => col(s"$payload.$c").as(c))
    matched.select(outCols: _*)
  }
}
