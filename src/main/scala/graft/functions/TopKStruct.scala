package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded top-k aggregate: keeps the k best `(score, item)` pairs by
  * `score DESC, item ASC` and evaluates to that list as
  * `array<struct<score: double, item: string>>`, best first.
  *
  * This is the scale-safe replacement for the
  * `row_number().over(Window.partitionBy(g))` + `filter(rnk <= k)`
  * top-k idiom: a window sorts EVERY row of every group (shuffle and
  * sort ∝ the full input), while this aggregate's state is k slots —
  * map-side partials shrink each group to ≤ k entries per input
  * partition before the exchange, and the post-shuffle merge is
  * O(k²) per group. Runs under ObjectHashAggregateExec (same machinery
  * as `collect_list`, but with a bound on the buffer instead of the
  * whole group).
  *
  * Ordering contract (matches the q64 oracle's
  * `ROW_NUMBER() OVER (ORDER BY score DESC, tok)`): primary score
  * descending with IEEE double comparison via `java.lang.Double
  * .compare` (total order: NaN sorts lowest, -0.0 < 0.0 — identical to
  * Spark's own DoubleType ordering), ties broken by the item's binary
  * UTF-8 order ascending (`UTF8String.compareTo`, the collation Spark
  * and DuckDB both use for raw strings). Null scores/items are
  * dropped, matching window-rank semantics over an inner-joined input.
  */
case class TopKStruct(
    score: Expression,
    item: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[(Double, UTF8String)]] {

  require(k > 0, s"topk_struct: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(score, item)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("item", StringType))))

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType == DoubleType && item.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"topk_struct requires (double, string), got " +
        s"(${score.dataType.catalogString}, ${item.dataType.catalogString})")

  override def prettyName: String = "topk_struct"

  /** `true` iff `a` ranks strictly before `b` (score DESC, item ASC). */
  private def beats(a: (Double, UTF8String), b: (Double, UTF8String)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    if (c != 0) c > 0 else a._2.compareTo(b._2) < 0
  }

  /** Insert keeping `buf` sorted best-first and `buf.length <= k`. */
  private def insert(
      buf: ArrayBuffer[(Double, UTF8String)],
      e: (Double, UTF8String)): Unit = {
    if (buf.length == k && !beats(e, buf(k - 1))) return
    var i = 0
    while (i < buf.length && beats(buf(i), e)) i += 1
    buf.insert(i, e)
    if (buf.length > k) buf.remove(k)
  }

  override def createAggregationBuffer(): ArrayBuffer[(Double, UTF8String)] =
    ArrayBuffer.empty

  override def update(
      buf: ArrayBuffer[(Double, UTF8String)],
      input: InternalRow): ArrayBuffer[(Double, UTF8String)] = {
    val s = score.eval(input)
    val it = item.eval(input)
    if (s != null && it != null)
      // clone: the evaluated UTF8String may point into a reused row buffer
      insert(buf, (s.asInstanceOf[Double], it.asInstanceOf[UTF8String].clone()))
    buf
  }

  override def merge(
      a: ArrayBuffer[(Double, UTF8String)],
      b: ArrayBuffer[(Double, UTF8String)]): ArrayBuffer[(Double, UTF8String)] = {
    b.foreach(insert(a, _))
    a
  }

  override def eval(buf: ArrayBuffer[(Double, UTF8String)]): Any =
    new GenericArrayData(buf.map(e => InternalRow(e._1, e._2)).toArray)

  override def serialize(buf: ArrayBuffer[(Double, UTF8String)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (s, it) =>
      out.writeDouble(s)
      val bytes = it.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Double, UTF8String)] = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt
    val buf = new ArrayBuffer[(Double, UTF8String)](n)
    var i = 0
    while (i < n) {
      val s = in.getDouble
      val len = in.getInt
      val b = new Array[Byte](len)
      in.get(b)
      buf += ((s, UTF8String.fromBytes(b)))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKStruct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKStruct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKStruct =
    copy(score = newChildren(0), item = newChildren(1))
}

object TopKStruct {

  /** SQL `topk_struct(score, item, k)`, `k` an integer literal. */
  val function = new NativeFunction("topk_struct", classOf[TopKStruct], 3)({ exprs =>
    val k = exprs(2) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"topk_struct: k must be an integer literal, got $other")
    }
    TopKStruct(exprs.head, exprs(1), k).toAggregateExpression()
  })

  /** Column form.
    *
    * Leave `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    * at its default. Measured on the 500k-doc / 30M-token q64 curve
    * point: the sort-based fallback is per-MAP-PARTITION (bounded by
    * `maxPartitionBytes`, never a global sort) and still combines to
    * ≤ k rows per group before the exchange, while raising the
    * threshold makes every map task hold an object buffer for ~every
    * group it touches — on hash-scattered high-cardinality input that
    * is ~every group in the dataset per task, concurrently (heap OOM
    * at 4M, slower at 1M + pre-repartition because the exchange then
    * carries the full input instead of the combined ≤ k-per-group
    * partials). */
  def topk(spark: SparkSession, score: Column, item: Column, k: Int): Column =
    function(spark, score, item, org.apache.spark.sql.functions.lit(k))
}
