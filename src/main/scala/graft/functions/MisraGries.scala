package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters sketch as a mergeable aggregate: at most
  * `k` counters; evaluates to `array<struct<item: string, cnt: long>>`
  * sorted by count descending, item ascending.
  *
  * Guarantees (the classic frequent-items bounds, and what the
  * property spec pins):
  *  - every item with true frequency > N/(k+1) is IN the output
  *    (candidate-superset guarantee — no heavy hitter is ever lost);
  *  - each reported `cnt` is a LOWER bound on the true frequency,
  *    under-counting by at most N/(k+1);
  *  - when the number of distinct items is ≤ k the sketch never
  *    evicts, so counts are EXACT (how the gate query stays
  *    DuckDB-oracle-checkable on the bounded-vocabulary corpus).
  *
  * Merge is Agarwal et al.'s mergeable-summaries rule: add counters
  * pairwise, and if more than `k` survive, subtract the (k+1)-th
  * largest count from every counter and drop the non-positive ones —
  * associative, commutative, and the error bound telescopes. That is
  * what makes this a ONE-PASS distributed plan: map-side partial
  * sketches (bounded k state per group per partition) shuffle as
  * k-sized summaries, never as the token stream.
  *
  * The 100 TB pattern this enables (q81): sketch → candidate set →
  * broadcast semi-join → EXACT recount of candidates only → exact
  * top-k frequent items, with every corpus-sized stage scan-shaped.
  */
case class MisraGries(
    item: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k > 0, s"misra_gries: k must be positive, got $k")

  override def children: Seq[Expression] = Seq(item)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("cnt", LongType))))

  override def checkInputDataTypes(): TypeCheckResult =
    if (item.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"misra_gries requires a string item, got ${item.dataType.catalogString}")

  override def prettyName: String = "misra_gries"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  /** Decrement-all eviction, batched: subtracting the minimum count
    * empties at least one slot (amortized O(1) decrements per
    * insertion, O(k) slot scans only on overflow). */
  private def insert(buf: mutable.HashMap[String, Long], key: String, n: Long): Unit = {
    buf.get(key) match {
      case Some(c) => buf(key) = c + n
      case None if buf.size < k => buf(key) = n
      case None =>
        val dec = math.min(n, buf.valuesIterator.min)
        val dead = buf.iterator.collect { case (i, c) if c <= dec => i }.toList
        buf.mapValuesInPlace((_, c) => c - dec)
        dead.foreach(buf.remove)
        if (n > dec) insert(buf, key, n - dec)
    }
  }

  override def update(
      buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val it = item.eval(input)
    if (it != null) insert(buf, it.asInstanceOf[UTF8String].toString, 1L)
    buf
  }

  override def merge(
      a: mutable.HashMap[String, Long],
      b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (i, c) => a(i) = a.getOrElse(i, 0L) + c }
    if (a.size > k) {
      // subtract the (k+1)-th largest count; ≤ k strictly-positive remain
      val cut = a.values.toArray.sortBy(-_).apply(k)
      val dead = a.iterator.collect { case (i, c) if c <= cut => i }.toList
      a.mapValuesInPlace((_, c) => c - cut)
      dead.foreach(a.remove)
    }
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toArray.sortBy { case (i, c) => (-c, i) }
    new GenericArrayData(sorted.map { case (i, c) =>
      InternalRow(UTF8String.fromString(i), c)
    })
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (i, c) =>
      val bytes = i.getBytes(StandardCharsets.UTF_8)
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) {
      val len = in.getInt
      val b = new Array[Byte](len)
      in.get(b)
      buf(new String(b, StandardCharsets.UTF_8)) = in.getLong
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGries =
    copy(item = newChildren(0))
}

object MisraGries {

  /** SQL `misra_gries(item, k)`, `k` an integer literal. */
  val function = new NativeFunction("misra_gries", classOf[MisraGries], 2)({ exprs =>
    val k = exprs(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"misra_gries: k must be an integer literal, got $other")
    }
    MisraGries(exprs.head, k).toAggregateExpression()
  })

  def sketch(spark: SparkSession, item: Column, k: Int): Column =
    function(spark, item, org.apache.spark.sql.functions.lit(k))
}
