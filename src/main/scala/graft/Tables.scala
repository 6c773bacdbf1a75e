package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided TPC-H-ish parquet tables (TESTDATA.md).
  *
  * Every query entry point receives an `sfDir` (e.g. /root/testdata/sf0.01)
  * and reads only through here, so filter/column pushdown reaches the
  * parquet scan unimpeded and the storage layout can later change (date
  * partitioning, bucketing) without touching query code.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")

  /** `events.ts` has shipped in two physical schemas across driver
    * regenerations: TIMESTAMP(NANOS) (which Spark can only read as a raw
    * ns long, under the legacy conf [[GraftSession]] sets) and
    * TIMESTAMP(MICROS, NTZ). Branch on
    * the schema actually loaded so either layout works:
    *   - LongType        → floor-convert ns→µs with integer division
    *                       (`ts/1000` in double loses precision; ns epochs
    *                       exceed 2^53)
    *   - TimestampNTZType → cast to session-TZ TimestampType (Verify runs
    *                       with session TZ = UTC, matching the oracle)
    *   - TimestampType   → use as-is
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts: unexpected parquet-mapped type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")

  /** `embeddings.embedding` must reach the vector kernels as
    * `array<float>` (FloatVecDot's input contract). The driver has
    * only ever shipped float32, but a regeneration to float64 would —
    * like the events ns→µs drift once did — silently change
    * the physical schema; normalize on load so the whole sim/ surface
    * keeps working either way. */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val raw = apply(s, d, "embeddings")
    raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => raw
      case ArrayType(_, _) =>
        raw.withColumn("embedding", col("embedding").cast("array<float>"))
      case other => throw new IllegalStateException(
        s"embeddings.embedding: unexpected type $other")
    }
  }
}

/** One verifiable operator: a Spark implementation plus (optionally) the
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet.
  * `oracle == None` → driver records a weaker rows-only check (used for
  * operators whose hashing/sketching is engine-specific, e.g. MinHash).
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
  def rowsOnly(name: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, None)
}
