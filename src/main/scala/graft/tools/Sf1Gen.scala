package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× stress-corpus generator, the input of the scale procedure
  * (PERF.md, "One scale harness"): the driver ships sf{0.001,0.01,0.1}
  * read-only, so a 10× dir is DERIVED from a source dir (sf0.1 gives
  * sf1; chained on its own output, sf1 gives sf10) as ten key-shifted
  * copies per scale-bearing table — every entity key is offset by
  * copy·10^⌈log10(max+1)⌉ (a round decimal stride, so shifted keys
  * never collide and provenance is visible in the digits),
  * with referential integrity preserved across tables (o_custkey moves
  * with c_custkey, lineitem's three FKs with their parents). The
  * nation/region dims pass through unchanged (they are genuinely
  * fixed-cardinality at any scale). Document text gets a per-copy
  * suffix token so exact/near-dup fingerprints stay distinct (a 10×
  * corpus of verbatim copies would degenerate every dedup operator);
  * n_chars is recomputed to stay consistent.
  *
  * The output is a STRESS input, not a correctness reference — but the
  * DuckDB oracle runs on the same derived parquet, so hash-compare
  * stays exact on it.
  *
  * Usage: runMain graft.tools.Sf1Gen [srcDir] [outDir]
  */
object Sf1Gen {
  private val Copies = 10

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("target/sf1.0")
    val spark = graft.GraftSession("graft-sf1gen")
    spark.sparkContext.setLogLevel("WARN")
    val marker = new java.io.File(out, "_SF1_READY")
    if (marker.exists()) { println(s"[sf1gen] $out already built"); return }
    new java.io.File(out).mkdirs()

    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    /** Round decimal stride above the column's max value. */
    def stride(df: DataFrame, c: String): Long = {
      val raw = df.agg(max(col(c))).head().get(0)
      val mx = raw match {
        case null         => sys.error(s"stride: column $c is empty/all-null in ${df.schema.map(_.name).mkString(",")}")
        case n: java.lang.Number => n.longValue()
        case other        => sys.error(s"stride: column $c is non-numeric (${other.getClass.getSimpleName})")
      }
      var s = 1L; while (s <= mx) s *= 10; s
    }

    val kCust = stride(tbl("customer"), "c_custkey")
    val kSupp = stride(tbl("supplier"), "s_suppkey")
    val kPart = stride(tbl("part"), "p_partkey")
    val kOrd = stride(tbl("orders"), "o_orderkey")
    val kEvent = stride(tbl("events"), "event_id")
    val kUser = stride(tbl("events"), "user_id")
    val kDoc = stride(tbl("documents"), "doc_id")
    val kVec = stride(tbl("embeddings"), "vec_id")

    /** Ten copies with the named key columns shifted by copy·stride;
      * `extra` post-processes each copy (doc-text perturbation). */
    def replicate(name: String, shifts: Map[String, Long],
        extra: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = tbl(name)
      val copies = (0 until Copies).map { i =>
        val shifted = shifts.foldLeft(base) { case (df, (c, k)) =>
          df.withColumn(c, col(c) + lit(i * k))
        }
        extra(shifted, i)
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[sf1gen] $name x$Copies written")
    }

    // fixed-cardinality dims pass through
    Seq("region", "nation").foreach { n =>
      tbl(n).write.mode("overwrite").parquet(s"$out/$n.parquet")
      println(s"[sf1gen] $n passed through")
    }
    replicate("customer", Map("c_custkey" -> kCust))
    replicate("supplier", Map("s_suppkey" -> kSupp))
    replicate("part", Map("p_partkey" -> kPart))
    replicate("orders", Map("o_orderkey" -> kOrd, "o_custkey" -> kCust))
    replicate("lineitem", Map("l_orderkey" -> kOrd, "l_partkey" -> kPart,
      "l_suppkey" -> kSupp))
    replicate("events", Map("event_id" -> kEvent, "user_id" -> kUser))
    replicate("documents", Map("doc_id" -> kDoc), (df, i) =>
      // distinct fingerprints per copy; keep copy 0 byte-identical so
      // the planted-dup gates (q89/q90) keep their cluster structure
      (if (i == 0) df
       else df.withColumn("text", concat(col("text"), lit(s" c$i"))))
        .withColumn("n_chars", length(col("text")).cast("int")))
    replicate("embeddings", Map("vec_id" -> kVec))
    marker.createNewFile(): Unit
    spark.stop()
  }
}
