package graft.sources

import org.apache.spark.sql.functions._
import graft.{GraftSpec, Tables}

class LakeSpec extends GraftSpec {

  test("partitioned layout prunes directories on the partition filter") {
    val dir = tempDir("graft_lake") + "/orders"
    val orders = Tables.orders(spark, sf("sf0.001"))
      .withColumn("order_year", year(col("o_orderdate")))
    Lake.writePartitioned(orders, dir, Seq("order_year"))
    val pruned = spark.read.parquet(dir).filter(col("order_year") === 1995)
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("order_year"))
    assert(p.contains("order_year = 1995") || p.contains("order_year#"), p)
    assert(pruned.count() > 0 && pruned.count() < spark.read.parquet(dir).count())
  }

  test("compaction + manifest pruning: bin count, disjoint extents, pruned scan == full scan (E119)") {
    // build the q153 layout at sf0.01 (multi-file after compaction)
    val d = sf("sf0.01")
    val dir = Lake.optimizedLineitem(spark, d)
    val fs = new java.io.File(dir)
    val dataFiles = fs.listFiles().filter(_.getName.endsWith(".parquet"))
    // bin-packing: the 48-file debris collapses toward ⌈bytes/128 KB⌉
    // bins (compact sizes bins from the PRE-rewrite listing, whose
    // per-file footer/dictionary overhead inflates bytes — allow up to
    // 2× the post-rewrite ideal, still far below the debris count)
    val bytes = dataFiles.map(_.length()).sum
    val want = math.max(1, math.ceil(bytes.toDouble / (128L << 10)).toInt)
    assert(dataFiles.length >= want && dataFiles.length <= 2 * want,
      s"expected $want..${2 * want} compacted files, found ${dataFiles.length}")
    assert(dataFiles.length >= 4 && dataFiles.length < 48,
      "gate layout must be multi-file (but compacted) for pruning to mean anything")
    // the manifest has one row per data file, and the sorted rewrite
    // gives files (near-)disjoint shipdate extents
    val manifest = spark.read.parquet(dir + "_manifest").collect()
    assert(manifest.length === dataFiles.length)
    // pruning 1996 keeps a strict subset of files
    val (lo, hi) = (lit("1996-01-01").cast("timestamp"),
      lit("1997-01-01").cast("timestamp"))
    val kept = Lake.pruneFiles(spark, dir, "l_shipdate", lo, hi)
    assert(kept.nonEmpty && kept.length < dataFiles.length,
      s"pruned ${kept.length} of ${dataFiles.length}")
    // the physical scan reads EXACTLY the pruned files
    val pruned = Lake.prunedRead(spark, dir, "l_shipdate", lo, hi)
    val scanned = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.length
    }
    assert(scanned === Some(kept.length))
    // content equality: pruned + residual == full-layout filter ==
    // the ORIGINAL table's filter (the rewrite lost nothing)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .agg(count(lit(1)), sum(round(col("l_extendedprice") * 100, 0).cast("long")))
        .head().toSeq
    assert(agg(pruned) === agg(spark.read.parquet(dir)))
    assert(agg(pruned) === agg(Tables.lineitem(spark, d)))
    // an extent window before the data reads zero files, schema intact
    val none = Lake.prunedRead(spark, dir, "l_shipdate",
      lit("1901-01-01").cast("timestamp"), lit("1902-01-01").cast("timestamp"))
    assert(none.count() === 0 &&
      none.columns.toSeq === spark.read.parquet(dir).columns.toSeq)
  }

  test("bucketed tables join without a shuffle (X1 co-location)") {
    // spark.sql.warehouse.dir is static: set to /tmp via test javaOptions;
    // clear any leftover table state from prior runs
    Seq("b_orders", "b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"/tmp/graft_warehouse/$t")
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete()); dir.delete()
      }
    }
    Lake.writeBucketed(Tables.orders(spark, sf("sf0.001")), "b_orders", "o_orderkey", 8)
    Lake.writeBucketed(
      Tables.lineitem(spark, sf("sf0.001")).withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", "o_orderkey", 8)
    // disable auto-broadcast so the join exercises the bucketed
    // co-location (at real scale neither side would broadcast)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem"), "o_orderkey")
      .groupBy("o_orderstatus").count()
    try joined.collect()
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    val p = joined.queryExecution.executedPlan.toString
    // the equi-join itself must not exchange either bucketed side:
    // the only allowed Exchange is the one feeding the final groupBy
    val joinSection = p.split("HashAggregate").last
    assert(joinSection.contains("SortMergeJoin") || joinSection.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"))
    val exchanges = "Exchange hashpartitioning\\(o_orderkey".r.findAllIn(p).size
    assert(exchanges === 0, s"bucketed join must not shuffle on the join key:\n$p")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
  }

  test("sorted layout produces row-group-skippable files") {
    val dir = tempDir("graft_sorted") + "/li"
    Lake.writeSorted(Tables.lineitem(spark, sf("sf0.001")), dir, Seq("l_shipdate"))
    val df = spark.read.parquet(dir).filter(col("l_quantity") > 45)
    assert(df.queryExecution.executedPlan.toString.contains("PushedFilters"))
    assert(df.count() > 0)
  }

  test("compaction collapses small files, preserves content, keeps sort skipping") {
    import spark.implicits._
    val dir = tempDir("graft_compact") + "/t"
    val df = spark.range(2000).select($"id", ($"id" % 7).as("k"))
    df.repartition(20).write.mode("overwrite").parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val before = parquetFiles
    assert(before >= 10, s"fixture should be fragmented, got $before files")
    // small target → several output files, so range disjointness is a
    // real assertion (a 1-file result would make it vacuous)
    Lake.compact(spark, dir, targetFileBytes = 8L << 10, sortCols = Seq("id"))
    val after = parquetFiles
    assert(after < before && after >= 2, s"$before -> $after")
    val back = spark.read.parquet(dir)
    assert(back.count() === 2000)
    assert(back.agg(sum($"id")).head.getLong(0) === (0L until 2000L).sum)
    // sort layout survives: per-file [min,max] id ranges are disjoint
    // (the property min/max row-group skipping depends on)
    val ranges = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min($"id"), max($"id")).head
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, ranges.mkString(", "))
      case _ =>
    }
    // no leftover staging/backup dirs from the atomic swap
    val siblings = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(!siblings.exists(n => n.endsWith("__tmp") || n.endsWith("__bak")))
  }

  test("compact refuses a Hive-partitioned layout") {
    import spark.implicits._
    val dir = tempDir("graft_compact_p") + "/t"
    spark.range(100).select($"id", ($"id" % 3).as("p"))
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Lake.compact(spark, dir)
    }
    assert(e.getMessage.contains("partition"))
  }

  test("publishCopy swaps in a file copy of the source, replacing a stale staging dir") {
    import spark.implicits._
    val root = tempDir("graft_publish")
    val (src, dir) = (s"$root/snap", s"$root/live")
    spark.range(500).select($"id", ($"id" % 7).as("k")).repartition(3)
      .write.parquet(src)
    spark.range(10).write.parquet(dir)  // old live content
    // a crashed run's half-staged copy
    new java.io.File(s"${dir}__tmp").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${dir}__tmp/part-stale.parquet"),
      Array[Byte](1, 2, 3))
    Lake.publishCopy(spark, src, dir)
    def files(d: String) = new java.io.File(d).listFiles().map(_.getName).sorted.toSeq
    assert(files(dir) === files(src))
    val back = spark.read.parquet(dir)
    assert(back.exceptAll(spark.read.parquet(src)).isEmpty && back.count() === 500)
    val siblings = files(root)
    assert(!siblings.exists(n => n.endsWith("__tmp") || n.endsWith("__bak")), siblings)
    // the source snapshot stays in place
    assert(spark.read.parquet(src).count() === 500)
  }

  test("writeCounted returns the rows the write itself wrote") {
    import spark.implicits._
    val dir = tempDir("graft_counted")
    val df = spark.range(1000).select($"id", ($"id" % 5).as("p"))
    assert(Lake.writeCounted(df)(_.write.partitionBy("p").parquet(s"$dir/a")) === 1000L)
    assert(Lake.writeCounted(df.filter($"id" < 0))(_.write.parquet(s"$dir/b")) === 0L)
    assert(Lake.writeCounted(df)(Lake.atomicOverwrite(_, s"$dir/a")) === 1000L)
    assert(spark.read.parquet(s"$dir/a").count() === 1000L)
  }
}
