package graft.sources

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout management for the parquet lake (SURVEY §4 X1/X2/X8:
  * the Spark-side replacement for the reference's partial/composite
  * indexes is physical layout — date partitioning for pruning, bucketing
  * for co-located joins, sorted files for min/max skipping).
  */
object Lake {

  /** Ingest to a partitioned layout: downstream filters on the
    * partition columns become directory pruning (never touch data). */
  def writePartitioned(df: DataFrame, dir: String, partitionCols: Seq[String],
      mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(dir)

  /** Ingest with in-file ordering so parquet min/max row-group stats
    * prune selective range predicates (the analog of the reference's
    * composite index ordering, 03_optimization_indexes.sql:15-16). */
  def writeSorted(df: DataFrame, dir: String, sortCols: Seq[String],
      mode: String = "overwrite"): Unit =
    // range-partition first so each FILE covers a disjoint key range
    // (round-robin repartitioning would spread the full range into
    // every file and defeat file-level min/max skipping)
    df.repartitionByRange(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(mode).parquet(dir)

  /** Write `df` through `write` and return the rows written, counted
    * by the write job itself (an observed `count(1)`) instead of a
    * second action that re-reads the output or recomputes its lineage.
    * `write` receives the observed frame and may add layout operators
    * (repartition, sort, partitionBy) on top of it. */
  def writeCounted(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    // the metrics arrive on the listener bus shortly after the job;
    // bounded so a lost event fails the write instead of hanging it
    Await.result(rows.future, 2.minutes).getLong(0)
  }

  /** Crash-safe replace of `dir` by the output of `df`: see [[swapIn]].
    * A plan that READS `dir` can safely "overwrite" it this way (a
    * direct overwrite of an input path is rejected by Spark / loses
    * data). */
  def atomicOverwrite(df: DataFrame, dir: String): Unit =
    swapIn(df.sparkSession, dir)(tmp => df.write.mode("overwrite").parquet(tmp.toString))

  /** Replace `dir` by a file copy of the directory `src` (through the
    * same swap as [[atomicOverwrite]]). Runs no Spark job, so the
    * published content is exactly the files of `src`, never a
    * recomputation of whatever lineage produced them. */
  def publishCopy(spark: SparkSession, src: String, dir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val from = new Path(src)
    swapIn(spark, dir) { tmp =>
      if (!FileUtil.copy(from.getFileSystem(conf), from, tmp.getFileSystem(conf), tmp,
          false, conf))
        sys.error(s"failed to copy $src to $tmp")
    }
  }

  /** Crash-safe directory swap: stage the new content at `<dir>__tmp`
    * (replacing any stale one a crashed run left), move the old aside,
    * move the new in, drop the backup — at every step either the old or
    * new content exists under a recoverable name. */
  private def swapIn(spark: SparkSession, dir: String)(stage: Path => Unit): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir + "__tmp")
    val bak = new Path(dir + "__bak")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    stage(tmp)
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(path) && !fs.rename(path, bak))
      sys.error(s"failed to stage backup of $dir")
    if (!fs.rename(tmp, path)) {
      if (fs.exists(bak)) fs.rename(bak, path)  // roll back
      sys.error(s"failed to publish new content at $dir")
    }
    if (fs.exists(bak)) fs.delete(bak, true)
  }

  /** Compact a FLAT directory of small parquet files into
    * ⌈bytes / targetFileBytes⌉ files (min 1), preserving content —
    * incremental appends (daily batches, streaming micro-batches)
    * accumulate small files whose per-file open/footer cost dominates
    * scans at lake scale. Optional sort columns restore min/max
    * skipping in the compacted files. The rewrite goes through
    * [[atomicOverwrite]], so a crash leaves either the old or the new
    * layout, never a mix.
    *
    * Constraints (maintenance ops on a bare parquet lake have no
    * transaction log):
    *  - SINGLE WRITER: rows appended between the read snapshot and the
    *    swap would be lost — run under the same scheduler slot that owns
    *    writes to the directory (as the daily `load` does).
    *  - Hive-partitioned layouts are rejected: a flat rewrite would
    *    silently destroy partition pruning. Compact leaf partition
    *    directories individually. */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long = 128L << 20,
      sortCols: Seq[String] = Nil): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partitioned = fs.listStatus(path).exists(st =>
      st.isDirectory && st.getPath.getName.contains("="))
    require(!partitioned,
      s"$dir is Hive-partitioned — compact its leaf partitions individually")
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(dir)
    val laidOut =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nFiles)
    atomicOverwrite(laidOut, dir)
  }

  /** Per-file min/max MANIFEST for `column`, written as a sibling
    * `<dir>_manifest` parquet — the bare-parquet-lake counterpart of a
    * table format's file-statistics manifest (Iceberg manifests /
    * Delta add-file stats): one row per data file. Built with ONE
    * executor-side pass over the data (how table formats collect
    * stats at write time); after that, range queries plan from the
    * manifest alone. Rebuild after any rewrite of `dir` (compact does
    * when asked). */
  def writeManifest(spark: SparkSession, dir: String, column: String): Unit =
    spark.read.parquet(dir)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(min(col(column)).as("min_v"), max(col(column)).as("max_v"))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir + "_manifest")

  /** The files of `dir` whose [min_v, max_v] extent OVERLAPS
    * [lo, hi) — the manifest scan that replaces listing + footer reads
    * at planning time. The returned list is manifest-sized (one row
    * per FILE, the same driver-side cardinality every lakehouse
    * planner materializes), never data-sized. */
  def pruneFiles(spark: SparkSession, dir: String, column: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column): Seq[String] =
    spark.read.parquet(dir + "_manifest")
      .filter(col("max_v") >= lo && col("min_v") < hi)
      .select("file").collect().map(_.getString(0)).toSeq

  /** Extent-pruned read: scan ONLY the files whose manifest extent
    * overlaps [lo, hi). The caller applies its own row-level predicate
    * on top (extents prove which files CANNOT match; they do not prove
    * every row in a kept file does). An empty match reads nothing but
    * keeps the schema. */
  def prunedRead(spark: SparkSession, dir: String, column: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column): DataFrame = {
    val files = pruneFiles(spark, dir, column, lo, hi)
    if (files.isEmpty) spark.read.parquet(dir).filter(lit(false))
    else spark.read.parquet(files: _*)
  }

  /** Build-once OPTIMIZE'd lineitem layout for `sfDir` (the E46/q85
    * maintenance counterpart the q153 gate reads): simulate append
    * debris (a 48-file round-robin write — what daily batches leave
    * behind), bin-pack it back to ⌈bytes/128 KB⌉ shipdate-sorted files
    * ([[compact]]), and publish the shipdate manifest. Marker-guarded:
    * deterministic input ⇒ the layout builds once per corpus and the
    * gate measures the pruned scan, not the rewrite. */
  def optimizedLineitem(spark: SparkSession, sfDir: String): String = {
    // fold the source's mtime+size signature into the layout key so a
    // regenerated corpus (CorpusGen rewrites lineitem when columns are
    // missing) invalidates the cached rewrite instead of serving stale
    // files that diverge from the oracle's fresh read
    val srcFile = new java.io.File(s"$sfDir/lineitem.parquet")
    val parts: Seq[java.io.File] =
      if (srcFile.isDirectory) Option(srcFile.listFiles()).map(_.toSeq).getOrElse(Seq(srcFile))
      else Seq(srcFile)
    val sig = parts.map(f => s"${f.getName}:${f.length}:${f.lastModified}").sorted.mkString("|")
    val key = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(sfDir + "#" + sig).toLong & 0xffffffffL)
    val dir = s"target/lake_opt/$key/lineitem"
    val marker = new java.io.File(dir + "_manifest/_SUCCESS")
    val ready = new java.io.File(s"target/lake_opt/$key/_OPTIMIZED")
    if (!(ready.exists() && marker.exists())) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.repartition(48).write.mode("overwrite").parquet(dir)
      compact(spark, dir, targetFileBytes = 128L << 10,
        sortCols = Seq("l_shipdate"))
      writeManifest(spark, dir, "l_shipdate")
      ready.getParentFile.mkdirs()
      ready.createNewFile(): Unit
    }
    dir
  }

  /** Register a bucketed table: both sides of a recurring equi-join
    * bucketed on the join key join WITHOUT a shuffle (verified in
    * LakeSpec by asserting the join plan has no Exchange). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int): Unit = {
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
    // table + column stats for the cost-based optimizer (SURVEY X6 —
    // the reference's ANALYZE; AQE covers runtime stats, CBO uses these
    // for join reordering before execution)
    df.sparkSession.sql(
      s"ANALYZE TABLE $table COMPUTE STATISTICS FOR COLUMNS $bucketCol")
  }
}
