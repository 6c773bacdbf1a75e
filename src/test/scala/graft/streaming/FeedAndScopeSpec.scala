package graft.streaming

import graft.GraftSpec

/** r14 optimization internals: the FileFeed staged-render memo and the
  * fixpoint loops' conf scope — the two round-14 mechanisms whose failure
  * modes would be silent (wrong batch bytes fed to a stream; confs
  * leaking out of a loop). */
class FeedAndScopeSpec extends GraftSpec {
  import spark.implicits._

  test("FileFeed staging: identical batch plans reuse bytes, different plans never cross") {
    val dir = tempDir("feedspec_")
    val src = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    src.write.mode("overwrite").parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    val feed = new FileFeed(spark)
    try {
      // two drops of the SAME logical batch (staging reuse path) and
      // one of a DIFFERENT batch — the watched dir must contain three
      // files whose contents are batch1, batch1, batch2
      val b1 = t.filter($"id" <= 2)
      val b2 = t.filter($"id" === 3)
      feed.drop(b1); feed.drop(b1); feed.drop(b2)
      val stream = feed.source(t.schema)
      val q = stream.writeStream.format("memory").queryName("feedspec")
        .option("checkpointLocation", tempDir("feedspec_ck_"))
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("feedspec").as[(Long, String)].collect().sorted
      assert(got.toSeq === Seq((1L, "a"), (1L, "a"), (2L, "b"),
        (2L, "b"), (3L, "c")))
    } finally feed.close()
  }

  test("FileFeed staging keys on the plan, not the schema alone") {
    val dir = tempDir("feedspec2_")
    Seq((10L, "x"), (20L, "y")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/t")
    val t = spark.read.parquet(s"$dir/t")
    val feed = new FileFeed(spark)
    try {
      // same schema, different filter literals — must stage separately
      feed.drop(t.filter($"id" === 10))
      feed.drop(t.filter($"id" === 20))
      val stream = feed.source(t.schema)
      val q = stream.writeStream.format("memory").queryName("feedspec2")
        .option("checkpointLocation", tempDir("feedspec2_ck_"))
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table("feedspec2").as[(Long, String)].collect().sorted
      assert(got.toSeq === Seq((10L, "x"), (20L, "y")))
    } finally feed.close()
  }

  test("Fixpoint scope restores confs; width from conf") {
    import graft.operators.Fixpoint
    val s = spark
    val parts0 = s.conf.get("spark.sql.shuffle.partitions")
    val aqe0 = s.conf.get("spark.sql.adaptive.enabled")
    Fixpoint.scope(s, adaptive = false) {
      assert(s.conf.get("spark.sql.shuffle.partitions") === "8")
      assert(s.conf.get("spark.sql.adaptive.enabled") === "false")
    }
    assert(s.conf.get("spark.sql.shuffle.partitions") === parts0)
    assert(s.conf.get("spark.sql.adaptive.enabled") === aqe0)
    // adaptive = true leaves AQE untouched (the kcore variant)
    Fixpoint.scope(s, adaptive = true) {
      assert(s.conf.get("spark.sql.adaptive.enabled") === aqe0)
    }
    // exception path still restores
    intercept[RuntimeException] {
      Fixpoint.scope(s, adaptive = false) { throw new RuntimeException("boom") }
    }
    assert(s.conf.get("spark.sql.shuffle.partitions") === parts0)
    assert(s.conf.get("spark.sql.adaptive.enabled") === aqe0)
    // width follows the conf
    s.conf.set(Fixpoint.LoopPartitionsConf, "5")
    try {
      assert(Fixpoint.width(s) === 5)
      Fixpoint.scope(s, adaptive = false) {
        assert(s.conf.get("spark.sql.shuffle.partitions") === "5")
      }
    } finally s.conf.unset(Fixpoint.LoopPartitionsConf)
  }
}
