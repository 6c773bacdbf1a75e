package graft.operators

import graft.GraftSpec

/** Pins the [[SessionMemo]] lifecycle contracts the stored kernels rely
  * on: `memo` is get-or-build (repeat call returns the SAME persisted
  * frames — the q48 stored-index semantics that the basket/histogram/
  * graph kernels share), a different corpus in the same family
  * DISPLACES the previous kernel (corpus switch must not serve stale
  * frames), every family stays at one entry per session, and `swap`
  * keeps its release-and-rebuild semantics (per-invocation honesty for
  * gates that declare their build cost). */
class PinnedSpec extends GraftSpec {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  test("memo: repeat call returns the identical persisted frames") {
    val df = spark.range(100).select(col("id"), (col("id") % 7).as("k"))
    var builds = 0
    def build(pin: DataFrame => DataFrame) = {
      builds += 1; Seq(pin(df.groupBy("k").agg(count(lit(1)).as("n"))))
    }
    val a = SessionMemo.memo(spark, "pinnedspec_memo", "dirA")(build)
    val b = SessionMemo.memo(spark, "pinnedspec_memo", "dirA")(build)
    assert(builds === 1, "second call must not rebuild")
    assert(a.head eq b.head, "must return the same DataFrame instance")
    assert(a.head.storageLevel.useMemory, "frames must be persisted")
    assert(a.head.count() === 7)
  }

  test("memo: a different key in the same family displaces the old kernel") {
    val df = spark.range(50).select(col("id"))
    val a = SessionMemo.memo(spark, "pinnedspec_evict", "dir1")(pin =>
      Seq(pin(df.select(col("id")))))
    assert(a.head.storageLevel.useMemory)
    val b = SessionMemo.memo(spark, "pinnedspec_evict", "dir2")(pin =>
      Seq(pin(df.select((col("id") + 1).as("id")))))
    assert(b.head.storageLevel.useMemory)
    // the dir1 kernel must have been released by the dir2 displacement
    assert(!a.head.storageLevel.useMemory,
      "family displacement must unpersist the previous kernel")
    // and a repeat dir2 call still hits
    val c = SessionMemo.memo[Seq[DataFrame]](spark, "pinnedspec_evict", "dir2")(_ =>
      sys.error("must not rebuild"))
    assert(c.head eq b.head)
  }

  test("memo: families with distinct prefixes do not displace each other") {
    val df = spark.range(10)
    val a = SessionMemo.memo(spark, "pinnedspec_famA", "dir")(pin =>
      Seq(pin(df.select(col("id")))))
    val b = SessionMemo.memo(spark, "pinnedspec_famB", "dir")(pin =>
      Seq(pin(df.select((col("id") * 2).as("id")))))
    assert(a.head.storageLevel.useMemory && b.head.storageLevel.useMemory)
  }

  test("memo: obtained frames stay usable across a sibling displacement") {
    // the hit path of SessionMemo.memo hands out frames without a lock,
    // so a sibling-key displacement can unpersist them while a reader still
    // holds them. Safety argument: unpersist only drops cached blocks — the
    // DataFrame's plan recomputes, so the reader gets correct (uncached)
    // results. Sequential proof first, then an actual race.
    val df = spark.range(1000).select(col("id"), (col("id") % 13).as("k"))
    // kernels carry a per-dir literal so the two dirs have DISTINCT
    // logical plans: storageLevel is a CacheManager lookup BY PLAN, and
    // plan-identical siblings would read each other's cache entries
    def kernel(t: Int)(pin: DataFrame => DataFrame) = Seq(pin(
      df.groupBy("k").agg(sum("id").as("s")).filter(col("k") > lit(-1 - t))))
    val a = SessionMemo.memo(spark, "pinnedspec_race", "dirX")(kernel(0))
    val expected = a.head.count()
    SessionMemo.memo(spark, "pinnedspec_race", "dirY")(kernel(1))
    assert(!a.head.storageLevel.useMemory, "sibling must displace dirX")
    assert(a.head.count() === expected,
      "displaced frames must still evaluate correctly (recompute)")

    // race: readers repeatedly obtain-and-count while a displacer flips
    // the family between two dirs, unpersisting whatever readers hold
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val bad = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val iters = 15
    def guard(body: => Unit): Runnable = () =>
      try body catch { case t: Throwable => bad.compareAndSet(null, t): Unit }
    val displacer = guard {
      for (i <- 0 until iters)
        SessionMemo.memo(spark, "pinnedspec_race2", s"dir${i % 2}")(kernel(i % 2))
    }
    val reader = guard {
      for (i <- 0 until iters) {
        val f = SessionMemo.memo(spark, "pinnedspec_race2", s"dir${i % 2}")(kernel(i % 2))
        assert(f.head.count() === expected)
      }
    }
    Seq(displacer, reader, reader).foreach(pool.submit)
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    if (bad.get() != null) throw bad.get()
  }

  test("swap: each invocation releases the previous frames and re-pins") {
    val df = spark.range(20).select(col("id"))
    val Seq(a) = SessionMemo.swap(spark, "pinnedspec_swap", df.select(col("id")))
    assert(a.storageLevel.useMemory)
    val Seq(b) = SessionMemo.swap(spark, "pinnedspec_swap", df.select(col("id")))
    assert(b.storageLevel.useMemory)
    assert(!(a eq b), "swap must hand back the fresh frames, not memoize")
  }

  test("memo: each family keeps one entry per session across corpus switches") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    try {
      def docs(s: SparkSession) =
        s.createDataFrame(Seq((1L, "the cat sat on the mat"), (2L, "a cat and a hat")))
          .toDF("doc_id", "text")
      val d1 = docs(s1)
      val models = Seq("corpusA", "corpusB", "corpusC").map(k => TextOps.bpeModel(d1, k))
      assert(models.forall(_.nonEmpty))
      var trained = 0
      Seq("c1", "c2", "c3").foreach(c =>
        SessionMemo.memo(s1, "pinnedspec_model", c) { _ => trained += 1; Array(c) })
      assert(trained === 3)
      assert(SessionMemo.entries(s1) ===
        Map("bpe" -> "corpusC", "pinnedspec_model" -> "c3"))
      // a repeat call for the current corpus is a hit
      SessionMemo.memo(s1, "pinnedspec_model", "c3")(_ => sys.error("must not rebuild"))
      assert(TextOps.bpeModel(d1, "corpusC") eq models(2))

      // a sibling session keeps its own entries; neither disturbs the other
      TextOps.bpeModel(docs(s2), "corpusA")
      assert(SessionMemo.entries(s2) === Map("bpe" -> "corpusA"))
      assert(SessionMemo.entries(s1) ===
        Map("bpe" -> "corpusC", "pinnedspec_model" -> "c3"))
      SessionMemo.evict(s1)
      assert(SessionMemo.entries(s1).isEmpty)
      assert(SessionMemo.entries(s2) === Map("bpe" -> "corpusA"))
    } finally { SessionMemo.evict(s1); SessionMemo.evict(s2) }
  }
}
