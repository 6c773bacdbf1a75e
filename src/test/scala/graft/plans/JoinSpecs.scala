package graft.plans

import org.apache.spark.sql.functions._
import graft.GraftSpec

class AsOfJoinSpec extends GraftSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("as-of join picks the latest right row at or before left time") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 12:00:00")),
      (2L, ts("2024-01-01 09:00:00"))).toDF("k", "t")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), "a"),
      (1L, ts("2024-01-01 11:00:00"), "b"),
      (1L, ts("2024-01-01 12:00:00"), "c"),  // equal ts ⇒ matches (<=)
      (2L, ts("2024-01-01 09:30:00"), "late")).toDF("k", "rt", "v")

    val out = AsOfJoin(left, right, Seq("k"), "t", "rt", Seq("v"))
      .orderBy($"k", $"t").collect()
    assert(out.map(_.getAs[String]("v")).toSeq === Seq("a", "c", null))
  }

  test("tie-break picks the highest tie-break value at equal timestamps") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("k", "t")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 1L, "first"),
      (1L, ts("2024-01-01 09:00:00"), 2L, "second")).toDF("k", "rt", "seq", "v")
    val out = AsOfJoin(left, right, Seq("k"), "t", "rt", Seq("v"), Some("seq")).collect()
    assert(out.head.getAs[String]("v") === "second")
  }

  test("null right fields in the latest row are carried (not skipped)") {
    val left = Seq((1L, ts("2024-01-01 10:00:00"))).toDF("k", "t")
    val right = Seq(
      (1L, ts("2024-01-01 08:00:00"), Some("old")),
      (1L, ts("2024-01-01 09:00:00"), None: Option[String])).toDF("k", "rt", "v")
    val out = AsOfJoin(left, right, Seq("k"), "t", "rt", Seq("v")).collect()
    // latest right row has v = null — the struct trick must preserve it
    assert(out.head.getAs[String]("v") === null)
  }

  test("adversarial: null keys, null times, unmatched lefts, equal-ts ties") {
    val left = Seq(
      (Some(1L), Some(ts("2024-01-01 10:00:00"))), // plain match
      (Some(1L), Some(ts("2024-01-01 08:00:00"))), // before any right → null
      (Some(1L), None),                            // null left time → null
      (None, Some(ts("2024-01-01 10:00:00"))),     // null left key → null
      (Some(2L), Some(ts("2024-01-01 10:00:00"))), // its only right has a null time → null
      (Some(3L), Some(ts("2024-01-01 10:00:00")))  // key with no rights → null
    ).toDF("k", "t")
    val right = Seq(
      (Some(1L), Some(ts("2024-01-01 09:00:00")), 1L, "a"),
      (Some(1L), Some(ts("2024-01-01 09:00:00")), 2L, "b"), // tie → b
      (None, Some(ts("2024-01-01 08:00:00")), 3L, "nullkey"),
      (Some(2L), None, 4L, "nullts")
    ).toDF("k", "rt", "seq", "v")
    val out = AsOfJoin(left, right, Seq("k"), "t", "rt", Seq("v"), Some("seq"))
      .orderBy($"k", $"t")
      .collect().map(r => Option(r.getAs[String]("v")))
    // orderBy (k asc nulls first, t asc nulls first)
    assert(out.toSeq === Seq(
      None,        // null key
      None,        // k=1, null time
      None,        // k=1, 08:00
      Some("b"),   // k=1, 10:00 — tie-break picks seq=2
      None,        // k=2, the null-time right never matches
      None         // k=3 unmatched
    ))
  }

  test("null-key lefts with string keys emit unmatched rows") {
    val left = Seq(
      (Option.empty[String], Some(100L), 1L),
      (Some("a"), Some(100L), 2L),
      (Some("zz"), Some(100L), 3L)
    ).toDF("k", "t", "lid").coalesce(1)
    val right = Seq(
      (Option.empty[String], Some(10L), "nullkey"),
      (Some("a"), Some(50L), "first"),
      (Some("zz"), Some(60L), "last")
    ).toDF("k", "rt", "v").coalesce(1)
    val out = AsOfJoin(left, right, Seq("k"), "t", "rt", Seq("v"))
      .orderBy($"lid")
      .collect().map(r => Option(r.getAs[String]("v")))
    assert(out.toSeq === Seq(None, Some("first"), Some("last")))
  }

  test("randomized null/negative keys, null times == naive reference") {
    val rnd = new scala.util.Random(7)
    def key(): Option[Long] = rnd.nextInt(10) match {
      case 0 => None
      case n => Some(n.toLong - 5) // keys in [-4, 4], incl. negatives
    }
    def time(): Option[Long] =
      if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(500).toLong)
    val lrows = Seq.tabulate(300)(i => (i.toLong, key(), time()))
    val rrows = Seq.tabulate(200)(i => (i.toLong, key(), time()))
    // SQL `=` / `<=`: a null on either side never matches
    val want = lrows.map { case (lid, k, t) =>
      val cands = rrows.filter(r => k.isDefined && t.isDefined &&
        r._2 == k && r._3.exists(_ <= t.get))
      lid -> (if (cands.isEmpty) None
              else Some(cands.maxBy(r => (r._3.get, r._1))._1))
    }.toMap
    def run(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      AsOfJoin(l.repartition(5), r.repartition(3), Seq("k"), "t", "rt", Seq("rid"), Some("rid"))
        .select($"lid", $"rid").collect()
        .map(row => row.getLong(0) -> Option(row.get(1)).map(_.asInstanceOf[Long])).toMap
    assert(run(lrows.toDF("lid", "k", "t"), rrows.toDF("rid", "k", "rt")) === want)
    // string keys: a padded form of the same keys
    def sk(k: Option[Long]): Option[String] = k.map(v => f"${v + 100}%03d")
    assert(run(
      lrows.map { case (lid, k, t) => (lid, sk(k), t) }.toDF("lid", "k", "t"),
      rrows.map { case (rid, k, t) => (rid, sk(k), t) }.toDF("rid", "k", "rt")) === want)
  }

  test("q21b plan: one window, no nested loop, q21's exchanges, pushdown kept") {
    val p = graft.SparkEntry.queries("q21b_asof_join_native")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert("Window \\[".r.findAllIn(p).size === 1, p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("PushedFilters: [IsNotNull(event_type)"), p)
    // q21's count before its body was shared: the union shuffles once on user_id
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size === 1, p)
  }
}

class BandJoinSpec extends GraftSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("band join finds exactly the rows in [t-window, t]") {
    val left = Seq((1L, 100L, ts("2024-01-01 10:00:00"))).toDF("k", "lid", "t")
    val right = Seq(
      (1L, 1L, ts("2024-01-01 08:59:59")),  // outside
      (1L, 2L, ts("2024-01-01 09:00:00")),  // boundary: included
      (1L, 3L, ts("2024-01-01 09:59:00")),  // inside
      (1L, 4L, ts("2024-01-01 10:00:00")),  // boundary: included
      (1L, 5L, ts("2024-01-01 10:00:01")),  // future: excluded
      (2L, 6L, ts("2024-01-01 09:30:00"))). // wrong key
      toDF("k", "rid", "rt")
    val out = BandJoin.lookback(left, right, Seq("k"), "t", "rt", 3600000L)
      .select($"rid").as[Long].collect().sorted
    assert(out.toSeq === Seq(2L, 3L, 4L))
  }
}
