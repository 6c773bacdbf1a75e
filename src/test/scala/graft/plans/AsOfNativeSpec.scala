package graft.plans

import org.apache.spark.sql.functions._
import graft.GraftSpec

/** q21b (`q21b_asof_join_native`) and the fixtures that once checked a
  * separate native as-of operator. q21b now runs q21's `AsOfJoin` body,
  * so these cases run on `AsOfJoin`: row equality with q21, null-key
  * lefts beside negative keys on one partition, and randomized
  * cross-checks against a naive per-row reference. */
class AsOfNativeSpec extends GraftSpec {
  import spark.implicits._

  test("native as-of == union+window as-of on the shipped events (q21 twin)") {
    val dir = sf("sf0.001")
    def rows(name: String) = graft.SparkEntry.queries(name)(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSeq
    assert(rows("q21b_asof_join_native") === rows("q21_asof_join"))
  }

  test("null-key lefts consume no right rows: negative keys still match (fast path)") {
    // Nulls-first left ordering puts the null-key row before key -5 in
    // one partition; the -5 right row must still reach its own left row.
    val left = Seq(
      (Option.empty[Long], Some(100L), 1L),
      (Some(-5L), Some(100L), 2L),
      (Some(7L), Some(100L), 3L)
    ).toDF("k", "t", "lid").coalesce(1)
    val right = Seq(
      (Some(-5L), Some(50L), "neg"),
      (Some(7L), Some(50L), "pos")
    ).toDF("k", "rt", "v").coalesce(1)
    val out = AsOfJoin(left, right, Seq("k"), "t", "rt", Seq("v"))
      .orderBy($"lid")
      .collect().map(r => Option(r.getAs[String]("v")))
    assert(out.toSeq === Seq(None, Some("neg"), Some("pos")))
  }

  test("randomized with null/negative keys: native == naive reference (fast + generic)") {
    val rnd = new scala.util.Random(7)
    def key(): Option[Long] = rnd.nextInt(10) match {
      case 0 => None
      case n => Some(n.toLong - 5) // keys in [-4, 4], incl. negatives
    }
    val lrows = Seq.tabulate(300)(i => (i.toLong, key(), rnd.nextInt(500).toLong))
    val rrows = Seq.tabulate(200)(i => (i.toLong, key(), rnd.nextInt(500).toLong))
    val want = lrows.map { case (lid, k, t) =>
      val cands = rrows.filter(r => k.isDefined && r._2 == k && r._3 <= t)
      lid -> (if (cands.isEmpty) None else Some(cands.maxBy(r => (r._3, r._1))._1))
    }.toMap
    def run(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      AsOfJoin(l.repartition(5), r.repartition(3), Seq("k"), "t", "rt", Seq("rid"), Some("rid"))
        .select($"lid", $"rid").collect()
        .map(row => row.getLong(0) -> Option(row.get(1)).map(_.asInstanceOf[Long])).toMap
    // long keys
    assert(run(lrows.toDF("lid", "k", "t"), rrows.toDF("rid", "k", "rt")) === want)
    // string keys (sign+padding keeps their order)
    def sk(k: Option[Long]): Option[String] = k.map(v => f"${v + 100}%03d")
    assert(run(
      lrows.map { case (lid, k, t) => (lid, sk(k), t) }.toDF("lid", "k", "t"),
      rrows.map { case (rid, k, t) => (rid, sk(k), t) }.toDF("rid", "k", "rt")) === want)
  }

  test("randomized: native as-of == naive per-row latest-right reference (multi-partition)") {
    val rnd = new scala.util.Random(42)
    val lrows = Seq.fill(400)((rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong))
      .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
    val rrows = Seq.fill(300)((rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong))
      .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
    val left = lrows.toDF("lid", "k", "t").repartition(7)
    val right = rrows.toDF("rid", "k", "rt").repartition(3)
    val got = AsOfJoin(left, right, Seq("k"), "t", "rt", Seq("rid"), Some("rid"))
      .select($"lid", $"rid")
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long]))
      .toMap
    val want = lrows.map { case (lid, k, t) =>
      val cands = rrows.filter(r => r._2 == k && r._3 <= t)
      lid -> (if (cands.isEmpty) None
              else Some(cands.maxBy(r => (r._3, r._1))._1))
    }.toMap
    assert(got === want)
  }
}
