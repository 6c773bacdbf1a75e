package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.CorpusGen
import graft.etl.{DataGen, LoadLog}
import graft.operators.FleetOps

/** Permanent adversarial boundary fixture (r12 verdict Next #6).
  *
  * The q144 session-boundary bug (`>=` vs `>` on a gap of EXACTLY
  * 30 minutes) survived five rounds of gates because no fixture at any
  * scale contained an exact-gap pair — seeded fuzz found it
  * probabilistically in round 12 (seed 401). This main makes that bug
  * class DETERMINISTIC: a tiny corpus + fleet fixture with every
  * boundary the operator surface compares against PLANTED, run through
  * the full Verify surface each round at sf0.001 cost.
  *
  * Planted classes (each row cites the predicate it sits on):
  *  - events: session gaps of exactly 30:00 (strictly-greater rule,
  *    operators/Temporal.scala session_window + Advanced sessionize),
  *    identical-timestamp ties (as-of `<=` boundary + tie-break id,
  *    funnel `us >= t` with equal steps), singleton users, midnight
  *    and ISO-week straddles (DAU/WAU day attribution), duplicate
  *    full rows (dedup survivor determinism), bag-multiset
  *    multiplicities (INTERSECT/EXCEPT ALL), value ties and zeros
  *    (percentile interpolation).
  *  - documents: byte-identical pair (Jaccard/cosine = 1), a pair with
  *    word-3-gram Jaccard EXACTLY 0.5 (the `>= 0.5` family threshold),
  *    0/1/2/3-word documents (shingle count 0 and 1), an empty string,
  *    a single repeated word (repetition metrics, single-shingle set),
  *    NFC-divergent unicode (é composed vs combining).
  *  - embeddings: identical vectors (cosine exactly 1), antipodal
  *    (−1), near-zero norms (1e-6 — underflow without NaN).
  *  - orders/lineitem/part: skyline strict-dominance ties (equal cents
  *    or equal delay ⇒ neither dominates), a lineitem with quantity
  *    EXACTLY 0.2·avg(part) (q53's strict `<`), a basket pair with
  *    support exactly 2 (q110's `HAVING >= 2`), discount at both
  *    domain ends, shipdate == orderdate.
  *  - fleet OLTP: delivery delivered at scheduled + EXACTLY 30:00
  *    (fl_q08's strict `>`), delivered == scheduled (on-time `<=`
  *    boundary, fl_q10), license_expiry at EXACTLY asOf+30d (fl_q02's
  *    strict `<`) and asOf+29d, trips straddling midnight and pinned
  *    at the 60/90/180-day horizon boundaries (fl_q04/q08/q06), pivot
  *    hours at 5/6/22/23 (fl_q12's BETWEEN 6 AND 22), and a boundary
  *    cluster ON the corpus's last delivered date so the daily-ETL
  *    fact gates ingest them.
  *
  * Everything is planted via literal rows UNIONed onto a small seeded
  * CorpusGen/DataGen base (seed 999), conformed column-by-column to
  * the base schema, so the fixture is generated (committed code, not
  * committed parquet) and byte-stable.
  *
  * Usage: runMain graft.tools.AdversarialGen <workDir>
  * Output: <workDir>/corpus_adv (tables), <workDir>/fleet_adv (OLTP),
  * <workDir>/out_adv (Verify dump + oracle_sql.json); compare with
  * tools/check.py <workDir>/corpus_adv <workDir>/out_adv.
  */
object AdversarialGen {

  val Seed = 999L

  /** Small fleet volume: ~11 trips/day over the 2-year span keeps every
    * daily-ETL gate populated while the full-surface dump stays at
    * sf0.001 cost. */
  val FleetCfg: DataGen.Config = DataGen.Config(seed = Seed,
    nVehicles = 60, nDrivers = 120, nRoutes = 20, nTrips = 8000,
    nMaintenance = 800, nCustomers = 120)

  /** Cast planted literal rows to the base table's exact schema (the
    * generator uses decimals/int32s a plain toDF would miss). */
  private def conform(base: DataFrame, planted: DataFrame): DataFrame =
    planted.select(base.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)

  private def plus(base: DataFrame, planted: DataFrame): DataFrame =
    base.unionByName(conform(base, planted))

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: AdversarialGen <workDir>")
    val workDir = args(0)
    val spark = graft.GraftSession("graft-adversarial")
    spark.sparkContext.setLogLevel("WARN")
    val corpusDir = s"$workDir/corpus_adv"
    val fleetDir = new java.io.File(s"$workDir/fleet_adv").getAbsolutePath
    writeCorpus(spark, corpusDir)
    writeFleet(spark, fleetDir)
    FleetOps.reconfigure(FleetCfg, Some(fleetDir))
    try graft.Verify.dump(spark, corpusDir, s"$workDir/out_adv", Set.empty)
    finally FleetOps.reconfigure(DataGen.Config())
    println(s"[adversarial] fixture + dump complete under $workDir")
  }

  // ---------------------------------------------------------------- corpus

  def writeCorpus(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._

    // ---- documents: base 1200 + planted boundary docs
    val docsBase = CorpusGen.documents(spark, 1200L, Seed)
    // Jaccard exactly 0.5: A = x1..x5 ++ C, B = y1..y5 ++ C with C 12
    // shared words, all 22 tokens distinct → each side has 15 word-3-gram
    // shingles, 10 shared (the pure-C interior), union 20 → 10/20 = 0.5,
    // dead on the family's `>= 0.5` threshold.
    val common = (1 to 12).map(i => f"bxc$i%02d").mkString(" ")
    val jacA = (1 to 5).map(i => s"bxa$i").mkString(" ") + " " + common
    val jacB = (1 to 5).map(i => s"bxb$i").mkString(" ") + " " + common
    val dupText = (1 to 40).map(i => f"bxd$i%02d").mkString(" ")
    val docsPlanted = Seq(
      (9000001L, dupText, "en", "src0"),                  // byte-identical pair:
      (9000002L, dupText, "en", "src1"),                  //   Jaccard/cosine = 1
      (9000003L, jacA, "en", "src2"),                     // Jaccard exactly 0.5
      (9000004L, jacB, "en", "src3"),
      (9000005L, "bxw1", "en", "src4"),                   // 1 word: 0 shingles
      (9000006L, "bxw1 bxw2", "es", "src5"),              // 2 words: 0 shingles
      (9000007L, "bxw1 bxw2 bxw3", "de", "src6"),         // 3 words: 1 shingle
      (9000008L, "", "fr", "src7"),                       // empty text
      (9000009L, "x", "zh", "src8"),                      // single char
      (9000010L, Seq.fill(50)("rep").mkString(" "), "en", "src9"), // 1 distinct word
      (9000011L, "café con leche bxu1 bxu2", "es", "src0"),   // é composed
      (9000012L, "café con leche bxu1 bxu2", "es", "src1"))  // e + U+0301
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
    plus(docsBase, docsPlanted)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // ---- embeddings: base 2000 (the PQ/IVF trainers need a few hundred
    // vectors per codebook) + planted exact-cosine rows
    val vecBase = CorpusGen.embeddings(spark, 2000L, seed = Seed)
    val unitX = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val mixed = Array.tabulate(64)(i => (math.sin(i + 1) * 0.3).toFloat)
    val vecPlanted = Seq(
      (9000001L, mixed, 0),                               // identical pair:
      (9000002L, mixed, 1),                               //   cosine exactly 1
      (9000003L, unitX, 2),
      (9000004L, unitX.map(-_), 3),                       // antipodal: cosine −1
      (9000005L, Array.fill(64)(1e-6f), 4))               // near-zero norm
      .toDF("vec_id", "embedding", "label")
    plus(vecBase, vecPlanted)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // ---- events: base 30k + planted boundary streams
    val evBase = CorpusGen.events(spark, 30000L, Seed)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val M = 60L * 1000 // ms
    def off(base: java.sql.Timestamp, ms: Long) =
      new java.sql.Timestamp(base.getTime + ms)
    val t0 = ts("2025-03-01 10:00:00")
    val t1 = ts("2025-03-04 09:00:00")
    val evPlanted = Seq(
      // exact 30:00 gaps — all ONE session under the strictly-greater
      // rule; the +30:00+1s step then breaks it (the q144 bug class)
      (8000001L, t0, 8000001L, "click", 1.0, "{\"k\":1}"),
      (8000002L, off(t0, 30 * M), 8000001L, "view", 2.0, "{\"k\":2}"),
      (8000003L, off(t0, 60 * M), 8000001L, "click", 3.0, "{\"k\":3}"),
      (8000004L, off(t0, 90 * M + 1000), 8000001L, "purchase", 4.0, "{\"k\":4}"),
      // identical-timestamp triple: funnel us >= t with equal steps,
      // sessionize tie, as-of join at distance zero
      (8000011L, t1, 8000002L, "click", 5.0, "{\"k\":5}"),
      (8000012L, t1, 8000002L, "view", 6.0, "{\"k\":6}"),
      (8000013L, t1, 8000002L, "purchase", 7.0, "{\"k\":7}"),
      // singleton user (LAG-null path, single-member session/cluster)
      (8000021L, ts("2025-03-05 12:00:00"), 8000003L, "view", 8.0, "{\"k\":8}"),
      // midnight + ISO-week straddle (2025-03-10 is a Monday)
      (8000031L, ts("2025-03-09 23:59:59.999999"), 8000004L, "click", 9.0, "{\"k\":9}"),
      (8000032L, ts("2025-03-10 00:00:00"), 8000004L, "click", 10.0, "{\"k\":10}"),
      // value ties and zeros (percentiles, OHLC open==close, CUSUM)
      (8000041L, ts("2025-03-06 08:00:00"), 8000005L, "purchase", 0.0, "{\"k\":11}"),
      (8000042L, ts("2025-03-06 08:05:00"), 8000005L, "purchase", 0.0, "{\"k\":12}"),
      (8000043L, ts("2025-03-06 08:10:00"), 8000005L, "purchase", 100.0, "{\"k\":13}"),
      (8000044L, ts("2025-03-06 08:15:00"), 8000005L, "purchase", 100.0, "{\"k\":14}"),
      // purchase BEFORE click: ordered-funnel must not count this user
      (8000051L, ts("2025-03-07 09:00:00"), 8000006L, "purchase", 15.0, "{\"k\":15}"),
      (8000052L, ts("2025-03-07 10:00:00"), 8000006L, "click", 16.0, "{\"k\":16}"),
      // six events exactly 30:00 apart — one long merged session chain
      (8000061L, ts("2025-03-08 06:00:00"), 8000007L, "view", 17.0, "{\"k\":17}"),
      (8000062L, ts("2025-03-08 06:30:00"), 8000007L, "view", 18.0, "{\"k\":18}"),
      (8000063L, ts("2025-03-08 07:00:00"), 8000007L, "view", 19.0, "{\"k\":19}"),
      (8000064L, ts("2025-03-08 07:30:00"), 8000007L, "view", 20.0, "{\"k\":20}"),
      (8000065L, ts("2025-03-08 08:00:00"), 8000007L, "view", 21.0, "{\"k\":21}"),
      (8000066L, ts("2025-03-08 08:30:00"), 8000007L, "view", 22.0, "{\"k\":22}"),
      // byte-identical duplicate rows: dedup survivor is identity-stable
      (8000071L, ts("2025-03-11 11:00:00"), 8000008L, "view", 23.0, "{\"k\":23}"),
      (8000071L, ts("2025-03-11 11:00:00"), 8000008L, "view", 23.0, "{\"k\":23}"),
      // as-of tie-break: purchase with TWO clicks at the identical ts
      (8000081L, ts("2025-03-12 14:00:00"), 8000009L, "click", 24.0, "{\"k\":24}"),
      (8000082L, ts("2025-03-12 14:00:00"), 8000009L, "click", 25.0, "{\"k\":25}"),
      (8000083L, ts("2025-03-12 14:00:00"), 8000009L, "purchase", 26.0, "{\"k\":26}"),
      // bag multiplicities: 2 clicks vs 1 view on one day
      (8000091L, ts("2025-03-13 09:00:00"), 8000010L, "click", 27.0, "{\"k\":27}"),
      (8000092L, ts("2025-03-13 10:00:00"), 8000010L, "click", 28.0, "{\"k\":28}"),
      (8000093L, ts("2025-03-13 11:00:00"), 8000010L, "view", 29.0, "{\"k\":29}"),
      // consecutive same-type events (self-loop transition)
      (8000101L, ts("2025-03-14 09:00:00"), 8000011L, "gps", 30.0, "{\"k\":30}"),
      (8000102L, ts("2025-03-14 09:01:00"), 8000011L, "gps", 31.0, "{\"k\":31}"),
      // route-deviation 5 km threshold (strict >, distance rounded to 3
      // decimals): user 8000013 is route 0 (id % 3); gps position is
      // (value/100, (event_id%100)/100). value 8.36 @ lon 0.08 lands
      // 4.99988 km from waypoint (0.05, 0.05) → round3 = 5.000 → NOT an
      // alert; value 8.37 lands 5.00817 → 5.008 → alert. Both are
      // 12.8 km from waypoint (0, 0), so the near waypoint governs.
      (8000108L, ts("2025-03-15 09:00:00"), 8000013L, "gps", 8.36, "{\"k\":32}"),
      (8000208L, ts("2025-03-15 09:05:00"), 8000013L, "gps", 8.37, "{\"k\":33}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    // ---- STREAMING boundary plants (r13 Next #2): the 11 st_* oracles
    // restate watermark arithmetic that had only ever been exercised
    // off-boundary. Fixed-timestamp anchors ABOVE the base range
    // (base max 2025-05-31) pin every max the watermarks derive from,
    // so each boundary below is exact by construction.
    //
    // st_windowed_late_counts / st_windowed_topk (user%5==0, batch
    // split on event_id parity, lateness 10 min, 5-min windows):
    //  - 8100002 (EVEN id → batch 1) at 2027-01-01 12:00:00 is the
    //    even-side max ⇒ WM₁ = 11:50:00 exactly (a multiple of the
    //    window size, so a window END can land ON it);
    //  - 8100013 (odd → batch 2) at 11:47 ⇒ window [11:45,11:50) end
    //    == WM₁ EXACTLY ⇒ late-dropped (emission needs end > WM);
    //  - 8100015 (odd) at 11:52 ⇒ end 11:55 > WM₁ ⇒ kept;
    //  - 8100011 (odd) at 13:00 lifts WM₂ to 12:50 so the kept window
    //    (and the anchor's own) emit, while its own window holds back.
    //
    // st_interval_join / st_outer_interval_join (purchase⋈view within
    // [l−4h, l], lateness 10 min, WM_final = min(max_l, max_r) − 10m):
    //  - 8200002/8200003 (user 8200001) purchase+view both at
    //    2026-06-01 12:00:00 pin max_l = max_r ⇒ WM_final = 11:50:00
    //    exactly, and match each other at r_ms == l_ms (upper endpoint);
    //  - 8200004 (user 8200007, viewless) unmatched purchase at
    //    EXACTLY 11:50:00.000 == WM_final ⇒ NOT null-emitted (the
    //    outer rule is strict l_ms < WM);
    //  - 8200006 (user 8200013, viewless) at 11:49:59.999 ⇒ the last
    //    millisecond that DOES null-emit;
    //  - user 8200021: purchase at 2025-06-02 12:00:00 with views at
    //    08:00:00.000 (EXACTLY l−4h ⇒ matched, BETWEEN is inclusive),
    //    07:59:59.999 (1 ms out ⇒ unmatched) and 12:00:00.001 (1 ms
    //    past the purchase ⇒ unmatched).
    val evAnchors = Seq(
      (8100002L, ts("2027-01-01 12:00:00"), 8100000L, "click", 50.0, "{\"k\":40}"),
      (8100011L, ts("2027-01-01 13:00:00"), 8100000L, "click", 51.0, "{\"k\":41}"),
      (8100013L, ts("2027-01-01 11:47:00"), 8100000L, "click", 52.0, "{\"k\":42}"),
      (8100015L, ts("2027-01-01 11:52:00"), 8100000L, "click", 53.0, "{\"k\":43}"),
      (8200002L, ts("2026-06-01 12:00:00"), 8200001L, "purchase", 54.0, "{\"k\":44}"),
      (8200003L, ts("2026-06-01 12:00:00"), 8200001L, "view", 55.0, "{\"k\":45}"),
      (8200004L, ts("2026-06-01 11:50:00"), 8200007L, "purchase", 56.0, "{\"k\":46}"),
      (8200006L, ts("2026-06-01 11:49:59.999"), 8200013L, "purchase", 57.0, "{\"k\":47}"),
      (8200022L, ts("2025-06-02 12:00:00"), 8200021L, "purchase", 58.0, "{\"k\":48}"),
      (8200023L, ts("2025-06-02 08:00:00"), 8200021L, "view", 59.0, "{\"k\":49}"),
      (8200024L, ts("2025-06-02 07:59:59.999"), 8200021L, "view", 60.0, "{\"k\":50}"),
      (8200025L, ts("2025-06-02 12:00:00.001"), 8200021L, "view", 61.0, "{\"k\":51}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val ev1 = plus(plus(evBase, evPlanted), evAnchors)

    // st_sessionize: the harness splits micro-batches at the midpoint
    // cutoff = lo + (hi − lo)/2 ms (runFileFedSessionize's formula —
    // replicated here on the composed frame, and the plants below stay
    // strictly inside (lo, hi) so they cannot move it). Three users
    // put the SPLIT ITSELF on the 30:00 session-gap boundary:
    //  - 8300001: cutoff−10m | cutoff+20m (gap EXACTLY 30:00 ACROSS
    //    the split ⇒ the open state must absorb the batch-2 event into
    //    ONE session), then +31m opens session 2 so it emits;
    //  - 8300002: cutoff−10m | cutoff+20m+1s (30:01 across the split ⇒
    //    state closes, two sessions), then +31m;
    //  - 8300003: cutoff−30m | EXACTLY cutoff (the batch-2 boundary
    //    row, gap exactly 30:00 ⇒ same session), then +45m.
    val (loMs, hiMs) = ev1
      .agg(min(unix_millis($"ts")), max(unix_millis($"ts")))
      .as[(Long, Long)].head()
    val cutoffMs = loMs + (hiMs - loMs) / 2
    def atMs(ms: Long) = new java.sql.Timestamp(ms)
    val sessPlants = Seq(
      (8300101L, atMs(cutoffMs - 10 * M), 8300001L, "click", 62.0, "{\"k\":52}"),
      (8300102L, atMs(cutoffMs + 20 * M), 8300001L, "click", 63.0, "{\"k\":53}"),
      (8300103L, atMs(cutoffMs + 51 * M), 8300001L, "click", 64.0, "{\"k\":54}"),
      (8300201L, atMs(cutoffMs - 10 * M), 8300002L, "click", 65.0, "{\"k\":55}"),
      (8300202L, atMs(cutoffMs + 20 * M + 1000), 8300002L, "click", 66.0, "{\"k\":56}"),
      (8300203L, atMs(cutoffMs + 51 * M + 1000), 8300002L, "click", 67.0, "{\"k\":57}"),
      (8300301L, atMs(cutoffMs - 30 * M), 8300003L, "click", 68.0, "{\"k\":58}"),
      (8300302L, atMs(cutoffMs), 8300003L, "click", 69.0, "{\"k\":59}"),
      (8300303L, atMs(cutoffMs + 45 * M), 8300003L, "click", 70.0, "{\"k\":60}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val ev2 = plus(ev1, sessPlants)

    // st_dedup_ttl: the harness splits the user%5==0 stream at
    // us·2 ≤ (min_us + max_us) and REDELIVERS every 100th batch-1 row
    // in batch 2. Batch 2 opens with WM₁ = floor_ms(max batch-1 event
    // time) − 30:00 — plant a redelivered-eligible row (event_id and
    // user_id ≡ 0 mod 100·5) with ts EXACTLY at that horizon: its
    // redelivery is the knife-edge between the two drop paths (state
    // live ⇒ duplicate-drop vs ts < WM ⇒ late-drop); either way the
    // contract is that redelivery changes NOTHING.
    val ttlSub = ev2.filter(pmod($"user_id", lit(5L)) === 0)
    val (mnUs, mxUs) = ttlSub
      .agg(min(unix_micros($"ts")), max(unix_micros($"ts")))
      .as[(Long, Long)].head()
    val midUs = mnUs + mxUs
    val maxB1Us = ttlSub.filter(unix_micros($"ts") * 2 <= lit(midUs))
      .agg(max(unix_micros($"ts"))).as[Long].head()
    val ttlPlant = Seq(
      (8400000L, atMs(maxB1Us / 1000 - 30 * M), 8400000L, "click", 71.0,
        "{\"k\":61}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    plus(ev2, ttlPlant)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // ---- relational slice: base via CorpusGen + planted boundary rows
    CorpusGen.relational(spark, dir, 6000L, Seed)
    def grow(table: String)(planted: DataFrame): Unit = {
      val base = spark.read.parquet(s"$dir/$table.parquet")
      val out = plus(base, planted)
      out.write.mode("overwrite").parquet(s"$dir/${table}_tmp.parquet")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
      fs.delete(p, true)
      fs.rename(new org.apache.hadoop.fs.Path(s"$dir/${table}_tmp.parquet"), p)
    }
    def o(k: Long, price: Double, date: String) =
      (k, k % 100, price, java.sql.Timestamp.valueOf(date + " 00:00:00"), "O", "1-URGENT")
    grow("orders")(Seq(
      // skyline strict-dominance ties: equal cents (different delay) and
      // equal delay (different cents) ⇒ neither dominates the other;
      // plus an exact duplicate point
      o(9000001L, 4444.44, "1996-05-01"),
      o(9000002L, 4444.44, "1996-05-01"),
      o(9000003L, 4444.44, "1996-05-01"),
      o(9000004L, 3333.33, "1996-05-01"),
      // q53/q110 carriers (values don't matter, keys do)
      o(9000011L, 100.00, "1996-06-01"),
      o(9000012L, 200.00, "1996-06-02"),
      o(9000013L, 300.00, "1996-06-03"),
      // min-delay TIE on the skyline frontier: both ship 3000 days
      // early (below any base delay, so the tie IS the global min) at
      // different prices — the lower-priced one survives ONLY under
      // the correct `<=` sweep (dominance needs a strictly smaller
      // delay; the strict `<` latent bug found in r13 drops it)
      o(9000021L, 1111.11, "2000-01-01"),
      o(9000022L, 2222.22, "2000-01-01"))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
        "o_orderstatus", "o_orderpriority"))
    def li(ok: Long, ln: Int, pk: Long, qty: Double, ship: String,
           disc: Double = 0.05) =
      (ok, pk, 1L, ln, qty, 500.0, disc, 0.04,
        "N", "O", java.sql.Timestamp.valueOf(ship + " 00:00:00"))
    grow("lineitem")(Seq(
      // delays for the skyline points above: 9000001/9000002 tie on both
      // axes (dup), 9000003 same cents shorter delay, 9000004 same delay
      // smaller cents
      li(9000001L, 0, 950001L, 1.0, "1996-05-11"),   // delay 10, qty exactly
      li(9000001L, 1, 950001L, 9.0, "1996-05-21"),   //   0.2·avg(5.0) = 1.0 (q53 strict <)
      li(9000002L, 0, 950004L, 5.0, "1996-05-11"),   // delay 10 (dup point)
      li(9000003L, 0, 950004L, 5.0, "1996-05-06"),   // same cents, delay 5
      li(9000004L, 0, 950004L, 5.0, "1996-05-06"),   // same delay, fewer cents
      // basket pair {950002,950003} in exactly TWO orders (HAVING >= 2
      // sits exactly on the boundary); {950002,950004} in exactly one
      li(9000011L, 0, 950002L, 2.0, "1996-06-11", 0.0),  // discount floor
      li(9000011L, 1, 950003L, 3.0, "1996-06-12", 0.10), // discount ceiling
      li(9000012L, 0, 950002L, 4.0, "1996-06-13"),
      li(9000012L, 1, 950003L, 5.0, "1996-06-14"),
      li(9000013L, 0, 950002L, 6.0, "1996-06-03"),   // shipdate == orderdate
      li(9000013L, 1, 950004L, 7.0, "1996-06-20"),
      // the skyline-frontier tie pair: delay exactly −3000 days
      li(9000021L, 0, 950004L, 8.0, "1991-10-16"),
      li(9000022L, 0, 950004L, 9.0, "1991-10-16"))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"))
    grow("part")(Seq(
      (950001L, "red widget", "Brand#1", "ECONOMY", 10, 901.00),
      (950002L, "blue bolt", "Brand#2", "SMALL", 20, 902.00),
      (950003L, "hot gear", "Brand#2", "LARGE", 30, 903.00),
      (950004L, "old anvil", "Brand#3", "PROMO", 40, 904.00))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice"))
    grow("customer")(Seq(
      // acctbal exactly 0 and an exact cross-table balance tie
      (9000001L, "Customer#009000001", 7, 0.0, "BUILDING"),
      (9000002L, "Customer#009000002", 7, 123.45, "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    grow("supplier")(Seq(
      (950001L, "Supplier#000950001", 7, 0.0),
      (950002L, "Supplier#000950002", 7, 123.45))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
  }

  // ---------------------------------------------------------------- fleet

  def writeFleet(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val base = DataGen.all(spark, FleetCfg)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def d(s: String) = java.sql.Date.valueOf(s)

    val vehicles = plus(base("vehicles"), Seq(
      (9001L, "AR909001", "Van", 3000.0, "Diesel", d("2022-01-01"), "active"))
      .toDF("vehicle_id", "license_plate", "vehicle_type", "capacity_kg",
        "fuel_type", "acquisition_date", "status"))

    // asOf = 2025-11-28: expiry at EXACTLY asOf+30d (2025-12-28) is
    // excluded by fl_q02's strict `<`; +29d is the last included day;
    // one long-expired license rides along (no lower bound in the ref)
    val drivers = plus(base("drivers"), Seq(
      (9001L, "EMP_901", "Nombre901", "Apellido901", "LIC_90001",
        d("2025-12-28"), "+54-11-0000001", d("2020-01-01"), "active"),
      (9002L, "EMP_902", "Nombre902", "Apellido902", "LIC_90002",
        d("2025-12-27"), "+54-11-0000002", d("2020-01-01"), "active"),
      (9003L, "EMP_903", "Nombre903", "Apellido903", "LIC_90003",
        d("2020-06-01"), "+54-11-0000003", d("2019-01-01"), "inactive"))
      .toDF("driver_id", "employee_code", "first_name", "last_name",
        "license_number", "license_expiry", "phone", "hire_date", "status"))

    // horizon boundaries: departures at EXACTLY asOf−60d / asOf−90d /
    // asOf−180d midnight (fl_q04 / fl_q10 / fl_q06 `>=` windows), a
    // midnight-straddling trip, and a trip departing at 00:00:00 sharp
    val trips = plus(base("trips"), Seq(
      (90001L, 9001L, 9001L, 1L, ts("2025-11-20 23:30:00"), ts("2025-11-21 00:30:00"),
        12.50, 1500.00, "completed"),
      (90002L, 9001L, 9002L, 1L, ts("2025-09-29 00:00:00"), ts("2025-09-29 05:00:00"),
        20.00, 1200.00, "completed"),
      (90003L, 9001L, 9001L, 2L, ts("2025-08-30 00:00:00"), ts("2025-08-30 04:00:00"),
        18.00, 1000.00, "completed"),
      (90004L, 9001L, 9002L, 2L, ts("2025-06-01 00:00:00"), ts("2025-06-01 03:00:00"),
        15.00, 900.00, "completed"),
      (90005L, 9001L, 9001L, 3L, ts("2025-11-22 00:00:00"), ts("2025-11-22 02:00:00"),
        10.00, 800.00, "in_progress"))
      .toDF("trip_id", "vehicle_id", "driver_id", "route_id",
        "departure_datetime", "arrival_datetime", "fuel_consumed_liters",
        "total_weight_kg", "status"))

    // the daily-ETL gates ingest the corpus's LAST delivered date —
    // plant the boundary cluster ON that date so the fact build and
    // the delay flags meet it (computed from the generated base, so
    // still fully deterministic for a fixed seed)
    val lastDay = base("deliveries")
      .agg(max(to_date(col("delivered_datetime")))).as[java.sql.Date]
      .head.toString
    def del(id: Long, trip: Long, sched: java.sql.Timestamp,
            deliv: java.sql.Timestamp, status: String) =
      (id, trip, f"TN-90$id%08d", "Cliente_001", "Calle 1 Nro 1000",
        25.0, sched, Option(deliv), status, true)
    val deliveries = plus(base("deliveries"), Seq(
      // delivered at scheduled + EXACTLY 30:00 → NOT delayed (strict >)
      del(900001L, 90001L, ts("2025-11-20 23:40:00"), ts("2025-11-21 00:10:00"), "delivered"),
      // +30:00 + 1s → delayed; also straddles midnight with its trip
      del(900002L, 90001L, ts("2025-11-20 23:41:00"), ts("2025-11-21 00:11:01"), "delivered"),
      // delivered == scheduled: on-time under fl_q10's `<=`, diff 0
      del(900003L, 90002L, ts("2025-09-29 01:00:00"), ts("2025-09-29 01:00:00"), "delivered"),
      // early delivery (negative diff)
      del(900004L, 90002L, ts("2025-09-29 02:00:00"), ts("2025-09-29 01:45:00"), "delivered"),
      // scheduled at EXACTLY asOf−90d midnight (fl_q08 window `>=`)
      del(900005L, 90003L, ts("2025-08-30 00:00:00"), ts("2025-08-30 00:20:00"), "delivered"),
      // pivot hour boundaries: 05:59 (out), 06:00 (in), 22:59 (in), 23:00 (out)
      del(900006L, 90001L, ts("2025-11-21 05:59:00"), ts("2025-11-21 06:30:00"), "delivered"),
      del(900007L, 90001L, ts("2025-11-21 06:00:00"), ts("2025-11-21 06:40:00"), "delivered"),
      del(900008L, 90001L, ts("2025-11-21 22:59:00"), ts("2025-11-21 23:20:00"), "delivered"),
      del(900009L, 90001L, ts("2025-11-21 23:00:00"), ts("2025-11-21 23:30:00"), "delivered"),
      // pending with NULL delivered_datetime
      del(900010L, 90005L, ts("2025-11-22 01:00:00"), null, "pending"),
      // boundary cluster ON the ETL day: exact-30:00 delay, zero delay,
      // and a delivery at the day's 00:00:00 sharp
      del(900011L, 90001L, ts(s"$lastDay 10:00:00"), ts(s"$lastDay 10:30:00"), "delivered"),
      del(900012L, 90001L, ts(s"$lastDay 11:00:00"), ts(s"$lastDay 11:00:00"), "delivered"),
      del(900013L, 90001L, ts(s"$lastDay 00:00:00"), ts(s"$lastDay 00:00:00"), "delivered"))
      .toDF("delivery_id", "trip_id", "tracking_number", "customer_name",
        "delivery_address", "package_weight_kg", "scheduled_datetime",
        "delivered_datetime", "delivery_status", "recipient_signature"))

    val maintenance = plus(base("maintenance"), Seq(
      (90001L, 9001L, d("2025-11-01"), "Cambio de aceite", "", 5000.0,
        d("2025-12-01"), "Taller_1"))
      .toDF("maintenance_id", "vehicle_id", "maintenance_date",
        "maintenance_type", "description", "cost", "next_maintenance_date",
        "performed_by"))

    // same at-rest layout as DataGen.writeAll: deliveries month-
    // partitioned + day-sorted, everything else plain parquet
    val withPlants = Map(
      "vehicles" -> vehicles, "drivers" -> drivers,
      "routes" -> base("routes"), "trips" -> trips,
      "deliveries" -> deliveries, "maintenance" -> maintenance)
    // every table overwrites, so the audit log must too — an append
    // here would accumulate one generation's rows per re-run and the
    // fixture claims byte-stability (modulo the log's timestamps)
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$dir/load_logs"), true): Unit
    LoadLog.batch(spark, dir, t => s"datagen_$t")(withPlants.map { case (name, df) =>
      LoadLog.write(name, df) { df =>
        if (name == "deliveries") {
          val parted = df
            .withColumn("p_month",
              trunc(col("delivered_datetime").cast("date"), "month"))
            .repartition(col("p_month"))
            .sortWithinPartitions(col("p_month"), col("delivered_datetime"))
          graft.sources.Lake.writePartitioned(parted, s"$dir/$name", Seq("p_month"))
        } else df.write.mode("overwrite").parquet(s"$dir/$name")
      }
    }.toSeq)
    new java.io.File(dir, "_OLTP_READY").createNewFile(): Unit
  }
}
