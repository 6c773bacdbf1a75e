package graft.tools

import graft.CorpusGen
import graft.operators.StreamingOps

/** Micro-batch SPLIT-AXIS fuzz (r13 verdict Next #3): the st_* gates
  * replay fixed two-batch splits, but WHERE the split lands relative
  * to a session gap / watermark advance is a semantic axis — the
  * same-batch-dedup, cross-batch-state-drop, and late-drop code paths
  * are toggled by split placement, which data seeds alone never vary.
  * This main sweeps ≥3 split placements per split-fed st_* entry under
  * fresh corpus seeds, dumping each placement with the EXACT Verify
  * machinery so check.py hash-compares Spark vs DuckDB per placement.
  *
  * Two split families (`spark.graft.streaming.split`, read by the
  * harnesses in operators/StreamingOps.scala):
  *  - EVENT-TIME splits (`frac:<f>`, f ∈ 0.25/0.5/0.75) for
  *    st_sessionize, st_dedup_ttl, st_interval_join,
  *    st_outer_interval_join — these four oracles are split-INVARIANT
  *    by the entries' own semantics (sessions merge across state, the
  *    TTL contract is redelivery-changes-nothing, every batch-2 row
  *    sits above WM₁ for any event-time cut), so the unmodified
  *    DuckDB oracle gates every placement.
  *  - MODULUS splits (`par:<shift>:<mod>` ∈ 0:2/1:2/0:3) for the six
  *    id-split harnesses. st_delivery_verification /
  *    st_stream_static_enrich / st_eta_updates are split-invariant
  *    (first-seen DISTINCT or stateless joins). st_windowed_late_counts
  *    / st_windowed_topk / st_stream_dedup are split-DEPENDENT — their
  *    oracles restate the batch assignment — so this tool rewrites
  *    exactly the split predicate inside their oracle SQL (with a
  *    pattern-presence guard) before check.py runs; the default spec
  *    applies no rewrite and reproduces the gate bit-for-bit.
  *
  * Usage: runMain graft.tools.SplitFuzz <workDir> <seedsCsv>
  * Output: <workDir>/corpus_s<seed>/ plus one
  * <workDir>/out_s<seed>_<spec>/ dump per (seed, split placement);
  * compare each with tools/check.py.
  */
object SplitFuzz {

  val FracEntries: Seq[String] = Seq(
    "st_sessionize", "st_dedup_ttl", "st_interval_join",
    "st_outer_interval_join")

  val ParEntries: Seq[String] = Seq(
    "st_windowed_late_counts", "st_windowed_topk", "st_stream_dedup",
    "st_delivery_verification", "st_stream_static_enrich", "st_eta_updates")

  val FracSpecs: Seq[String] = Seq("frac:0.25", "frac:0.5", "frac:0.75")
  val ParSpecs: Seq[String] = Seq("par:0:2", "par:1:2", "par:0:3")

  /** Oracle-SQL rewrites for the split-DEPENDENT entries: the batch-
    * assignment predicate changes with the spec, nothing else. */
  def rewrites(spec: String): Map[String, Seq[(String, String)]] = {
    def win(a: String, b: String) = Seq(
      "WHERE event_id % 2 = 0" -> s"WHERE $a",
      "WHERE event_id % 2 = 1" -> s"WHERE $b")
    spec match {
      case "par:1:2" => Map(
        "st_windowed_late_counts" ->
          win("(event_id + 1) % 2 = 0", "(event_id + 1) % 2 = 1"),
        "st_windowed_topk" ->
          win("(event_id + 1) % 2 = 0", "(event_id + 1) % 2 = 1"),
        "st_stream_dedup" -> Seq(
          "doc_id % 2 AS par" -> "(doc_id + 1) % 2 AS par"))
      case "par:0:3" => Map(
        "st_windowed_late_counts" ->
          win("event_id % 3 = 0", "event_id % 3 <> 0"),
        "st_windowed_topk" ->
          win("event_id % 3 = 0", "event_id % 3 <> 0"),
        "st_stream_dedup" -> Seq(
          "doc_id % 2 AS par" ->
            "CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END AS par"))
      case _ => Map.empty
    }
  }

  /** The dumped oracle map for `spec`: the registry SQL with the
    * split predicates rewritten. Exposed for the unit test. */
  def oracleFor(spec: String): Map[String, String] = {
    val rw = rewrites(spec)
    graft.SparkEntry.oracleSql.map { case (k, sql) =>
      k -> rw.get(k).fold(sql)(_.foldLeft(sql) {
        case (acc, (from, to)) =>
          require(acc.contains(from),
            s"$k: oracle no longer contains the split pattern '$from' — " +
              "update SplitFuzz.rewrites alongside the oracle")
          acc.replace(from, to)
      })
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: SplitFuzz <workDir> <seedsCsv>")
      sys.exit(2)
    }
    val Array(workDir, seedsCsv) = args
    val seeds = seedsCsv.split(",").map(_.trim.toLong).toSeq
    require(seeds.nonEmpty, "empty seeds list")
    val spark = graft.GraftSession("graft-splitfuzz")
    spark.sparkContext.setLogLevel("WARN")
    seeds.foreach { seed =>
      val dir = s"$workDir/corpus_s$seed"
      // the st_* surface reads events + documents + customer; same
      // reseeded corpus recipe as tools.Fuzz
      CorpusGen.documents(spark, 5000L, seed)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      CorpusGen.events(spark, 100000L, seed)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      CorpusGen.relational(spark, dir, 15000L, seed)
      val placements =
        FracSpecs.map(_ -> FracEntries) ++ ParSpecs.map(_ -> ParEntries)
      placements.foreach { case (spec, entries) =>
        val tag = spec.replace(':', '_').replace('.', 'p')
        val out = s"$workDir/out_s${seed}_$tag"
        spark.conf.set(StreamingOps.SplitConf, spec)
        try graft.Verify.dump(spark, dir, out, entries.toSet)
        finally spark.conf.unset(StreamingOps.SplitConf)
        // re-serialize oracle_sql.json with the spec's rewrites (the
        // dump wrote the registry spelling)
        if (rewrites(spec).nonEmpty)
          graft.Verify.json.writeValue(
            new java.io.File(s"$out/oracle_sql.json"), oracleFor(spec))
        println(s"[splitfuzz] seed=$seed spec=$spec -> $out")
      }
    }
  }
}
