package graft.tools

import graft.CorpusGen

/** Seed-randomized differential sweep: every hash-exact result of
  * the gate fixtures is proven on ONE deterministic corpus
  * family — the same generator seed behind sf0.001/0.01/0.1 and their
  * Sf1Gen derivatives. A semantics bug that the fixed fixtures happen
  * to mask (tie-break order, empty-group edges, boundary dates, a
  * selectivity knife-edge) survives every one of those gates. This
  * main writes N fresh corpora with [[graft.CorpusGen.write]] from N
  * different seeds (documents/embeddings/events + the relational slice
  * — every table the §2.14 operators read) and dumps a representative
  * entry subset per seed with the EXACT Verify machinery, so the driver-side
  * check.py can hash-compare Spark vs DuckDB on corpora none of the
  * fixtures ever saw.
  *
  * Usage: runMain graft.tools.Fuzz <workDir> <seedsCsv> <entriesCsv>
  * Output: <workDir>/corpus_s<seed>/ (parquet tables) and
  * <workDir>/out_s<seed>/ (Verify dump + oracle_sql.json) per seed;
  * compare each pair with tools/check.py.
  */
object Fuzz {
  def main(args: Array[String]): Unit = {
    // exactly 3 args; an accidentally-empty entries CSV would silently
    // widen to a full dump of every entry (hours, not minutes) — the
    // whole-surface sweep must be asked for explicitly with "ALL"
    if (args.length != 3) {
      System.err.println(
        "usage: Fuzz <workDir> <seedsCsv> <entriesCsv|ALL>\n" +
        "  entriesCsv: comma-separated entry names, or the literal ALL\n" +
        "  to dump the whole oracle surface per seed")
      sys.exit(2)
    }
    val Array(workDir, seedsCsv, entriesCsv) = args
    val seeds = seedsCsv.split(",").map(_.trim.toLong).toSeq
    val entries =
      if (entriesCsv.trim == "ALL") Array.empty[String]
      else {
        val es = entriesCsv.split(",").map(_.trim).filter(_.nonEmpty)
        require(es.nonEmpty, "empty entries list (use ALL for the full surface)")
        es
      }
    val spark = graft.GraftSession("graft-fuzz")
    spark.sparkContext.setLogLevel("WARN")
    try seeds.foreach { seed =>
      val dir = s"$workDir/corpus_s$seed"
      // CorpusGen draws are xxhash64(seed, salt, rowIdentity), so each
      // seed is a genuinely different value stream over the same
      // schema/cardinality recipe
      CorpusGen.write(spark, dir, seed)
      // the FleetLogix family, reseeded too: the fixture gives the fl_
      // gates exactly ONE seed (42), and boundary semantics (delay =
      // 30 min, expiry = asOf + 30 d, midnight straddles, SCD2 tie
      // days) need fresh value streams.
      // Full reference volume (100k trips) so the fuzz drives the same
      // code paths as the gate; parquet lands under a per-seed dir the
      // re-derived oracle SQL points at.
      graft.operators.FleetOps.reconfigure(
        graft.etl.DataGen.Config(seed = seed),
        Some(new java.io.File(s"$workDir/fleet_s$seed").getAbsolutePath))
      // Verify's own dump loop (failures.json contract included)
      graft.Verify.dump(spark, dir, s"$workDir/out_s$seed", entries.toSet)
      println(s"[fuzz] seed $seed dumped")
    }
    // leave the shared JVM on the gate fixture, not the last fuzz seed
    finally graft.operators.FleetOps.reconfigure(graft.etl.DataGen.Config())
  }
}
