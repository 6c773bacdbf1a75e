package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.FnvHash64

/** Physical-plan shape assertions (SURVEY §4): the optimizations the
  * reference buys with indexes/partitioning must actually materialize
  * in our Catalyst plans — pushdown, pruning, broadcast, codegen,
  * top-k. Guarding them in tests keeps a future refactor from silently
  * regressing to a full scan or a shuffled join.
  */
class PlanSpec extends GraftSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf("sf0.001"))

  test("column pruning: q01 reads only the needed lineitem columns (X1)") {
    val p = plan(q("q01_agg_pricing"))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_partkey"), "projection must prune unused columns")
    assert(!p.contains("l_suppkey"))
  }

  test("predicate pushdown reaches the parquet scan (X2/X8)") {
    val df = Tables.lineitem(spark, sf("sf0.001"))
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_quantity"))
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity"),
      s"expected pushed filter in:\n$p")
  }

  test("dimension joins broadcast (X3/X5): q07 has broadcast-hash joins") {
    val p = plan(q("q07_join3_rollup"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"))
  }

  test("semi/anti joins plan as such (J6/X12)") {
    assert(plan(q("q10_semi_join")).contains("LeftSemi"))
    assert(plan(q("q09_anti_join")).contains("LeftAnti"))
  }

  test("top-k plans as TakeOrderedAndProject (O2)") {
    assert(plan(q("q15_topk")).contains("TakeOrderedAndProject"))
  }

  test("round-6 corpus ops keep their intended physical shapes") {
    // q59 hash split: one codegen'd projection over the scan. The only
    // allowed Exchange is the range partition of the gate's output
    // ORDER BY — a hash Exchange would mean an accidental agg/join
    val split = plan(q("q59_hash_split"))
    assert(!split.contains("Exchange hashpartitioning") &&
      !split.contains("HashAggregate") && !split.contains("Join"),
      s"hash split must stay a projection:\n${split.linesIterator.take(15).mkString("\n")}")
    // q62 vocab: ORDER BY + LIMIT must collapse to TakeOrderedAndProject
    assert(plan(q("q62_vocab_topk")).contains("TakeOrderedAndProject"))
    // q63 packing: the cumulative-sum window must be hash-partitioned
    // on the shard key, never a single-partition global window
    val pack = plan(q("q63_sequence_packing"))
    assert(pack.contains("Window"))
    assert(pack.contains("hashpartitioning(source"),
      s"packing window must partition by the shard key:\n${pack.linesIterator.take(20).mkString("\n")}")
    // q58 span dedup: the keep-first step must be a partial-aggregatable
    // min-struct HashAggregate, never a per-span row_number Window — a
    // Window would put every occurrence of a hot boilerplate span on a
    // single reducer (verdict r6 Wrong #1)
    val span = plan(q("q58_span_dedup"))
    assert(!span.contains("Window"),
      s"span dedup must not window on the span key:\n${span.linesIterator.take(25).mkString("\n")}")
    assert(span.contains("partial_min") || span.contains("HashAggregate"),
      s"span keep-first must be an aggregate:\n${span.linesIterator.take(25).mkString("\n")}")
  }

  test("q64 tf-idf top-3: bounded topk_struct aggregate, no rank window (advice r7)") {
    // the per-doc top-3 must be the 3-slot TopKStruct aggregate under
    // ObjectHashAggregate — a row_number Window would sort the entire
    // exploded token stream per doc (the 9.5×-at-100× curve bottleneck
    // measured in r7)
    val p = plan(q("q64_tfidf_terms"))
    assert(!p.contains("Window"),
      s"q64 must not rank-window the token stream:\n${p.linesIterator.take(25).mkString("\n")}")
    assert(p.contains("ObjectHashAggregate") && p.contains("topk_struct"),
      s"q64 top-3 must be the bounded topk_struct aggregate:\n${p.linesIterator.take(25).mkString("\n")}")
  }

  test("q73b FNV production classifier: codegen fnv64, broadcast weights") {
    // same shape contract as q73, with the md5 projection replaced by
    // the codegen'd fnv64 expression — and it must actually be fnv64
    // in the plan, not a fallback
    val p = plan(q("q73b_quality_classifier_fnv"))
    assert(p.contains("fnv64"),
      s"production classifier must hash with fnv64:\n${p.linesIterator.take(25).mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"only the doc aggregate may shuffle the corpus:\n${p.linesIterator.take(25).mkString("\n")}")
  }

  test("q39b sharded sessionize: deterministic (user,__shard) windows, no per-user-only stream window") {
    // every event-stream Window must key on (user_id, __shard) — the
    // DETERMINISTIC time-bucket shard (a hashpartitioning(user_id)
    // window over the full stream would be the single-reducer-per-user
    // shape q39b exists to avoid). No spark_partition_id may appear
    // anywhere: partition ids are nondeterministic across plan-branch
    // evaluations and corrupted results at sf0.1 (the coalesce-write
    // regression in AdvancedSpec).
    val p = plan(q("q39b_sessionize_sharded")).toLowerCase
    assert(p.contains("hashpartitioning(user_id") && p.contains("__shard"),
      s"event-stream windows must key on (user, __shard):\n${p.linesIterator.take(25).mkString("\n")}")
    assert(!p.contains("spark_partition_id"),
      "q39b must not depend on physical partition ids")
  }

  test("r8 additions: sketch→recount and cap/sample stay window-free (q81/q82/q83)") {
    // q81: the MG sketch and the top-k must both be bounded-state
    // ObjectHashAggregates, the candidate join a broadcast, and no rank
    // window anywhere; q82/q83: one bounded aggregate per source — a
    // hot domain never lands a single-reducer window
    val hh = plan(q("q81_heavy_hitters"))
    assert(hh.contains("misra_gries") && hh.contains("topk_struct"),
      s"q81 must sketch then topk:\n${hh.linesIterator.take(25).mkString("\n")}")
    assert(hh.contains("BroadcastHashJoin"),
      s"q81 candidates must broadcast:\n${hh.linesIterator.take(25).mkString("\n")}")
    assert(!hh.contains("Window"))
    Seq("q82_group_sample", "q83_domain_cap").foreach { name =>
      val p = plan(q(name))
      assert(!p.contains("Window") && p.contains("topk_struct"),
        s"$name must be a bounded aggregate, not a window:\n${p.linesIterator.take(25).mkString("\n")}")
    }
  }

  test("q84 stats: one scan + value-histogram chain, no Expand; approx twin Expand-free (E45)") {
    // r12 job-floor rewrite: the exact stats derive from ONE exploded
    // (column, value) histogram — a single lineitem scan feeding a
    // Generate + two-level aggregate chain. No Expand (the old
    // countDistinct branch), no second scan, no 1-row crossJoin.
    val ep = plan(q("q84_table_stats"))
    assert(!ep.contains("Expand"),
      s"exact stats must use the histogram chain, not Expand:\n${ep.linesIterator.take(20).mkString("\n")}")
    assert(ep.contains("Generate"),
      "the (column, value) pair stream is an explode (Generate)")
    assert("Scan parquet".r.findAllIn(ep).size == 1,
      s"exact stats must scan lineitem exactly once:\n${ep.linesIterator.take(20).mkString("\n")}")
    assert(!ep.contains("Join"), "no branch-join: one aggregation chain")
    val ap = plan(q("q84b_table_stats_approx"))
    assert(!ap.contains("Expand"),
      s"approx stats must profile all columns in one un-expanded pass:\n${ap.linesIterator.take(20).mkString("\n")}")
  }

  test("q146 skyline: value-domain sweep broadcasts back, no row-grain window, no join loops (E110)") {
    // the scale shape (r13-pinned after the <= tie fix): per-price min
    // (hash agg), one window over the <= #distinct-prices frame, and a
    // BROADCAST join back to the fact rows. A nested-loop/cartesian
    // here would be the O(n²) NOT-EXISTS shape the oracle abandoned;
    // a sort-merge join back would shuffle the full fact for a
    // dim-sized sweep table.
    val ep = plan(q("q146_pareto_skyline"))
    assert(ep.contains("BroadcastHashJoin"),
      s"the sweep table must broadcast-hash-join back to the fact:\n${ep.linesIterator.take(25).mkString("\n")}")
    assert(!ep.contains("CartesianProduct") && !ep.contains("BroadcastNestedLoopJoin"),
      "no all-pairs shape anywhere in the skyline plan")
  }

  test("q73 quality classifier: broadcast weights, one corpus shuffle (E36)") {
    // feature explode + md5-bucket projection stay scan-local; the
    // model joins as a broadcast (never a shuffle of the feature
    // stream against a 1024-row table); the only hash Exchange is the
    // per-doc aggregate — partial sums collapse map-side first
    val p = plan(q("q73_quality_classifier"))
    assert(p.contains("BroadcastHashJoin"),
      s"weights must broadcast:\n${p.linesIterator.take(25).mkString("\n")}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"only the doc aggregate may shuffle the corpus:\n${p.linesIterator.take(25).mkString("\n")}")
  }

  test("round-7 composed scale paths never nested-loop or cross-join") {
    // q67 IVFPQ, q68 LSH cluster chain, q34 banded MinHash: candidates
    // come from equi-joins/cogroups on bucket/band keys — a
    // CartesianProduct or BroadcastNestedLoopJoin anywhere would mean
    // the pair space leaked into the plan
    Seq("q67_ann_ivfpq", "q68_cluster_dedup_lsh", "q34_minhash_lsh").foreach { name =>
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$name must stay equi-join-only:\n${p.linesIterator.take(25).mkString("\n")}")
    }
  }

  test("r7 corpus additions keep their intended physical shapes") {
    // q69 mixture sample: the per-source cumulative sum must ride the
    // two-stage prefix-sum over DETERMINISTIC fp-prefix shards — a
    // Window partitioned on source alone over the full data would
    // serialize each source through one reducer, and a
    // spark_partition_id shard would be nondeterministic across
    // plan-branch evaluations (the q39b sf0.1 corruption)
    val mix = plan(q("q69_mixture_sample")).toLowerCase
    assert(mix.contains("hashpartitioning(__shard"),
      s"bulk window must key on (__shard, source):\n${mix.linesIterator.take(25).mkString("\n")}")
    assert(!mix.contains("spark_partition_id"),
      "mixture sample must not depend on physical partition ids")
    // q70 PII redaction: a pure projection — no aggregate, no join;
    // the only Exchange is the output ORDER BY range partition
    val pii = plan(q("q70_pii_redact"))
    assert(!pii.contains("Exchange hashpartitioning") &&
      !pii.contains("HashAggregate") && !pii.contains("Join"),
      s"PII redaction must stay a projection:\n${pii.linesIterator.take(15).mkString("\n")}")
    // q71 bloom decontamination: the corpus side must NOT shuffle its
    // grams into a join — membership is a broadcast-filter scan, and
    // the only join-free aggregation is the per-doc candidate count
    val bloom = plan(q("q71_bloom_decontaminate"))
    assert(!bloom.contains("Join"),
      s"bloom decontamination must not join the corpus grams:\n${bloom.linesIterator.take(15).mkString("\n")}")
    // q72 source overlap: the self-join must key on fp (equi-join with
    // the source inequality as a residual filter), never a nested loop
    val overlap = plan(q("q72_source_overlap"))
    assert(!overlap.contains("BroadcastNestedLoopJoin") &&
      !overlap.contains("CartesianProduct"),
      s"source overlap must equi-join on fp:\n${overlap.linesIterator.take(15).mkString("\n")}")
    // q75 context chunking: a codegen'd projection + sequence explode —
    // no aggregate, no join; the only Exchange is the gate ORDER BY
    val chunk = plan(q("q75_context_chunks"))
    assert(!chunk.contains("Exchange hashpartitioning") &&
      !chunk.contains("HashAggregate") && !chunk.contains("Join"),
      s"chunking must stay a projection + explode:\n${chunk.linesIterator.take(15).mkString("\n")}")
    // q76 survivor election: the per-cluster keep decision must be a
    // partial-aggregatable max(struct) HashAggregate + join-back, never
    // a per-cluster row_number Window (the q58 single-reducer hazard —
    // a degenerate boilerplate cluster would land one reducer)
    val surv = plan(q("q76_dedup_survivors"))
    assert(!surv.contains("Window"),
      s"survivor election must not window on the cluster key:\n${surv.linesIterator.take(25).mkString("\n")}")
  }

  test("whole-stage codegen spans the aggregation hot path") {
    // AQE finalizes the physical plan lazily — run the query, then
    // inspect the final plan for codegen stage markers
    val df = q("q01_agg_pricing")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages print as `*(n)` markers in the final AQE plan
    assert(p.contains("*("), p.linesIterator.take(20).mkString("\n"))
  }

  test("partition pruning on the date-partitioned fact (S8/X2)") {
    import graft.etl._
    val dir = tempDir("graft_prune")
    val tables = DataGen.all(spark, DataGen.Config(nTrips = 500, nMaintenance = 50))
    val t = Oltp(tables("vehicles"), tables("drivers"), tables("routes"),
      tables("trips"), tables("deliveries"), tables("maintenance"))
    val day = Pipeline.nthLastDateWithData(t, 0).get
    Pipeline.load(Pipeline.run(spark, t, day), dir)
    val fact = spark.read.parquet(s"$dir/fact_deliveries")
    val pruned = fact.filter(col("p_date_key") === 0)
    val p = plan(pruned)
    assert(p.contains("PartitionFilters") && p.contains("p_date_key"),
      s"expected partition filter in:\n$p")
    assert(pruned.count() === 0)
  }

  test("daily ETL extract prunes the date-partitioned deliveries store (S2/X2)") {
    import graft.etl._
    val dir = tempDir("graft_oltp_prune")
    val cfg = DataGen.Config(nTrips = 500, nMaintenance = 50)
    DataGen.writeAll(spark, cfg, dir)
    def rd(n: String) = spark.read.parquet(s"$dir/$n")
    val t = Oltp(rd("vehicles"), rd("drivers"), rd("routes"),
      rd("trips"), rd("deliveries"), rd("maintenance"))
    assert(t.deliveries.columns.contains("p_month"),
      "deliveries store should be month-partitioned")
    val day = Pipeline.nthLastDateWithData(t, 0).get
    val extract = FactDeliveries.extractDay(t, to_date(lit(day)))
    val p = plan(extract)
    // the filter must sit INSIDE PartitionFilters (directory pruning),
    // not merely appear as a post-scan predicate
    assert("PartitionFilters: \\[[^\\]]*p_month".r.findFirstIn(p).isDefined,
      s"expected deliveries partition filter in:\n$p")
    // and the raw timestamp range must reach the parquet scan so the
    // month-sorted files row-group-skip to the day
    assert("PushedFilters: \\[[^\\]]*delivered_datetime".r.findFirstIn(p).isDefined,
      s"expected pushed delivered_datetime range in:\n$p")
    assert(extract.count() > 0)
    // the extract's schema is layout-independent: no partition column
    assert(!extract.columns.contains("p_month"))
  }

  test("surrogate key ranks distributed: range partitioning, not one global window") {
    val p = plan(q("q14_surrogate_key")).toLowerCase
    assert(p.contains("rangepartitioning"),
      "two-stage rank must range-repartition the data before the local window")
  }

  test("pairwise kernels are executor-side: one shuffle, no driver collect") {
    // the block-partitioned kernels must source the input relation
    // directly (flatMap → shuffle → flatMapGroups/cogroup); the old
    // collect()+broadcast formulation showed up as an ExternalRDD scan
    // of driver-materialized rows feeding a broadcast
    val docs = Tables.documents(spark, sf("sf0.001"))
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val plans = Seq(
      plan(dedup.Dedup.ngramJaccardPairsKernel(docs, "doc_id", "text")),
      plan(sim.Vectors.cosinePairsKernel(emb, "vec_id", "embedding", 0.4)),
      plan(sim.Vectors.bruteForceTopKKernel(
        emb.limit(5), emb, "vec_id", "embedding", 3)))
    plans.foreach { p =>
      assert(!p.contains("Scan ExistingRDD"), p.linesIterator.take(25).mkString("\n"))
      assert(p.contains("Exchange"), "kernel must shuffle, not broadcast-collect")
      assert(p.contains("Scan parquet"), "kernel must read the source relation directly")
    }
  }

  test("fleet KPI fan-out queries plan without Expand (distinct-by-key pre-aggregation)") {
    // COUNT(DISTINCT) on one-or-two keys over the trips×deliveries /
    // trips×maintenance fan-outs plans as an Expand (every input row
    // duplicated per distinct aggregate) — the round-3 scale-killer on
    // fl_q10 and the same latent shape in q4/q6/q9. The per-side
    // pre-aggregations must keep it out of these plans for good.
    Seq("fl_q04_deliveries_by_city", "fl_q06_driver_productivity",
      "fl_q09_maintenance_cost_km", "fl_q10_driver_ranking").foreach { name =>
      val p = plan(SparkEntry.queries(name)(spark, sf("sf0.001")))
      assert(!p.contains("Expand"), s"$name:\n" +
        p.linesIterator.take(30).mkString("\n"))
    }
    val q10 = plan(SparkEntry.queries("fl_q10_driver_ranking")(spark, sf("sf0.001")))
    assert(q10.contains("BroadcastHashJoin"), "routes/drivers must broadcast")
  }

  test("correlated scalar subquery decorrelates into aggregate + join (q53)") {
    // a per-row subquery execution or a nested-loop join here would be
    // the classic 100 TB killer; Catalyst must rewrite the correlation
    val p = plan(SparkEntry.queries("q53_correlated_subquery")(spark, sf("sf0.001")))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"), "the subquery aggregate must be a real aggregate")
  }

  test("winnowing fingerprints: no window sort, codegen'd gram hashes (q46)") {
    // the sliding-window min is unrolled into a least() projection over
    // exploded window starts — a WindowExec here would mean a per-doc
    // sort crept back in; the per-doc distinct agg is the only shuffle
    val df = q("q46_winnow_fingerprint")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.linesIterator.take(25).mkString("\n"))
    assert(p.contains("*("), "gram-hash projection must participate in codegen")
    assert(p.contains("Scan parquet"), "must read documents directly")
  }

  test("fdot native expression: codegen'd, bit-identical to the HOF fold and the kernel loop") {
    import graft.functions.FloatVecDot
    val emb = Tables.embeddings(spark, sf("sf0.001")).limit(50).cache()
    val both = emb.select(
      FloatVecDot.dot(spark, col("embedding"), col("embedding")).as("native"),
      sim.Vectors.dot(col("embedding"), col("embedding")).as("hof"))
    both.collect().foreach { r =>
      // exact equality — same ascending-index IEEE accumulation
      assert(r.getDouble(0) === r.getDouble(1))
    }
    // the expression participates in whole-stage codegen (no fallback)
    both.collect()
    assert(both.queryExecution.executedPlan.toString.contains("*("))
    // SQL-registry path resolves too
    FloatVecDot.function.register(spark)
    emb.createOrReplaceTempView("fdot_probe")
    assert(spark.sql("SELECT fdot(embedding, embedding) FROM fdot_probe").count() === 50)
    emb.unpersist()
  }

  test("GraftExtensions injects fnv64/fdot via spark.sql.extensions (SURVEY §7.3)") {
    // GraftSpec builds the suite session with
    // .config("spark.sql.extensions", "graft.GraftExtensions") — a
    // STATIC conf honored at first-session creation, so resolution here
    // proves config-based injection (no register() call in this test)
    val r = spark.sql(
      "SELECT fnv64('abc') AS h, fdot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d, " +
        "nfc('e\u0301') AS n").head()
    assert(r.getAs[Long]("h") === graft.functions.FnvHash64.hash("abc"))
    assert(r.getAs[Double]("d") === 11.0)
    assert(r.getAs[String]("n") === "\u00e9")
  }

  test("native functions register once: a second dot call keeps the builder") {
    import graft.functions.FloatVecDot
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val id = FunctionIdentifier("fdot")
    val v = array(lit(1.0f), lit(2.0f))
    // a session whose registry lacks fdot, as one built without extensions
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    registry.dropFunction(id)
    assert(!registry.functionExists(id))
    FloatVecDot.dot(s, v, v)
    val first = registry.lookupFunctionBuilder(id)
    assert(first.isDefined, "the column form registers a missing function")
    FloatVecDot.dot(s, v, v)
    assert(registry.lookupFunctionBuilder(id).get eq first.get)
    assert(s.range(1).select(FloatVecDot.dot(s, v, v)).head().getDouble(0) === 5.0)
    // the extensions-built session keeps its injected builder too
    val injected = spark.sessionState.functionRegistry.lookupFunctionBuilder(id).get
    FloatVecDot.dot(spark, v, v)
    assert(spark.sessionState.functionRegistry.lookupFunctionBuilder(id).get eq injected)
    // the shared builder checks its arity
    val err = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT fdot(array(CAST(1.0 AS FLOAT)))").collect())
    assert(err.getMessage.contains("WRONG_NUM_ARGS"), err.getMessage)
  }

  test("fnv64 native expression: codegen'd, SQL-callable, matches the kernel hash") {
    FnvHash64.function.register(spark)
    import spark.implicits._
    val df = Seq("hello world", "", "graft a\u00f1ejo ☕").toDF("s")
    df.createOrReplaceTempView("fnv_probe")
    val viaSql = spark.sql("SELECT s, fnv64(s) AS h FROM fnv_probe").collect()
    viaSql.foreach { r =>
      assert(r.getAs[Long]("h") === FnvHash64.hash(r.getAs[String]("s")))
    }
    // expression participates in whole-stage codegen: probe over a
    // parquet-backed table (a local relation folds away before codegen)
    Tables.documents(spark, sf("sf0.001")).createOrReplaceTempView("fnv_docs")
    val probe = spark.sql("SELECT fnv64(text) FROM fnv_docs")
    assert(probe.collect().nonEmpty)
    val p = probe.queryExecution.executedPlan.toString
    assert(p.contains("*("), p.linesIterator.take(20).mkString("\n"))
  }

  test("r8 second-wave ops keep their intended physical shapes (q92-q96)") {
    // q92 curriculum bins: the value→(cume, stage) map joins back onto
    // the corpus scan as a BROADCAST (it is value-domain-sized); the
    // only window runs over that map, never over per-doc rows
    val p92 = plan(q("q92_curriculum_bins"))
    assert(p92.contains("BroadcastHashJoin"),
      p92.linesIterator.take(25).mkString("\n"))
    // q93 snapshot diff: cutoffs ride a broadcast 1-row extent (a
    // nested-loop join against ONE row is the intended broadcast
    // scalar pattern, same as q85's extent row); state is aggregated,
    // never windowed
    val p93 = plan(q("q93_snapshot_diff"))
    assert(!p93.contains("Window"), "q93 must aggregate, not window")
    assert(!p93.contains("CartesianProduct"))
    // q94 pagerank / q95 blocked linkage: iterative/blocked equi-joins
    // only — a cartesian or nested-loop anywhere means the pair space
    // leaked into the plan
    Seq("q94_pagerank", "q95_blocked_linkage").foreach { name =>
      val p = plan(q(name))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$name must stay equi-join-only:\n${p.linesIterator.take(25).mkString("\n")}")
    }
    // q96 cumulative distinct: the running-sum window consumes the
    // per-day frame AFTER the per-user and per-day aggregates — both
    // aggregates must sit beneath the window in the plan
    val p96 = q("q96_cumulative_distinct").queryExecution.executedPlan
    val winDepth = p96.toString.linesIterator.indexWhere(_.contains("Window"))
    assert(winDepth >= 0 && p96.toString.contains("HashAggregate"))
    // q97 salted join: the hint must hold — a broadcast here would make
    // the salt dead code and the test meaningless as a skew rehearsal
    val p97 = plan(q("q97_skew_salted_join"))
    assert(p97.contains("ShuffledHashJoin"),
      p97.linesIterator.take(25).mkString("\n"))
    // q98 HLL rollup: the day pass must be a mergeable (ObjectHash)
    // aggregate — sketch state combining map-side — and no Expand
    // (the whole point vs a multi-grain COUNT DISTINCT)
    val p98 = plan(q("q98_hll_rollup"))
    assert(p98.contains("ObjectHashAggregate") && !p98.contains("Expand"),
      p98.linesIterator.take(25).mkString("\n"))
    // q99 incremental MV: aggregate-then-merge — the merge join sits
    // ABOVE both grouped aggregates, and nothing windows
    val p99 = plan(q("q99_incremental_mv"))
    assert(!p99.contains("Window") && p99.contains("FullOuter"),
      p99.linesIterator.take(25).mkString("\n"))
    // q100 weighted sample: k-slot bounded aggregate, no rank window
    val p100 = plan(q("q100_weighted_sample"))
    assert(p100.contains("ObjectHashAggregate") && !p100.contains("Window"),
      p100.linesIterator.take(25).mkString("\n"))
  }

  test("r8 third-wave additions keep their intended physical shapes") {
    // q102 regression / q108 A/B test: ONE hash-agg pass over the
    // scan — no window, no join anywhere
    Seq("q102_regression", "q108_ab_test").foreach { n =>
      val p = plan(q(n))
      assert(!p.contains("Window") && !p.contains("Join"),
        s"$n:\n" + p.linesIterator.take(25).mkString("\n"))
    }
    // q103 MAD: histogram shape — the fact-sized join feeds ONE
    // aggregation; medians/MAD/recount all run on broadcast join-backs
    // of the tiny histogram (never a second fact scan)
    val p103 = plan(q("q103_mad_outliers"))
    assert("BroadcastHashJoin".r.findAllIn(p103).size >= 3,
      p103.linesIterator.take(30).mkString("\n"))
    // q104 funnel (r15 one-pass rewrite): ONE events scan, ONE
    // user-keyed exchange, ZERO joins — the three step times are
    // conditional MINs over UNORDERED per-user window frames (three
    // Window operators, each reading the previous step's column; the
    // only Sort is the partition-key clustering sort, never a
    // per-user event-time order). The former join-back spelling
    // scanned events three times.
    val p104 = plan(q("q104_funnel"))
    assert(!p104.contains("Join"),
      p104.linesIterator.take(25).mkString("\n"))
    assert("Window".r.findAllIn(p104).size === 3,
      p104.linesIterator.take(25).mkString("\n"))
    assert("Scan parquet".r.findAllIn(p104).size === 1,
      p104.linesIterator.take(25).mkString("\n"))
    // q110 market basket: the count tables broadcast-hash join; no
    // CartesianProduct (the only nested-loop allowed is the broadcast
    // of the 1-row n_ord aggregate)
    val p110 = plan(q("q110_market_basket"))
    assert("BroadcastHashJoin".r.findAllIn(p110).size >= 2,
      p110.linesIterator.take(30).mkString("\n"))
    assert(!p110.contains("CartesianProduct"),
      p110.linesIterator.take(30).mkString("\n"))
    // q111 set ops: hash-agg planned (HashAggregate + Generate), no
    // sort-merge machinery
    val p111 = plan(q("q111_set_ops_bag"))
    assert(p111.contains("Generate") && !p111.contains("SortMergeJoin"),
      p111.linesIterator.take(30).mkString("\n"))
  }

  test("r8 fourth-wave additions keep their intended physical shapes") {
    // q123 inverted index / q124 retrieval: bounded aggregates only —
    // no Window anywhere (posting lists via collect_list inside a
    // hash agg; top-k via topk_struct under ObjectHashAggregate)
    val p123 = plan(q("q123_inverted_index"))
    assert(!p123.contains("Window"),
      p123.linesIterator.take(25).mkString("\n"))
    val p124 = plan(q("q124_keyword_search"))
    assert(p124.contains("ObjectHashAggregate") && !p124.contains("Window"),
      p124.linesIterator.take(25).mkString("\n"))
    assert(p124.contains("topk_struct"), "q124 should rank via topk_struct")
    // q129 path mining: the two LAGs share ONE window operator (same
    // partition/order spec), and ranking is topk_struct, not a window
    val p129 = plan(q("q129_path_mining"))
    assert("Window".r.findAllIn(p129).size === 1,
      p129.linesIterator.take(25).mkString("\n"))
    assert(p129.contains("topk_struct"), "q129 should rank via topk_struct")
    // q127 triangles: every join an equi-join — no cartesian/nested
    // loop anywhere in the wedge-closure chain
    val p127 = plan(q("q127_triangle_count"))
    assert(!p127.contains("CartesianProduct") &&
      !p127.contains("BroadcastNestedLoopJoin") ||
      // the only nested loop allowed is the final 1-row×1-row
      // agg-cross-agg assembly
      "BroadcastNestedLoopJoin".r.findAllIn(p127).size <= 1,
      p127.linesIterator.take(35).mkString("\n"))
    // q128 Benford: ONE scan — the stack unpivot runs over the 1-row
    // aggregate, never one scan per digit
    val p128 = plan(q("q128_benford_audit"))
    assert("Scan parquet".r.findAllIn(p128).size === 1,
      p128.linesIterator.take(25).mkString("\n"))
    // q121 CUSUM / q131 rollup: windows are frame-bounded over daily /
    // value-domain pre-aggregates — the fact reaches ONE hash agg first
    Seq("q121_cusum_changepoint", "q131_histogram_quantile_rollup").foreach { n =>
      val p = plan(q(n))
      assert(p.contains("HashAggregate"), s"$n should pre-aggregate")
    }
  }

  test("r8 fifth-wave additions keep their intended physical shapes") {
    // q132 item-item CF: the shared basket/pair leaves are cached (the
    // loop-invariant rule) and nothing nested-loops beyond the
    // broadcast of 1-row aggregates
    val p132 = plan(q("q132_item_item_cf"))
    assert(p132.contains("InMemoryRelation") && !p132.contains("CartesianProduct"),
      p132.linesIterator.take(30).mkString("\n"))
    // q138 share-of-parent: the three dims broadcast into the fact join
    val p138 = plan(q("q138_share_of_parent"))
    assert("BroadcastHashJoin".r.findAllIn(p138).size >= 3,
      p138.linesIterator.take(30).mkString("\n"))
    // q141 personalized pagerank: the loop-invariant edge list is
    // materialized once — as a localCheckpoint'ed RDD scan (r9; the
    // ContextCleaner-managed lifecycle) — and every iteration joins
    // equi (no nested loop anywhere)
    val p141 = plan(q("q141_personalized_pagerank"))
    assert((p141.contains("Scan ExistingRDD") ||
        p141.contains("InMemoryRelation")) &&
      !p141.contains("CartesianProduct"),
      p141.linesIterator.take(30).mkString("\n"))
    // q144 native session windows: no rank/lag Window operator — the
    // sessions come from the session-window aggregate itself
    val p144 = plan(q("q144_session_window"))
    assert(!p144.contains("Window ") && p144.contains("Aggregate"),
      p144.linesIterator.take(25).mkString("\n"))
    // q145 DAU/WAU: the contribution rewrite explodes (Generate) and
    // never re-scans history per day (no range join / nested loop)
    val p145 = plan(q("q145_dau_wau"))
    assert(p145.contains("Generate") && !p145.contains("CartesianProduct") &&
      !p145.contains("BroadcastNestedLoopJoin"),
      p145.linesIterator.take(30).mkString("\n"))
    // q146 skyline: exactly ONE window, over the distinct-price sweep —
    // never a row-grain self-join
    val p146 = plan(q("q146_pareto_skyline"))
    assert("Window".r.findAllIn(p146).size === 1 &&
      !p146.contains("CartesianProduct"),
      p146.linesIterator.take(30).mkString("\n"))
  }

  test("r10 own-sketch redesigns keep their intended physical shapes (q147, q71)") {
    // q147 CMS: the counters come from a DISTRIBUTED partial-
    // aggregating plan — HashAggregate with map-side combining over
    // the (row, bucket) stream — and the r8 driver-side estimate loop
    // is gone, so the plan contains no LocalTableScan of collected
    // estimates (the old shape materialized the whole vocab on the
    // driver and re-entered it as a local relation)
    val p147 = plan(q("q147_cms_frequencies"))
    assert(p147.contains("HashAggregate"),
      p147.linesIterator.take(25).mkString("\n"))
    assert(!p147.contains("LocalTableScan"),
      p147.linesIterator.take(25).mkString("\n"))
    // q71 Bloom: the corpus side stays a scan + broadcast-bitmap
    // FILTER — its gram rows reach exactly ONE hash Exchange (the
    // final per-doc count), never a pre-filter shuffle, which is the
    // whole point vs q65's corpus-gram exchange
    val p71 = plan(q("q71_bloom_decontaminate"))
    assert("Exchange hashpartitioning".r.findAllIn(p71).size === 1,
      p71.linesIterator.take(30).mkString("\n"))
  }

  test("q127 scale dispatch flips exactly at the wedge budget, both directions") {
    // r13 Next #1: the exact→DOULION policy now lives IN the engine.
    // Prove the flip fires AT the threshold: budget == the measured
    // oriented-wedge volume → exact path (<=); one below → sampled.
    val dir = sf("sf0.001")
    val wv = operators.Advanced.q127WedgeVolume(spark, dir)
    assert(wv > 0)
    // the pure decision function, at the boundary
    assert(operators.Advanced.exactTrianglePath(wv, wv))
    assert(!operators.Advanced.exactTrianglePath(wv, wv - 1))
    val exact = operators.Advanced
      .triangleCensus(spark, dir, broadcastEdges = None).collect().head
    try {
      // budget exactly AT the volume → exact path, byte-identical census
      spark.conf.set(operators.Advanced.WedgeBudgetConf, wv.toString)
      val (tookExact, df) = operators.Advanced.triangleCensusAuto(spark, dir)
      assert(tookExact)
      assert(df.collect().head === exact)
      // one below → DOULION path: n_parts/n_edges/n_wedges stay EXACT,
      // n_triangles is the 8·t_sampled estimate — cross-checked against
      // the independently-gated q127b entry (same coin, same closure)
      spark.conf.set(operators.Advanced.WedgeBudgetConf, (wv - 1).toString)
      val (tookExact2, df2) = operators.Advanced.triangleCensusAuto(spark, dir)
      assert(!tookExact2)
      val r = df2.collect().head
      assert(r.getLong(0) === exact.getLong(0)) // n_parts
      assert(r.getLong(1) === exact.getLong(1)) // n_edges
      assert(r.getLong(2) === exact.getLong(2)) // n_wedges
      val tEst = SparkEntry.queries("q127b_triangle_sample")(spark, dir)
        .select(col("t_est")).collect().head.getLong(0)
      assert(r.getLong(3) === tEst, "estimate must equal q127b's t_est")
      // default budget (no conf): sf0.001's volume is far below 2e9 →
      // the gate's dispatch stays exact at every oracle-gated scale
      assert(wv < operators.Advanced.WedgeBudgetDefault)
    } finally spark.conf.unset(operators.Advanced.WedgeBudgetConf)
  }

  test("q127 adaptive strategy choice flips exactly at the broadcast-edge cap") {
    // the gate passes broadcastEdges = None and sizes the choice from
    // the pinned edge count (the sf10 dump failed the hardcoded
    // broadcast plan at ~1 GiB of collected edges)
    assert(operators.Advanced.broadcastEdgesFor(
      operators.Advanced.BroadcastEdgeCap))
    assert(!operators.Advanced.broadcastEdgesFor(
      operators.Advanced.BroadcastEdgeCap + 1))
  }

  test("q127 broadcast-overflow fallback: shuffle-join closure plans shuffled and counts identically") {
    // the declared past-broadcast-size behavior, MEASURED: with the
    // hint off and autoBroadcastJoinThreshold disabled, the two
    // closure joins must run as shuffle joins (no broadcast of the
    // oriented edge list anywhere) and produce the exact same census
    val dir = sf("sf0.001")
    val hinted = operators.Advanced
      .triangleCensus(spark, dir, broadcastEdges = Some(true)).collect()
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeThr = scala.util.Try(
      spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold"))
      .toOption.flatMap(Option(_)) // unset optional conf reads as null
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val df = operators.Advanced
        .triangleCensus(spark, dir, broadcastEdges = Some(false))
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        p.linesIterator.take(40).mkString("\n"))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.linesIterator.take(40).mkString("\n"))
      assert(df.collect().toSeq === hinted.toSeq)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
      aqeThr match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("q127 closing probe keys on the single-long pair hash (r14 optimization pin)") {
    // The wedge-closing join must key on xxhash64(s, t) — the
    // LongHashedRelation form (measured 5.0 → 1.6 s on the sf0.1
    // wedge stream) — with the exact pair equality carried as a
    // subtraction RESIDUAL in the join condition, not as extra
    // attribute equi-keys (Catalyst would fold those back into a
    // multi-column key and rebuild the generic relation). Pin both:
    // the hash appears among the join keys, and the residual appears
    // in the condition.
    val p127 = plan(q("q127_triangle_count"))
    assert(p127.contains("xxhash64"),
      p127.linesIterator.take(40).mkString("\n"))
    val joinLines = p127.linesIterator
      .filter(l => l.contains("HashJoin") && l.contains("xxhash64"))
      .toSeq
    assert(joinLines.nonEmpty, "no join keyed on xxhash64 found:\n" +
      p127.linesIterator.take(40).mkString("\n"))
    // residual: the pair-equality check survives as (wa - es) = 0
    assert(joinLines.exists(_.contains("= 0")),
      joinLines.mkString("\n"))
  }
}
