package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{Tables, QueryDef}
import graft.functions.Shims._
import graft.text.TextFunctions._

/** Text-analysis operator surface over the `documents` table: token
  * counting, quality scoring, language-ID heuristic, document
  * fingerprinting, and binary-column metadata (the multimodal plumbing
  * baseline). Everything is column-expression-only so a 100 TB corpus
  * scan stays in whole-stage codegen with full parquet pushdown.
  */
object TextOps {

  /** Token-budget mixture sampling (E31/q69): downsample each source
    * to ≤ num/den of its token mass by keeping the greedy prefix of
    * documents in content-hash order (md5 fingerprint, doc_id
    * tie-break). Emits `(doc_id, source, n_tokens, sample_rank,
    * kept)`; the budget rule is exact integer arithmetic
    * ((num·total) DIV den). The prefix machinery is
    * [[greedyHashPrefix]]; OperatorProps pins the whole pipeline to a
    * naive single-threaded reference. */
  def mixtureSample(docs: DataFrame, num: Int = 2, den: Int = 5): DataFrame = {
    val toks = docTokens(docs)
    val budgets = toks.groupBy($"source")
      .agg(expr(s"(sum(n_tokens) * $num) DIV $den").as("__budget"))
    greedyHashPrefix(toks, budgets)
      .select($"doc_id", $"source", $"n_tokens", $"sample_rank", $"kept")
  }

  /** `(doc_id, source, n_tokens, fp)` — the shared scan head of the
    * corpus-budgeting family (q69/q86/q87): whitespace token mass plus
    * the canonical content fingerprint that defines the deterministic
    * sampling order. */
  private def docTokens(docs: DataFrame): DataFrame = docs
    .select($"doc_id", $"source",
      tokenCount($"text").cast("long").as("n_tokens"),
      fingerprint($"text").as("fp"))

  /** The budgeted greedy-prefix core shared by q69 (ratio budgets) and
    * q87 (temperature budgets): per source, keep documents in
    * (fp, doc_id) order until the source's token budget is exhausted.
    *
    * `budgets` is a per-source frame `(source, __budget)` — always
    * model-sized (one row per source), so it broadcasts.
    *
    * The per-source running totals ride a two-stage distributed prefix
    * sum over DETERMINISTIC shards: the shard key is the fp's leading
    * 3 hex chars (4096 uniform buckets — a prefix of the order key, so
    * per-source (shard, fp, doc_id) order ≡ (fp, doc_id) order), a
    * (shard, source)-keyed local window, then broadcast
    * per-(shard, source) rank/token offsets — never a
    * one-reducer-per-source global window. The shard is derived from
    * ROW DATA, never `spark_partition_id()`: partition ids are
    * nondeterministic across plan-branch evaluations (range boundaries
    * re-sample per exchange copy when reuse misses — the q39b sf0.1
    * corruption), while a data-derived shard is consistent under any
    * number of evaluations by construction. OperatorProps pins the
    * whole pipeline to a naive single-threaded reference. */
  private def greedyHashPrefix(toks: DataFrame, budgets: DataFrame): DataFrame = {
    val local = toks
      .withColumn("__shard", expr("conv(substring(fp, 1, 3), 16, 10)").cast("long"))
    val w = Window.partitionBy($"__shard", $"source").orderBy($"fp", $"doc_id")
    val ranked = local
      .withColumn("__lrn", row_number().over(w))
      .withColumn("__lcum", sum($"n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wOff = Window.partitionBy($"source").orderBy($"__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranked.groupBy($"__shard", $"source")
      .agg(count(lit(1)).as("__cnt"), sum($"n_tokens").as("__tsum"))
      .withColumn("__roff", coalesce(sum($"__cnt").over(wOff), lit(0L)))
      .withColumn("__coff", coalesce(sum($"__tsum").over(wOff), lit(0L)))
      .join(budgets, Seq("source"))
      .select($"__shard", $"source", $"__roff", $"__coff", $"__budget")
    ranked.join(broadcast(offsets), Seq("__shard", "source"))
      .select($"doc_id", $"source", $"fp",
        $"n_tokens".cast("int").as("n_tokens"),
        ($"__roff" + $"__lrn").cast("long").as("sample_rank"),
        (($"__coff" + $"__lcum") <= $"__budget").as("kept"))
  }

  /** Token-balanced training-shard assignment (E47/q86): pack the
    * corpus into fixed-token-budget output shards in deterministic
    * content-hash order — the "write N-token pretraining shards" step
    * between sampling and the file writer. Each document lands in the
    * shard where its tokens START under greedy sequential packing:
    * `shard_id = prev_cumsum DIV budget`, `shard_offset` its token
    * offset within that shard. Unlike q69's per-source prefixes this
    * is ONE global sequence — the order key (fp, doc_id) makes the
    * layout reproducible under any partitioning and re-ingestion
    * order, and downstream a `partitionBy(shard_id)` write yields
    * shards of near-identical token mass (the property distributed
    * training loaders need).
    *
    * Scale shape: the same two-stage prefix sum as
    * [[greedyHashPrefix]] minus the source key — range repartition on
    * (fp, doc_id), per-partition local window, then a broadcast
    * offsets frame of exactly one row per partition (the only
    * partition-count-sized state; never a global row window over the
    * corpus). */
  def trainingShards(docs: DataFrame, shardTokens: Long = 8192L): DataFrame =
    trainingShardsFromToks(docTokens(docs), shardTokens)

  private def trainingShardsFromToks(toks: DataFrame, shardTokens: Long): DataFrame = {
    // deterministic data-derived shard (leading 3 hex chars of fp — a
    // prefix of the order key), NOT spark_partition_id: see
    // greedyHashPrefix's scaladoc for the evaluation-consistency bug
    // partition ids caused at sf0.1
    val local = toks
      .withColumn("__shard", expr("conv(substring(fp, 1, 3), 16, 10)").cast("long"))
    val w = Window.partitionBy($"__shard").orderBy($"fp", $"doc_id")
    val ranked = local
      .withColumn("__lcum", sum($"n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wOff = Window.orderBy($"__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranked.groupBy($"__shard")
      .agg(sum($"n_tokens").as("__tsum"))
      .withColumn("__coff", coalesce(sum($"__tsum").over(wOff), lit(0L)))
      .select($"__shard", $"__coff")
    ranked.join(broadcast(offsets), Seq("__shard"))
      .withColumn("__prev", $"__coff" + $"__lcum" - $"n_tokens")
      .select($"doc_id", $"source", $"fp",
        $"n_tokens".cast("int").as("n_tokens"),
        expr(s"__prev DIV ${shardTokens}L").cast("int").as("shard_id"),
        expr(s"__prev - (__prev DIV ${shardTokens}L) * ${shardTokens}L")
          .cast("int").as("shard_offset"))
  }

  /** Temperature-scaled mixture resampling (E48/q87): re-weight the
    * per-source sampling budgets by `share^(1/T)` with T = 2 — the
    * multilingual/multi-source temperature-sampling rule (XLM-R-style)
    * that upsamples tail sources relative to their raw token share —
    * then keep each source's greedy content-hash prefix under its
    * re-weighted budget (the q69 machinery with learned budgets).
    *
    * Kept exactly engine-portable: raw weight
    * `rw = round(sqrt(share) · 1e6)` is one IEEE quotient + one
    * correctly-rounded sqrt + the integer-scaled round (halfway points
    * exactly representable — the roundPortable argument), after which
    * EVERYTHING is integer arithmetic: `norm = Σ rw` (order-free
    * integer sum), global budget `G = total DIV 2`, per-source budget
    * `(G · rw) DIV norm`. Per-source state is model-sized (one row per
    * source) and rides broadcast joins; the corpus-scale work is the
    * one token-count scan plus the prefix-sum pass. */
  def temperatureRemix(docs: DataFrame): DataFrame =
    temperatureRemixFromToks(docTokens(docs))

  private def temperatureRemixFromToks(toks: DataFrame): DataFrame = {
    val src = toks.groupBy($"source").agg(sum($"n_tokens").as("src_tokens"))
    val tot = src.agg(sum($"src_tokens").as("total"))
    val rw = src.crossJoin(broadcast(tot))
      .withColumn("rw",
        round(sqrt($"src_tokens".cast("double") / $"total") * lit(1e6), 0)
          .cast("long"))
    val norm = rw.agg(sum($"rw").as("norm"))
    val b = rw.crossJoin(broadcast(norm))
      .withColumn("token_budget", expr("((total DIV 2) * rw) DIV norm"))
      .withColumn("temp_weight",
        roundPortable($"rw".cast("double") / $"norm", 6).cast("double"))
      .select($"source", $"src_tokens", $"temp_weight", $"token_budget")
    greedyHashPrefix(toks, b.select($"source", $"token_budget".as("__budget")))
      .join(broadcast(b), Seq("source"))
      .select($"doc_id", $"source", $"n_tokens", $"sample_rank", $"kept",
        $"src_tokens", $"temp_weight", $"token_budget")
  }

  /** Deterministic duplicate plant shared by the q89/q90 gates: every
    * doc_id ≡ 4 (mod 5) takes its group head's text (head = doc_id
    * rounded down to the multiple of 5; left join so a missing head
    * leaves the doc unchanged). The corpus ships dup-free, so gates
    * that exercise dedup semantics plant these reproducible duplicates
    * on BOTH engines first — the q70 plant-on-both-sides pattern. */
  def plantDupes(docs: DataFrame): DataFrame = {
    val base = docs.select($"doc_id", $"source", $"text")
    val heads = base.select($"doc_id".as("hid"), $"text".as("htext"))
    base.withColumn("hid", expr("(doc_id DIV 5) * 5"))
      .join(heads, Seq("hid"), "left")
      .select($"doc_id", $"source",
        when($"doc_id" % 5 === 4 && $"htext".isNotNull, $"htext")
          .otherwise($"text").as("text"))
  }

  /** Cross-split duplicate-leakage audit kernel (E50/q89): plant
    * deterministic duplicates ([[plantDupes]]), assign each doc a
    * split under the content-hash and id-hash policies, and count
    * duplicate pairs per policy via the pair-free closed form — see
    * the q89 entry scaladoc. */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val planted = plantDupes(
      if (docs.columns.contains("source")) docs
      else docs.withColumn("source", lit("s")))
    def split(h: Column): Column = {
      val b = hexBucket(h, 1)
      when(b < 800, "train").when(b < 900, "validation").otherwise("test")
    }
    val assign = planted.select(
      fingerprint($"text").as("fp"),
      split(fingerprint($"text")).as("sc"),
      split(md5($"doc_id".cast("string"))).as("si"))
    def policyStats(splitCol: String, policy: String): DataFrame = assign
      .groupBy($"fp", col(splitCol)).agg(count(lit(1)).as("c"))
      .groupBy($"fp").agg(sum($"c").as("n"), sum($"c" * ($"c" - 1)).as("same2"))
      .agg(expr("sum(n * (n - 1)) DIV 2").as("n_dup_pairs"),
        expr("(sum(n * (n - 1)) - sum(same2)) DIV 2").as("n_cross_split_pairs"))
      .select(lit(policy).as("policy"), $"n_dup_pairs", $"n_cross_split_pairs")
    policyStats("sc", "content_hash").unionByName(policyStats("si", "id_hash"))
  }

  /** End-to-end corpus→shards pipeline (E51/q90): exact dedup →
    * temperature-remixed per-source budgets → greedy prefix keep →
    * token-balanced shard pack → per-shard manifest. The capstone
    * composition of the r8 budgeting family: one plan from raw
    * documents to the shard manifest a training loader consumes
    * (shard_id, docs, token mass, source diversity).
    *
    * Every stage is the already-verified operator: exact dedup with
    * [[graft.dedup.Dedup.exact]]'s exact shape (min-id per fingerprint,
    * aggregate + semi-join — run over the once-computed token table so
    * the raw text is scanned exactly once), [[temperatureRemix]]
    * (integer sqrt-share budgets), [[trainingShards]] (global two-stage
    * prefix sum), then one hash aggregation to the manifest — no new
    * shuffle shapes, so the composed plan inherits each stage's 100 TB
    * posture. */
  def corpusToShards(docs: DataFrame, shardTokens: Long = 4096L): DataFrame = {
    // The capstone is SEQUENTIAL-STAGE-DEPTH-bound, not data-bound
    // (DuckDB replays it as one vectorized statement; a first Spark
    // composition of the verified stage operators ran ~30 AQE stages
    // and paid ~0.1 s dispatch on every one). r11 fused the plan onto
    // ONE corpus-sized exchange (judge r10 Next #3 "single scan
    // feeding dedup+budget+pack"): every stage's clustering key is a
    // superset of the fp-prefix shard — fp DETERMINES the shard, so
    // grouping by (shard, fp) ≡ grouping by fp, the greedy window
    // clusters by (shard, source), and the pack window by (shard) —
    // and hash-partitioning by the shard alone satisfies each one's
    // ClusteredDistribution (subset rule), so after the single
    // `repartition(__shard)` Spark inserts sorts but NO further
    // corpus exchange. The remaining exchanges move model-sized
    // frames only (per-(shard, source) cell totals, per-source
    // budgets, per-shard pack offsets, the manifest agg). Values are
    // bit-identical to the stage operators' (same integer
    // arithmetic, same (fp, doc_id) orders — OperatorProps pins the
    // composition against the naive single-threaded reference):
    //  - dedup = min_by(struct, doc_id) hash aggregate on the shard
    //    exchange (Dedup.exact's min-id semantics; a massively-
    //    duplicated document collapses map-side before the shuffle);
    //  - the temperature budgets fold the remix's ladder into ONE
    //    model-sized global window over per-cell totals (the cell agg
    //    itself is exchange-free on the shard partitioning);
    //  - kept = (cell offset + local running sum) ≤ budget, the
    //    greedyHashPrefix formula, offsets broadcast back;
    //  - the pack's kept-only running sum is a CONDITIONAL sum over
    //    the shard window (sum(when(kept, n)) — null rows don't
    //    count), so the pack needs no second corpus shuffle either.
    val local = docTokens(docs)
      .withColumn("__shard", expr("conv(substring(fp, 1, 3), 16, 10)").cast("long"))
      .repartition($"__shard")
    val toks = local.groupBy($"__shard", $"fp")
      .agg(min_by(struct($"doc_id", $"source", $"n_tokens"), $"doc_id").as("__r"))
      .select($"__shard", $"fp", $"__r.doc_id".as("doc_id"),
        $"__r.source".as("source"), $"__r.n_tokens".as("n_tokens"))
    val wAll = Window.partitionBy()
    // per-(shard, source) token totals: exchange-free on the shard
    // partitioning; everything budget/offset-shaped derives from this
    // model-sized frame instead of re-scanning the corpus
    val cell = toks.groupBy($"__shard", $"source")
      .agg(sum($"n_tokens").as("__tsum"))
    val budgets = cell.groupBy($"source")
      .agg(sum($"__tsum").as("src_tokens"))
      .withColumn("total", sum($"src_tokens").over(wAll))
      .withColumn("rw",
        round(sqrt($"src_tokens".cast("double") / $"total") * lit(1e6), 0)
          .cast("long"))
      .withColumn("norm", sum($"rw").over(wAll))
      .select($"source", expr("((total DIV 2) * rw) DIV norm").as("__budget"))
    val wOff = Window.partitionBy($"source").orderBy($"__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = cell
      .withColumn("__coff", coalesce(sum($"__tsum").over(wOff), lit(0L)))
      .join(broadcast(budgets), Seq("source"))
      .select($"__shard", $"source", $"__coff", $"__budget")
    val w1 = Window.partitionBy($"__shard", $"source").orderBy($"fp", $"doc_id")
    val ranked = toks.withColumn("__lcum", sum($"n_tokens")
      .over(w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val w2 = Window.partitionBy($"__shard").orderBy($"fp", $"doc_id")
    val packed = ranked
      .join(broadcast(offsets), Seq("__shard", "source"))
      .withColumn("__kept", ($"__coff" + $"__lcum") <= $"__budget")
      .withColumn("__kcum", sum(when($"__kept", $"n_tokens"))
        .over(w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter($"__kept")
    val wOff2 = Window.orderBy($"__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val shardOff = packed.groupBy($"__shard")
      .agg(max($"__kcum").as("__ktsum"))
      .withColumn("__koff", coalesce(sum($"__ktsum").over(wOff2), lit(0L)))
      .select($"__shard", $"__koff")
    packed.join(broadcast(shardOff), Seq("__shard"))
      .withColumn("__prev", $"__koff" + $"__kcum" - $"n_tokens")
      .select($"doc_id", $"source", $"n_tokens",
        expr(s"__prev DIV ${shardTokens}L").cast("int").as("shard_id"))
      .groupBy($"shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").cast("long").as("n_tokens"),
        countDistinct($"source").as("n_sources"))
      .localCheckpoint()
  }


  /** Context-window chunking (E38/q75): split each document's token
    * stream into fixed-size training windows with overlap — the
    * pretraining/RAG chunker (window `win` tokens, stride `stride`,
    * overlap = win − stride). Emits one row per chunk: index, start
    * offset, length, and the md5 of the reassembled chunk text (the
    * content key downstream dedup/packing joins on).
    *
    * Chunk count is exact integer arithmetic — ⌈max(n−win,0)/stride⌉+1
    * — so the last window is the only short one and every token lands
    * in ≥1 chunk; both engines replay the same `DIV` formula.
    *
    * Scale shape: one codegen'd projection + a sequence explode
    * (~n/stride rows per doc) — no shuffle at all (PlanSpec asserts
    * zero Exchange); flat at any corpus size like the q59 class. */
  def contextChunks(docs: DataFrame, win: Int = 64, stride: Int = 48): DataFrame = {
    val t = docs
      .select($"doc_id", tokens($"text").as("toks"))
      .withColumn("n", size($"toks"))
      .withColumn("n_chunks",
        expr(s"(greatest(n - $win, 0) + ${stride - 1}) DIV $stride + 1"))
    t.select($"doc_id", $"toks", $"n",
        explode(sequence(lit(0), $"n_chunks" - 1)).as("chunk_idx"))
      .withColumn("start_token", $"chunk_idx" * stride)
      .select($"doc_id",
        $"chunk_idx".cast("int").as("chunk_idx"),
        $"start_token".cast("int").as("start_token"),
        (least($"start_token" + win, $"n") - $"start_token")
          .cast("int").as("chunk_len"),
        md5(concat_ws(" ",
          slice($"toks", $"start_token" + 1,
            least(lit(win), $"n" - $"start_token")))).as("chunk_md5"))
  }

  /** LM perplexity filter (E40/q77): per-document negative log
    * likelihood under a Laplace-smoothed bigram language model trained
    * on the corpus itself — the CCNet/KenLM-style trained-LM quality
    * pass (docs whose token sequences the corpus LM finds surprising
    * score high and get filtered). The engine capability is everything
    * but the n-gram order: count the model, join it back, score per
    * doc at corpus scale.
    *
    *   p(w_i | w_{i-1}) = (c2(w_{i-1}, w_i) + 1) / (c1(w_{i-1}) + V)
    *   nll(doc) = −(1/(n−1)) Σ_{i≥1} ln p(w_i | w_{i-1})
    *
    * with c1 the bigram-PREFIX count (Σ c2 over the prefix — re-agged
    * from c2 so the bigram stream is counted once, the q74 `ct`
    * pattern) and V the corpus vocabulary size (a broadcast 1-row
    * aggregate, the q64 N pattern — never a driver count).
    *
    * Docs are then bucketed CCNet-style by corpus-level perplexity
    * terciles — head (fluent) / middle / tail (surprising) — and the
    * keep flag drops the tail. Percentile cuts are scale-FREE (an
    * absolute NLL threshold moves with corpus entropy and smoothing
    * mass), computed as one exact-`percentile` 1-row broadcast; at
    * 100 TB the same plan flips to `approx_percentile` (the q42/q42b
    * twin pattern — exact percentile state grows with distinct score
    * values, the sketch's does not).
    *
    * ln is transcendental, so the VALUE is not oracle-hash-comparable
    * across engines (the same reason q74 scores drift with TV, not
    * KL) ⇒ rows-only gate; OperatorProps pins the score against a
    * naive JVM reference instead. Determinism inside the engine is
    * still exact: each doc's terms fold in POSITION order
    * (sort_array + aggregate), not shuffle-arrival order, so repeated
    * runs and repartitions produce bit-identical scores.
    *
    * Scale shape: one bigram explode (~1/token) → model hash aggs
    * (map-side combined, vocab²-bounded keys) → equi-joins of the
    * bigram stream against the model on (prev, cur)/prev — shuffle ∝
    * corpus bigrams, no pair space; the per-doc fold state is bounded
    * by doc length (collect_list per doc — the document itself). */
  def perplexityScore(docs: DataFrame): DataFrame = {
    val bi = docs
      .select($"doc_id", tokens($"text").as("ts"))
      .select($"doc_id",
        posexplode(when(size($"ts") >= 2,
            transform(sequence(lit(1), size($"ts") - 1),
              i => struct(element_at($"ts", i).as("prev"),
                element_at($"ts", i + 1).as("cur"))))
          .otherwise(array().cast("array<struct<prev:string,cur:string>>")))
          .as(Seq("pos", "bg")))
      .select($"doc_id", $"pos", $"bg.prev", $"bg.cur")
    val c2 = bi.groupBy($"prev", $"cur").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy($"prev").agg(sum($"c2").as("c1"))
    val vocab = docs
      .select(explode(tokens($"text")).as("tok"))
      .agg(count_distinct($"tok").as("v"))
    val terms = bi
      .join(c2, Seq("prev", "cur"))
      .join(c1, Seq("prev"))
      .crossJoin(broadcast(vocab))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        // position-ordered left fold: deterministic under any
        // partitioning (a plain SUM would add in shuffle-arrival order
        // — same value only up to FP reassociation)
        aggregate(
          sort_array(collect_list(struct($"pos", $"c2", $"c1", $"v"))),
          lit(0.0),
          (acc, x) => acc - log((x("c2") + 1).cast("double")
            / (x("c1") + x("v")).cast("double"))).as("nll_sum"))
    val scored = docs.select($"doc_id")
      .join(terms, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).cast("int").as("n_bigrams"),
        round2($"nll_sum" / $"n_bigrams", 6).as("mean_nll"))
    val cuts = scored.agg(
      expr("percentile(mean_nll, 0.33)").as("cut33"),
      expr("percentile(mean_nll, 0.67)").as("cut67"))
    scored.crossJoin(broadcast(cuts))
      .select($"doc_id", $"n_bigrams", $"mean_nll",
        // unscorable docs (< 2 tokens) pass the filter by convention
        when($"mean_nll".isNull, "unscored")
          .when($"mean_nll" <= $"cut33", "head")
          .when($"mean_nll" <= $"cut67", "middle")
          .otherwise("tail").as("ppl_bucket"),
        coalesce($"mean_nll" <= $"cut67", lit(true)).as("keep"))
  }

  // BPE tokenizer-training hyper-parameters, named once and used in
  // BOTH the model-cache key and the train call, so a drifted default
  // never reuses a stale model: merge rounds and the pruned-dictionary
  // bound.
  private[graft] val BpeMerges = 60
  private[graft] val BpeMaxDict = 4096

  /** Learned BPE merge-rank table, memoized per (session, corpus key) —
    * a trained tokenizer is a stored artifact (trained once per corpus
    * snapshot, off the query path), exactly like the IVF/PQ models
    * SimilarityOps memoizes. The value is a driver-side map (model-
    * sized: ≤ BpeMerges entries). */
  private[graft] def bpeModel(docs: DataFrame, key: String): Map[(String, String), Int] =
    SessionMemo.memo(docs.sparkSession, "bpe", key) { _ =>
      val spark = docs.sparkSession
      import spark.implicits.{StringToColumn => _, _}
      // the corpus contributes ONE map-side-combined hash aggregation;
      // the dictionary is then pruned to the top-BpeMaxDict words
      // (count desc, word asc — total order) via TakeOrderedAndProject,
      // so the driver-side training input is bounded BY CONSTRUCTION
      // no matter the corpus size — the long tail of rare words
      // contributes negligible pair mass and is dropped, which is how
      // production BPE trainers bound the problem too
      val dict = docs
        .select(explode(graft.text.TextFunctions.tokens($"text")).as("word"))
        .where(length($"word") > 0)
        .groupBy($"word").agg(count(lit(1)).as("wc"))
        .orderBy($"wc".desc, $"word".asc).limit(BpeMaxDict)
        .as[(String, Long)].collect().toSeq
      graft.text.Bpe.learnMerges(dict, BpeMerges).zipWithIndex.toMap
    }

  /** BPE tokenizer training + corpus encoding (E41/q78): learn a
    * byte-pair-encoding vocabulary from the corpus itself (the
    * tokenizer-prep step every LLM-corpus pipeline runs before token
    * budgeting means anything), then re-encode the corpus under the
    * learned merges and emit per-doc subtoken statistics — word count,
    * char mass, BPE token count, chars-per-token compression.
    *
    * Scale shape — the reason this is an engine operator and not a
    * driver script: the corpus-sized work is (a) one word-count hash
    * aggregation (map-side combined) to build the training dictionary,
    * and (b) one scoring pass where the word stream equi-joins a
    * BROADCAST vocab-sized (word → n_subtokens) table and folds into a
    * per-doc aggregate — each distinct word is ENCODED ONCE (work ∝
    * vocabulary), never once per occurrence (work ∝ corpus), and the
    * word stream itself never shuffles (broadcast join + partial agg;
    * the only corpus-sized exchange is one row per doc). The greedy
    * merge loop ([[graft.text.Bpe]]) runs on the pruned bounded
    * dictionary — documented driver-side model state, like the IVF
    * centroid fit.
    *
    * The model and all counts are exact integers; the single derived
    * ratio goes through [[roundPortable]]. The merge LEARNING is an
    * iterative argmax recurrence — not SQL-expressible — so the gate
    * is rows-only and OperatorProps pins dictionaries, merge tables,
    * encodings, and per-doc stats to an independent naive reference. */
  def bpeTrainEncode(docs: DataFrame, modelKey: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits.{StringToColumn => _, _}
    val rank = bpeModel(docs, s"$modelKey|m$BpeMerges|d$BpeMaxDict")
    val words = docs
      .select($"doc_id", explode(graft.text.TextFunctions.tokens($"text")).as("word"))
      .where(length($"word") > 0)
    // vocab-sized: every distinct word encoded exactly once; the rank
    // table rides the closure (≤ BpeMerges entries)
    val subtok = words.select($"word").distinct()
      .as[String]
      .map(w => (w, graft.text.Bpe.encode(w, rank).length))
      .toDF("word", "n_subtokens")
    val perDoc = words.join(broadcast(subtok), Seq("word"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length($"word")).as("n_chars"),
        sum($"n_subtokens").as("n_bpe_tokens"))
    docs.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_words", lit(0L)).cast("int").as("n_words"),
        coalesce($"n_chars", lit(0L)).as("n_chars"),
        coalesce($"n_bpe_tokens", lit(0L)).as("n_bpe_tokens"),
        roundPortable(
          $"n_chars" * lit(1.0) / $"n_bpe_tokens", 4).as("chars_per_token"))
  }

  /** Model-based quality filter (E36/q73): a fastText-shaped linear
    * classifier over hashed unigram + bigram features (the trained
    * quality scorer of CCNet/DCLM-style corpus pipelines — the engine
    * capability is everything but the training: featurize, score,
    * filter at corpus scale).
    *
    * Features are the whitespace tokens plus their adjacent-pair
    * bigrams (fastText `wordNgrams=2`), bucketed by the hashing trick:
    * bucket = 16-bit md5 prefix (same ascii-arithmetic nibble parse as
    * [[graft.text.TextFunctions.hexBucket]], so an oracle can replay
    * it) mod `dim`. `weights` maps bucket → integer ppm weight
    * (trained coefficients quantized to 1e-6, the lossless-for-floats
    * trick the oracle arithmetic needs): the per-doc logit sum is then
    * LONG arithmetic — exact, associative, partition-layout-invariant —
    * and the keep decision `sum > thresholdPpm·n_features` never
    * touches a float.
    *
    * Scale shape: one token/bigram explode (~2 features/token) feeding
    * a codegen'd md5-bucket projection, a broadcast join against the
    * weight table (model-sized: dim rows — the ANN-centroid pattern),
    * and a map-side-combining per-doc aggregate — the only
    * corpus-sized shuffle is one row per surviving doc. At 100 TB the
    * weight table for a real 2M-bucket fastText model is ~30 MB —
    * still broadcast-sized. */
  def qualityClassifier(docs: DataFrame, weights: DataFrame, dim: Int,
                        thresholdPpm: Long,
                        bucketOf: Column => Column = null): DataFrame = {
    val ts = split(trim($"text"), "\\s+")
    val bigrams = when(size($"ts") >= 2,
        transform(sequence(lit(0), size($"ts") - 2),
          i => concat_ws("_", element_at($"ts", i + 1), element_at($"ts", i + 2))))
      .otherwise(array().cast("array<string>"))
    val feats = docs
      .select($"doc_id", ts.as("ts"))
      .select($"doc_id", explode(concat($"ts", bigrams)).as("f"))
    // Default (oracle-replayable) bucketing: one md5 per feature — conv
    // parses the 16-bit prefix in a single call (the nibble-chain
    // formulation re-evaluates the inlined md5 12x per row — codegen
    // subexpression elimination refuses CASE branches; measured
    // 2.6 -> 0.9 s on the sf0.1 feature stream). The oracle replays
    // the hexNibble ascii arithmetic; values match. The production
    // path (q73b) swaps in the codegen'd FNV-1a bucket via `bucketOf`.
    val bucket = Option(bucketOf).map(_.apply($"f"))
      .getOrElse(conv(substring(md5($"f"), 1, 4), 16, 10).cast("long") % dim)
    feats
      .select($"doc_id", bucket.cast("long").as("bucket"))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_features"), sum($"w_ppm").as("score_ppm_sum"))
      .select($"doc_id",
        $"n_features".cast("int").as("n_features"),
        $"score_ppm_sum",
        round2($"score_ppm_sum" / lit(1e6) / $"n_features", 4).as("mean_logit"),
        ($"score_ppm_sum" > lit(thresholdPpm) * $"n_features").as("keep"))
  }

  /** Deterministic stand-in for trained classifier weights: bucket j →
    * ppm weight in [-1e6, 1e6] via a Knuth-multiplicative scramble.
    * Pure integer arithmetic so the oracle rebuilds the identical
    * table in SQL; production swaps in real trained coefficients
    * (same schema) without touching the operator. */
  def classifierWeights(s: SparkSession, dim: Int): DataFrame =
    s.range(dim).select($"id".as("bucket"),
      ((($"id" + 1) * lit(2654435761L)) % 2000001L - 1000000L).as("w_ppm"))

  /** Per-source token-distribution drift (E37/q74): total-variation
    * distance between each source's unigram distribution and the
    * corpus-wide distribution — the mixture-drift / source-skew
    * monitor a corpus pipeline runs per ingest batch (a source whose
    * distribution walks away from the corpus signals a scrape gone
    * bad, a language shift, or template spam).
    *
    * TV is chosen over KL because it is a RATIONAL function of the
    * counts (no log — engine-portable, memory: transcendentals differ
    * in the last ulp): with per-source token mass n_s, corpus mass N,
    * source counts c and corpus counts d,
    *
    *   TV_s = ( Σ_{tok ∈ V_s} |c·N − d·n_s|  +  (N − Σ_{tok ∈ V_s} d) · n_s )
    *          / (2 · n_s · N)
    *
    * The second numerator term is the CLOSED-FORM mass of tokens
    * absent from the source — the naive formulation sums |0 − d/N|
    * over every (source, missing-token) pair, i.e. a source×vocabulary
    * cross join; the closed form needs only Σd over the tokens the
    * source DOES have. Both numerator terms are exact long arithmetic
    * (order-independent), so the oracle matches bit-for-bit; overflow
    * bound: c·N needs n_s·N < 2^63 — fine to ~10^9 tokens/source
    * against a 10^9-token corpus, decimal(38) beyond.
    *
    * Scale shape: one token explode → (source, tok) hash agg (the
    * corpus-sized shuffle, map-side combined) → vocab-sized corpus
    * re-agg + tok equi-join (per-tok fan-out = source count, no pair
    * space) → source-level outputs. The per-source masses broadcast:
    * joining them on `source` instead would re-key the corpus-vocab
    * frame onto the skew-prone source key — one reducer per source. */
  def sourceTokenDrift(docs: DataFrame): DataFrame = {
    val tok = docs.select($"source",
      explode(split(trim($"text"), "\\s+")).as("tok"))
    val st = tok.groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
    val ns = st.groupBy($"source").agg(sum($"c").as("n_s"))
    val n = st.agg(sum($"c").as("n"))
    st.join(ct(st), Seq("tok"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(n))
      .groupBy($"source", $"n_s", $"n")
      .agg(count(lit(1)).as("n_distinct_tokens"),
        sum(abs($"c" * $"n" - $"d" * $"n_s")).as("sum_abs"),
        sum($"d").as("d_in_s"))
      .select($"source",
        $"n_s".as("n_tokens"),
        $"n_distinct_tokens",
        round2(($"sum_abs" + ($"n" - $"d_in_s") * $"n_s") * lit(1.0)
          / (lit(2L) * $"n_s" * $"n"), 6).as("tv_drift"))
  }

  /** Corpus-wide per-token counts, re-aggregated from the (source,
    * tok) counts so the token explode runs ONCE for both frames. */
  private def ct(st: DataFrame): DataFrame =
    st.groupBy($"tok").agg(sum($"c").as("d"))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS):
    * char k-gram rolling hashes, one fingerprint per sliding window of
    * `w` consecutive grams (the window minimum), distinct per document.
    * Near-identical documents share most fingerprints; any shared
    * substring of ≥ k+w−1 chars is guaranteed a shared fingerprint.
    *
    * Scale shape: window *starts* are exploded and the w gram hashes of
    * each window are unrolled inline into one `least(...)` projection —
    * no window function, so no per-document sort and no single-partition
    * hazard; the only shuffle is the per-doc distinct aggregation. Each
    * gram hash is recomputed w times, but all w·k `ascii(substr)` terms
    * live inside whole-stage codegen, which measures far cheaper than a
    * WindowExec sort at corpus scale.
    *
    * Returns one row per input document: `doc_id, n_fingerprints,
    * min_fp, max_fp` (0/null for docs shorter than k+w−1 chars). */
  def winnowFingerprints(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    val canon = regexp_replace(lower(trim($"text")), "\\s+", " ")
    val starts = docs
      .select($"doc_id", canon.as("t"))
      .where(length($"t") >= k + w - 1)
      .select($"doc_id", $"t",
        explode(sequence(lit(1), length($"t") - lit(k + w - 2))).as("i"))
    val fp = starts.select(
      $"doc_id",
      least((0 until w).map(o => gramHash($"t", $"i" + lit(o), k)): _*).as("fp"))
    val agg = fp.groupBy($"doc_id").agg(
      countDistinct($"fp").as("n_fingerprints"),
      min($"fp").as("min_fp"),
      max($"fp").as("max_fp"))
    docs.select($"doc_id").join(agg, Seq("doc_id"), "left")
      .select(
        $"doc_id",
        coalesce($"n_fingerprints", lit(0L)).as("n_fingerprints"),
        $"min_fp", $"max_fp")
  }

  /** DuckDB spelling of [[graft.text.TextFunctions.gramHash]] for the
    * window at offset `off`: same unrolled terms, same literal weights,
    * same modulus — bit-identical BIGINT arithmetic in both engines. */
  private def gramHashSql(off: Int, k: Int): String =
    (0 until k)
      // CAST to BIGINT: DuckDB types ascii() and the smaller weight
      // literals as INT32, and 'a'·31^6 already overflows INT32
      .map(j => s"CAST(ascii(substr(t, i + ${off + j}, 1)) AS BIGINT) * ${pow31(k)(j)}")
      .mkString("(", " + ", s") % $winnowMod")

  val defs: Seq[QueryDef] = Seq(

    /** Token counting (whitespace tokenizer) + char accounting. */
    QueryDef.sql(
      "q28_token_count",
      """SELECT doc_id,
        |       CAST(length(regexp_split_to_array(trim(text), '\s+')) AS INTEGER) AS n_tokens,
        |       CAST(length(text) AS INTEGER) AS n_chars_actual,
        |       CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), t -> length(t))) AS INTEGER) AS n_token_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(
          $"doc_id",
          tokenCount($"text").as("n_tokens"),
          length($"text").as("n_chars_actual"),
          tokenCharCount($"text").cast("int").as("n_token_chars"))
        .orderBy($"doc_id")
    },

    /** BPE-ish regex token counting (training-data cost estimation):
      * GPT-2-shaped pre-tokenization — space-prefixed letter / digit /
      * punctuation runs. */
    QueryDef.sql(
      "q45_bpe_tokens",
      """SELECT doc_id,
        |       CAST(length(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\f\r]+')) AS INTEGER) AS n_bpe_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id", bpeTokenCount($"text").as("n_bpe_tokens"))
        .orderBy($"doc_id")
    },

    /** Quality scoring: stopword ratio, mean token length, length
      * buckets — the length/punct/stopword heuristics of an LLM-corpus
      * quality filter, as one codegen'd projection. */
    QueryDef.sql(
      "q29_text_quality",
      """WITH t AS (
        |  SELECT doc_id,
        |         length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                         x -> x IN ('the','a','and','of','is'))) AS n_stop,
        |         list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'), x -> length(x))) AS tok_chars
        |  FROM documents
        |)
        |SELECT doc_id,
        |       CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(n_stop AS INTEGER) AS n_stopwords,
        |       CAST(CAST(ROUND((n_stop * 1.0 / n_tokens) * 1e4, 0) AS BIGINT) / 1e4 AS DOUBLE) AS stopword_ratio,
        |       CAST(CAST(ROUND((tok_chars * 1.0 / n_tokens) * 1e4, 0) AS BIGINT) / 1e4 AS DOUBLE) AS avg_token_len,
        |       CASE WHEN n_tokens < 20 THEN 'too_short'
        |            WHEN n_stop * 1.0 / n_tokens > 0.10 THEN 'high_stopword'
        |            ELSE 'ok' END AS quality_bucket
        |FROM t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val nTokens = tokenCount($"text")
      val nStop = stopwordCount($"text", Seq("the", "a", "and", "of", "is"))
      val tokChars = tokenCharCount($"text")
      Tables.documents(s, d)
        .select(
          $"doc_id",
          nTokens.as("n_tokens"),
          nStop.cast("int").as("n_stopwords"),
          round2(nStop * lit(1.0) / nTokens, 4).as("stopword_ratio"),
          round2(tokChars * lit(1.0) / nTokens, 4).as("avg_token_len"),
          when(nTokens < 20, "too_short")
            .when(nStop * lit(1.0) / nTokens > 0.10, "high_stopword")
            .otherwise("ok").as("quality_bucket"))
        .orderBy($"doc_id")
    },

    /** Language-ID heuristic: stop-list hit scoring with deterministic
      * argmax (en > es > de > fr precedence, 'und' when no hits). */
    QueryDef.sql(
      "q30_langid",
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x IN ('the','a','and','of','is'))) AS s_en,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x IN ('el','la','los','de','es'))) AS s_es,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x IN ('le','la','les','et','est'))) AS s_fr
        |  FROM documents
        |)
        |SELECT doc_id, lang AS labeled_lang,
        |       CASE WHEN s_en >= greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'en'
        |            WHEN s_es >= greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'es'
        |            WHEN s_de >= greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'de'
        |            WHEN s_fr >= greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'fr'
        |            ELSE 'und' END AS predicted_lang,
        |       CAST(s_en AS INTEGER) AS score_en
        |FROM sc
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(
          $"doc_id", $"lang".as("labeled_lang"),
          langPredict($"text").as("predicted_lang"),
          stopwordCount($"text", langStops.head._2).cast("int").as("score_en"))
        .orderBy($"doc_id")
    },

    /** Document fingerprinting: md5 of the canonical form (lower-cased,
      * whitespace-collapsed) — the exact-dedup key — plus per-source
      * dedup statistics. */
    QueryDef.sql(
      "q31_fingerprint",
      """SELECT source,
        |       COUNT(*) AS n_docs,
        |       COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_unique,
        |       COUNT(*) - COUNT(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS n_exact_dups,
        |       COUNT(DISTINCT md5(substr(trim(text), 1, 40))) AS n_unique_prefix40
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(fingerprint($"text")).as("n_unique"),
          (count(lit(1)) - countDistinct(fingerprint($"text"))).as("n_exact_dups"),
          countDistinct(md5(substring(trim($"text"), 1, 40))).as("n_unique_prefix40"))
        .orderBy($"source")
    },

    /** Rolling-hash document fingerprinting (winnowing): per-doc count
      * and range of the selected k-gram window minima. The canonical
      * local-fingerprint scheme for plagiarism/near-dup detection —
      * robust to insertions, unlike the global md5 of q31. */
    QueryDef.sql(
      "q46_winnow_fingerprint",
      s"""WITH canon AS (
         |  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
         |  FROM documents
         |), win AS (
         |  SELECT doc_id, t, UNNEST(generate_series(1, length(t) - 10)) AS i
         |  FROM canon WHERE length(t) >= 11
         |), fp AS (
         |  SELECT doc_id,
         |         least(${(0 until 4).map(gramHashSql(_, 8)).mkString(",\n         |               ")}) AS fp
         |  FROM win
         |), agg AS (
         |  SELECT doc_id, COUNT(DISTINCT fp) AS n_fingerprints,
         |         MIN(fp) AS min_fp, MAX(fp) AS max_fp
         |  FROM fp GROUP BY doc_id
         |)
         |SELECT d.doc_id, coalesce(a.n_fingerprints, 0) AS n_fingerprints,
         |       a.min_fp, a.max_fp
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      winnowFingerprints(Tables.documents(s, d)).orderBy($"doc_id")
    },

    /** Multimodal baseline: opaque binary content column + typed
      * metadata (byte length, sha256 content address) — the schema/
      * plumbing layer every image/audio decode pipeline sits on. */
    QueryDef.sql(
      "q32_binary_meta",
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |       sha256(text) AS content_sha
        |FROM documents
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(
          $"doc_id",
          octet_length($"text".cast("binary")).cast("long").as("byte_len"),
          sha2($"text".cast("binary"), 256).as("content_sha"))
        .orderBy($"doc_id")
    },

    /** Multimodal frame sampling, oracle-gated (E42): every stride-th
      * fixed-width byte window of each asset's binary content — the
      * video/audio frame-sampling access pattern, run on the corpus
      * bytes (the container has no codecs; the windowing, not the
      * decode, is the engine's job). One row per asset: frame count +
      * an ORDER-SENSITIVE digest (md5 over concatenated per-frame
      * md5s) pinning every sampled byte window byte-for-byte against
      * the oracle's substring restatement — sound because the corpus
      * is printable ASCII, so DuckDB's character substring is the
      * byte substring. Shape: sequence-explode projection (q59/q75
      * class) + ONE partial-aggregatable fold per asset (per-group
      * state ∝ asset size); no Window, no second shuffle. */
    QueryDef.sql(
      "q80_frame_sample",
      """WITH f AS (
        |  SELECT doc_id, strlen(text) AS byte_len,
        |         UNNEST(generate_series(0, greatest(0,
        |           CAST(floor((strlen(text) - 32) / 24.0) AS INT)))) AS frame_idx,
        |         hex(encode(text)) AS hx
        |  FROM documents
        |)
        |SELECT doc_id, CAST(byte_len AS BIGINT) AS byte_len,
        |       CAST(COUNT(*) AS INTEGER) AS n_frames,
        |       md5(string_agg(md5(substring(hx, frame_idx * 48 + 1, 64)), ''
        |           ORDER BY frame_idx)) AS frames_md5
        |FROM f GROUP BY doc_id, byte_len
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.multimodal.Multimodal.frameSummary(
          Tables.documents(s, d).select(
            $"doc_id".as("asset_id"), $"text".cast("binary").as("content")),
          frame = 32, stride = 24)
        .select($"asset_id".as("doc_id"), $"byte_len", $"n_frames", $"frames_md5")
        .orderBy($"doc_id")
    },

    /** Cross-document duplicate-SPAN removal (C4 / exact-substring
      * dedup shape): 10-token spans, keep the globally first occurrence
      * of each exact span, reassemble docs from their surviving spans —
      * the boilerplate-removal pass document-level dedup misses. The
      * keep-first step is a map-side-combinable min-struct aggregate
      * (no Window — a hot boilerplate span never lands one reducer);
      * per-doc md5 of the surviving text proves the reassembly
      * byte-exact against the oracle. */
    QueryDef.sql(
      "q58_span_dedup",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        |), sp AS (
        |  SELECT doc_id, CAST((i - 1) // 10 AS INTEGER) AS span_idx,
        |         array_to_string(list_slice(toks, i, i + 9), ' ') AS span
        |  FROM t, UNNEST(generate_series(1, len(toks), 10)) AS g(i)
        |), r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn
        |  FROM sp
        |)
        |SELECT doc_id,
        |       CAST(COUNT(*) AS INTEGER) AS n_spans,
        |       CAST(COUNT(*) FILTER (WHERE rn = 1) AS INTEGER) AS n_kept,
        |       md5(string_agg(span, ' ' ORDER BY span_idx) FILTER (WHERE rn = 1)) AS kept_md5
        |FROM r
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.dedup.Dedup.spanDedup(Tables.documents(s, d), "doc_id", "text")
        .select($"doc_id", $"n_spans", $"n_kept",
          md5($"kept_text").as("kept_md5"))
        .orderBy($"doc_id")
    },

    /** Deterministic leakage-safe corpus split + mixture downsampling:
      * train/validation/test assignment bucketed on the CONTENT
      * fingerprint (byte-equal docs can never straddle splits — the
      * train/test-leakage guard a doc_id-keyed split lacks) and an
      * independent permille bucket deciding per-source downsampling
      * (even-numbered sources keep 100%, odd 50% — domain-mixture
      * weighting). Pure codegen'd projection; both engines parse the
      * md5 hex with the same ascii arithmetic. */
    QueryDef.sql(
      "q59_hash_split", {
        def nib(i: Int) =
          s"(CASE WHEN ascii(substr(fp, $i, 1)) >= 97 THEN ascii(substr(fp, $i, 1)) - 87 ELSE ascii(substr(fp, $i, 1)) - 48 END)"
        def bucket(from: Int) =
          "(" + (from until from + 4).map(nib).reduce((a, b) => s"($a * 16 + $b)") + " % 1000)"
        s"""WITH f AS (
          |  SELECT doc_id, source,
          |         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
          |  FROM documents
          |), b AS (
          |  SELECT doc_id, source, ${bucket(1)} AS b1, ${bucket(5)} AS b2 FROM f
          |)
          |SELECT doc_id,
          |       CAST(b1 AS INTEGER) AS fp_bucket,
          |       CASE WHEN b1 < 800 THEN 'train'
          |            WHEN b1 < 900 THEN 'validation'
          |            ELSE 'test' END AS split,
          |       b2 < (CASE WHEN CAST(substr(source, 4, 10) AS INTEGER) % 2 = 0
          |                  THEN 1000 ELSE 500 END) AS sampled
          |FROM b
          |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id", $"source", fingerprint($"text").as("fp"))
        .select($"doc_id",
          hexBucket($"fp", 1).as("b1"), hexBucket($"fp", 5).as("b2"),
          substring($"source", 4, 10).cast("int").as("src_num"))
        .select($"doc_id",
          $"b1".cast("int").as("fp_bucket"),
          when($"b1" < 800, "train")
            .when($"b1" < 900, "validation")
            .otherwise("test").as("split"),
          ($"b2" < when($"src_num" % 2 === 0, 1000).otherwise(500)).as("sampled"))
        .orderBy($"doc_id")
    },

    /** Within-document repetition metrics — the Gopher-rule family of
      * quality filters (excessive repetition predicts low-quality /
      * machine-generated text): top-token frequency ratio, distinct-
      * token ratio, longest same-token run (gaps-and-islands over the
      * token stream), duplicate-bigram ratio. One token explode feeding
      * a (doc,token,run)→(doc,token)→doc aggregation ladder — every
      * shuffle is hash-partitioned on keys that grow with the corpus,
      * so the plan is scan-parallel at 100 TB. */
    QueryDef.sql(
      "q60_repetition_stats",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        |), tok AS (
        |  SELECT doc_id, toks[i] AS tok, i AS pos
        |  FROM t, UNNEST(generate_series(1, len(toks))) AS g(i)
        |), runs AS (
        |  SELECT doc_id, tok,
        |         pos - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY pos) AS grp
        |  FROM tok
        |), rl AS (
        |  SELECT doc_id, tok, grp, COUNT(*) AS rl FROM runs GROUP BY doc_id, tok, grp
        |), pertok AS (
        |  SELECT doc_id, tok, SUM(rl) AS cnt, MAX(rl) AS mr FROM rl GROUP BY doc_id, tok
        |), perdoc AS (
        |  SELECT doc_id, MAX(cnt) AS top_cnt, MAX(mr) AS max_run FROM pertok GROUP BY doc_id
        |), bg AS (
        |  SELECT doc_id, COUNT(DISTINCT toks[i] || ' ' || toks[i+1]) AS nd2
        |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
        |  GROUP BY doc_id
        |), base AS (
        |  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd FROM t
        |)
        |SELECT b.doc_id,
        |       CAST(b.n AS INTEGER) AS n_tokens,
        |       CAST(CAST(ROUND((b.nd * 1.0 / b.n) * 1e4, 0) AS BIGINT) / 1e4 AS DOUBLE) AS distinct_ratio,
        |       CAST(CAST(ROUND((p.top_cnt * 1.0 / b.n) * 1e4, 0) AS BIGINT) / 1e4 AS DOUBLE) AS top_token_ratio,
        |       CAST(p.max_run AS INTEGER) AS max_run,
        |       CAST(CASE WHEN b.n >= 2
        |                 THEN CAST(ROUND((1.0 - coalesce(g.nd2, 0) * 1.0 / (b.n - 1)) * 1e4, 0) AS BIGINT) / 1e4
        |                 ELSE 0.0 END AS DOUBLE) AS dup_bigram_ratio
        |FROM base b
        |JOIN perdoc p USING (doc_id)
        |LEFT JOIN bg g USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tok = docs
        .select($"doc_id", posexplode(tokens($"text")).as(Seq("pos0", "tok")))
        .select($"doc_id", ($"pos0" + 1).as("pos"), $"tok")
      val wRun = Window.partitionBy($"doc_id", $"tok").orderBy($"pos")
      val perDoc = tok
        .withColumn("grp", $"pos" - row_number().over(wRun))
        .groupBy($"doc_id", $"tok", $"grp").agg(count(lit(1)).as("rl"))
        .groupBy($"doc_id", $"tok").agg(sum($"rl").as("cnt"), max($"rl").as("mr"))
        .groupBy($"doc_id").agg(max($"cnt").as("top_cnt"), max($"mr").as("max_run"))
      val base = docs
        .select($"doc_id",
          size(tokens($"text")).as("n"),
          size(array_distinct(tokens($"text"))).as("nd"),
          // distinct bigrams; the short-doc guard returns [] → 0
          size(wordShingles($"text", 2)).as("nd2"))
      base.join(perDoc, Seq("doc_id"))
        .select($"doc_id",
          $"n".cast("int").as("n_tokens"),
          round2($"nd" * lit(1.0) / $"n", 4).as("distinct_ratio"),
          round2($"top_cnt" * lit(1.0) / $"n", 4).as("top_token_ratio"),
          $"max_run".cast("int").as("max_run"),
          when($"n" >= 2, round2(lit(1.0) - $"nd2" * lit(1.0) / ($"n" - 1), 4))
            .otherwise(lit(0.0)).as("dup_bigram_ratio"))
        .orderBy($"doc_id")
    },

    /** Corpus vocabulary statistics — the frequency table a tokenizer
      * training run (BPE/WordPiece) starts from: top-50 tokens by
      * corpus frequency with document frequency alongside. One explode
      * + one hash aggregation + TakeOrderedAndProject — the canonical
      * word-count shape, scan-parallel at any corpus size. */
    QueryDef.sql(
      "q62_vocab_topk",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        |), tok AS (
        |  SELECT doc_id, toks[i] AS tok
        |  FROM t, UNNEST(generate_series(1, len(toks))) AS g(i)
        |)
        |SELECT tok,
        |       CAST(COUNT(*) AS BIGINT) AS term_freq,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
        |FROM tok
        |GROUP BY tok
        |ORDER BY term_freq DESC, tok
        |LIMIT 50""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id", explode(tokens($"text")).as("tok"))
        .groupBy($"tok")
        .agg(count(lit(1)).as("term_freq"),
          countDistinct($"doc_id").as("doc_freq"))
        .orderBy($"term_freq".desc, $"tok")
        .limit(50)
    },

    /** Training-sequence packing (concat-then-chunk): documents are
      * concatenated in id order within their source shard and cut into
      * fixed 512-token training sequences — each doc reports the packs
      * it starts/ends in, its offset, and whether it crosses a pack
      * boundary (the GPT-style packing bookkeeping a data loader
      * needs). The window partitions by the shard key (source), so the
      * cumulative sum is hash-partitioned — at 100 TB the shard key is
      * (source, day) and packs stay shard-local; there is no global
      * single-partition window anywhere. */
    QueryDef.sql(
      "q63_sequence_packing",
      """WITH t AS (
        |  SELECT doc_id, source,
        |         length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_tokens,
        |         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t
        |)
        |SELECT doc_id, source,
        |       CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(cum // 512 AS BIGINT) AS pack_first,
        |       CAST((cum + n_tokens - 1) // 512 AS BIGINT) AS pack_last,
        |       CAST(cum % 512 AS INTEGER) AS offset_in_pack,
        |       (cum // 512) <> ((cum + n_tokens - 1) // 512) AS crosses_boundary
        |FROM c
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val packSize = 512
      Tables.documents(s, d)
        .select($"doc_id", $"source", tokenCount($"text").as("n_tokens"))
        .withColumn("cum", coalesce(sum($"n_tokens").over(w), lit(0L)))
        .select($"doc_id", $"source",
          $"n_tokens".cast("int").as("n_tokens"),
          floor($"cum" / packSize).cast("long").as("pack_first"),
          floor(($"cum" + $"n_tokens" - 1) / packSize).cast("long").as("pack_last"),
          ($"cum" % packSize).cast("int").as("offset_in_pack"),
          (floor($"cum" / packSize) =!=
            floor(($"cum" + $"n_tokens" - 1) / packSize)).as("crosses_boundary"))
        .orderBy($"doc_id")
    },

    /** Per-document salient terms via tf-idf: term frequency × N/df
      * (linear idf — a monotone transform of log idf with EXACT
      * rational arithmetic, so both engines agree bit-for-bit after
      * rounding; log's transcendental last-ulp would not), top 3 terms
      * per doc with deterministic tie-break. One explode, two hash
      * aggs, a doc-frequency join — and a bounded 3-slot top-k
      * aggregate ([[graft.functions.TopKStruct]]) instead of a per-doc
      * rank window: the window sorts the entire exploded token stream
      * (the 100×-curve bottleneck, 9.5× growth measured in r7); the
      * aggregate's map-side partials cap shuffle at ≤3 rows per doc
      * per partition and nothing sorts. */
    QueryDef.sql(
      "q64_tfidf_terms",
      """WITH t AS (
        |  SELECT doc_id, toks[i] AS tok
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |       UNNEST(generate_series(1, len(toks))) AS g(i)
        |), tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY doc_id, tok
        |), df AS (
        |  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY tok
        |), n AS (
        |  SELECT COUNT(*) AS n_docs FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.tok,
        |         CAST(ROUND((tf.tf * n.n_docs * 1.0 / df.df) * 1e4, 0) AS BIGINT) / 1e4 AS score,
        |         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |           ORDER BY tf.tf * n.n_docs * 1.0 / df.df DESC, tf.tok) AS rnk
        |  FROM tf JOIN df USING (tok) CROSS JOIN n
        |)
        |SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, tok,
        |       CAST(score AS DOUBLE) AS score
        |FROM scored WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tok = docs.select($"doc_id", explode(tokens($"text")).as("tok"))
      val tf = tok.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      // df DERIVED from tf — tf's rows are exactly the distinct
      // (doc, tok) pairs, so df(tok) is a plain count over them: no
      // second explode of the token stream, no countDistinct expand,
      // and ReuseExchange shares tf's shuffle between both branches
      // (the r8 curve fix: the 100× point was join-input-bound, not
      // window-bound)
      val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      // corpus size as a broadcast 1-row aggregate, not a driver count
      val n = docs.agg(count(lit(1)).as("n_docs"))
      // the df side is vocab-sized; AQE converts this to a broadcast
      // join at runtime when the measured build side is small (the
      // synthetic corpus: ~1e3 tokens), and keeps the shuffle join
      // when a web-scale vocabulary isn't broadcastable — a forced
      // broadcast() hint measured ≤10% here and is an OOM hazard at
      // 100 TB vocab, so the adaptive choice is the right default
      tf.join(df, Seq("tok"))
        .crossJoin(broadcast(n))
        // the same double the oracle's ROW_NUMBER orders by; the
        // aggregate compares it with IEEE semantics (see TopKStruct)
        .select($"doc_id",
          ($"tf" * $"n_docs" * lit(1.0) / $"df").as("s"), $"tok")
        .groupBy($"doc_id")
        .agg(graft.functions.TopKStruct.topk(s, $"s", $"tok", 3).as("top"))
        .select($"doc_id", posexplode($"top"))
        .select($"doc_id", ($"pos" + 1).cast("int").as("rnk"),
          $"col.item".as("tok"),
          // roundPortable, not round: the quotient is a double, and the
          // corpus guarantees nothing about its 4-decimal halfway points
          // (advice r6 — plain round diverges between engines there)
          roundPortable($"col.score", 4).cast("double").as("score"))
        .orderBy($"doc_id", $"rnk")
    },

    /** Benchmark decontamination (the GPT-3/PaLM 13-gram rule): flag
      * every training document sharing at least one word 13-gram with
      * a held-out eval set, with the overlapping-gram count. The eval
      * probe here is the `doc_id % 50 = 0` slice of the corpus (which
      * guarantees planted hits via the corpus's exact duplicates); in
      * production the probes are the benchmark suites. One shingle
      * pass per side + one equi-join on the gram hash — shuffle ∝
      * corpus grams, never a pair space; the probe side is tiny and
      * broadcastable. */
    QueryDef.sql(
      "q65_decontaminate",
      """WITH tr AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE doc_id % 50 <> 0
        |), ev AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents WHERE doc_id % 50 = 0
        |), trg AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 12), ' ') AS gram
        |  FROM tr, UNNEST(generate_series(1, len(toks) - 12)) AS g(i)
        |), evg AS (
        |  SELECT DISTINCT array_to_string(list_slice(toks, i, i + 12), ' ') AS gram
        |  FROM ev, UNNEST(generate_series(1, len(toks) - 12)) AS g(i)
        |)
        |SELECT trg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated_grams
        |FROM trg JOIN evg USING (gram)
        |GROUP BY trg.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // kernel shingling (Dedup.gramHashRows): the 13-term column-
      // expression shingler evaluates interpreted and measured 4×
      // slower; the join key is the FNV-1a gram hash (collision
      // argument in the kernel's scaladoc — same as q33/q34)
      graft.dedup.Dedup.gramHashRows(
          docs.filter($"doc_id" % 50 =!= 0), "doc_id", "text", 13)
        .join(graft.dedup.Dedup.gramHashRows(
            docs.filter($"doc_id" % 50 === 0), "doc_id", "text", 13)
          .select($"h").distinct(),
          Seq("h"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_contaminated_grams"))
        .orderBy($"doc_id")
    },

    /** Composed corpus-preprocessing pipeline — the end-to-end flow a
      * training-data run executes, as ONE declarative plan: per-doc
      * stats → quality filter (q29's buckets) → language-ID (q30) →
      * exact dedup keeping the lowest doc_id per canonical fingerprint
      * (q31/E1) → per-(source, language) token accounting. One corpus
      * scan feeds everything; the only shuffles are the dedup keep-set
      * aggregate + semi-join and the final rollup, so the whole
      * pipeline runs at the scan's parallelism on a 100 TB corpus. */
    QueryDef.sql(
      "q47_corpus_pipeline",
      """WITH stats AS (
        |  SELECT doc_id, source, text,
        |         length(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                         x -> x IN ('the','a','and','of','is'))) AS s_en,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                         x -> x IN ('el','la','los','de','es'))) AS s_es,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                         x -> x IN ('der','die','das','und','ist'))) AS s_de,
        |         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                         x -> x IN ('le','la','les','et','est'))) AS s_fr,
        |         length(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\f\r]+')) AS n_bpe,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents
        |), ok AS (
        |  SELECT *,
        |         CASE WHEN s_en >= greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'en'
        |              WHEN s_es >= greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'es'
        |              WHEN s_de >= greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'de'
        |              WHEN s_fr >= greatest(s_en, s_es, s_de, s_fr) AND greatest(s_en, s_es, s_de, s_fr) > 0 THEN 'fr'
        |              ELSE 'und' END AS predicted_lang
        |  FROM stats
        |  WHERE NOT (n_tokens < 20) AND NOT (s_en * 1.0 / n_tokens > 0.10)
        |), dedup AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |  FROM ok
        |)
        |SELECT source, predicted_lang,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |       CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens
        |FROM dedup
        |WHERE rn = 1
        |GROUP BY source, predicted_lang
        |ORDER BY source, predicted_lang""".stripMargin) { (s, d) =>
      val nTokens = tokenCount($"text")
      val nStop = stopwordCount($"text", langStops.head._2)
      val stats = Tables.documents(s, d)
        .select($"doc_id", $"source", $"text",
          nTokens.as("n_tokens"), nStop.as("n_stop"),
          langPredict($"text").as("predicted_lang"),
          bpeTokenCount($"text").as("n_bpe"))
      val ok = stats.filter(
        !($"n_tokens" < 20) && !($"n_stop" * lit(1.0) / $"n_tokens" > 0.10))
      graft.dedup.Dedup.exact(ok, "doc_id", "text")
        .groupBy($"source", $"predicted_lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tokens").cast("long").as("total_tokens"),
          sum($"n_bpe").cast("long").as("total_bpe_tokens"))
        .orderBy($"source", $"predicted_lang")
    },

    /** Deterministic token-budget mixture sampling (E31): downsample
      * every source to ≤ 40% of its token mass by keeping the greedy
      * prefix of documents in content-hash order (md5 fingerprint,
      * doc_id tie-break) — hash order makes the kept set an unbiased,
      * replayable sample, and the budget rule is exact integer
      * arithmetic ((2·total) DIV 5) so both engines agree bit-for-bit.
      *
      * Scale shape: the per-source running totals use the same
      * two-stage distributed prefix sum as the q14 surrogate key
      * ([[Relational.surrogateKeyScalable]]) — range-repartition on
      * (source, fp, doc_id), per-partition local window, broadcast
      * per-(partition, source) rank/token offsets — never a
      * one-reducer-per-source global window. The result is invariant
      * to where the range bounds fall because (fp, doc_id) totally
      * orders each source; the budgets ride along in the tiny offsets
      * frame (one row per partition × source). */
    QueryDef.sql(
      "q69_mixture_sample",
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents
        |), b AS (
        |  SELECT source, (SUM(n_tokens) * 2) // 5 AS budget FROM t GROUP BY source
        |), c AS (
        |  SELECT t.doc_id, t.source, t.n_tokens,
        |         ROW_NUMBER() OVER (PARTITION BY t.source ORDER BY t.fp, t.doc_id) AS sample_rank,
        |         SUM(t.n_tokens) OVER (PARTITION BY t.source ORDER BY t.fp, t.doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         b.budget
        |  FROM t JOIN b USING (source)
        |)
        |SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(sample_rank AS BIGINT) AS sample_rank,
        |       cum <= budget AS kept
        |FROM c
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      mixtureSample(Tables.documents(s, d)).orderBy($"doc_id")
    },

    /** PII redaction (E32) — the scrub pass every web-corpus pipeline
      * runs before training: count and mask emails, phone numbers and
      * IPv4 addresses with patterns from the Java-regex ∩ RE2 common
      * subset ([[graft.text.TextFunctions.emailRe]] family). The
      * corpus is clean word salad, so the gate PLANTS deterministic
      * PII derived from doc_id on both sides first (every doc an
      * email, every 3rd an IP, every 4th a phone) — the operator
      * under test is `redactPii`/`piiCount`; the planting is fixture
      * construction, exercised identically by the oracle. Counting
      * runs on the planted text; masking is sequential
      * email → phone → IPv4 (mutually non-overlapping by
      * construction). Pure codegen'd projection — flat at any scale,
      * like q59's hash split. */
    QueryDef.sql(
      "q70_pii_redact", {
        val aug = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
          "'@mail' || CAST(doc_id % 97 AS VARCHAR) || '.example.com' || " +
          "CASE WHEN doc_id % 3 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || " +
          "'.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END || " +
          "CASE WHEN doc_id % 4 = 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
        val ip = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"
        s"""WITH a AS (SELECT doc_id, $aug AS aug FROM documents)
           |SELECT doc_id,
           |       CAST(len(regexp_extract_all(aug, '$email')) AS INTEGER) AS n_emails,
           |       CAST(len(regexp_extract_all(aug, '$ip')) AS INTEGER) AS n_ips,
           |       CAST(len(regexp_extract_all(aug, '$phone')) AS INTEGER) AS n_phones,
           |       md5(regexp_replace(regexp_replace(regexp_replace(aug,
           |           '$email', '<EMAIL>', 'g'),
           |           '$phone', '<PHONE>', 'g'),
           |           '$ip', '<IP>', 'g')) AS redacted_md5
           |FROM a
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      import graft.text.TextFunctions.{emailRe, phoneRe, ipv4Re, piiCount, redactPii}
      val aug = concat(
        $"text", lit(" contact user"), $"doc_id".cast("string"),
        lit("@mail"), pmod($"doc_id", lit(97L)).cast("string"), lit(".example.com"),
        when(pmod($"doc_id", lit(3L)) === 0, concat(
          lit(" from 10."), pmod($"doc_id", lit(200L)).cast("string"),
          lit(".0."), pmod($"doc_id", lit(250L)).cast("string"))).otherwise(lit("")),
        when(pmod($"doc_id", lit(4L)) === 0, concat(
          lit(" call +1-555-"),
          lpad(pmod($"doc_id", lit(10000L)).cast("string"), 4, "0"))).otherwise(lit("")))
      Tables.documents(s, d)
        .select($"doc_id", aug.as("aug"))
        .select($"doc_id",
          piiCount($"aug", emailRe).as("n_emails"),
          piiCount($"aug", ipv4Re).as("n_ips"),
          piiCount($"aug", phoneRe).as("n_phones"),
          md5(redactPii($"aug")).as("redacted_md5"))
        .orderBy($"doc_id")
    },

    /** Bloom-filter decontamination (E33) — the broadcast-membership
      * scale path for q65's 13-gram rule: build a Bloom filter over
      * the eval set's distinct gram hashes (driver state = the
      * filter's bit array, bounded like the ANN centroid/codebook
      * models), broadcast it, and flag training docs by a membership
      * scan. The corpus side never shuffles its grams — q65's
      * equi-join exchanges every training gram, the exchange that
      * dominates at 100 TB; here the corpus cost is one scan +
      * filter. False positives at the fpp rate can inflate a doc's
      * candidate-gram count but can never MISS a contaminated doc
      * (Bloom filters have no false negatives) — the
      * TextFunctionsSpec contract pins flagged ⊇ q65-exact per doc
      * and bounds the false-positive overshoot. Production reruns
      * the exact join on the candidates only.
      *
      * Hash-exact since r10 (the q147 own-sketch move applied to
      * membership): OUR OWN partitioned Bloom replaces Spark's
      * opaque `bloomFilter` — K = 11 rows of m = 2n bits each, row
      * hashes = the portable universal family over the md5-60 gram
      * base (constants rows 21–31 of [[graft.dedup.Dedup.minhashPerms]],
      * bit index i·m + posᵢ), fpp = (1 − e^(−n/m))^K ≈ 3·10⁻⁵ — on
      * par with the ~4·10⁻⁵ floor Spark's sketch measured, at
      * 22 bits/gram. The DuckDB oracle re-derives the eval set's bit
      * positions and flags exactly the grams whose 11 bits are all
      * set — bit-for-bit the broadcast filter's decision. */
    QueryDef.sql(
      "q71_bloom_decontaminate", {
        val p = graft.dedup.Dedup.MinhashP
        def nibAt(k: Int) =
          s"CAST(CASE WHEN ascii(mh[$k:$k]) >= 97 THEN ascii(mh[$k:$k]) - 87 ELSE ascii(mh[$k:$k]) - 48 END AS BIGINT)"
        val h60 = (1 to 15).map(nibAt).reduce((a, b) => s"($a * 16 + $b)")
        val posArms = (0 until 11).map { i =>
          val (a, b) = graft.dedup.Dedup.minhashPerms(21 + i)
          s"WHEN $i THEN (($a * (h % $p) + $b) % $p) % (SELECT m FROM bm)"
        }.mkString(" ")
        s"""WITH btr AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           |  FROM documents WHERE doc_id % 50 <> 0
           |), bev AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           |  FROM documents WHERE doc_id % 50 = 0
           |), btrg AS (
           |  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 12), ' ') AS gram
           |  FROM btr, UNNEST(generate_series(1, len(toks) - 12)) AS g(i)
           |), bevg AS (
           |  SELECT DISTINCT array_to_string(list_slice(toks, i, i + 12), ' ') AS gram
           |  FROM bev, UNNEST(generate_series(1, len(toks) - 12)) AS g(i)
           |), bevh AS MATERIALIZED (
           |  SELECT DISTINCT $h60 AS h FROM (SELECT md5(gram) AS mh FROM bevg)
           |), bm AS (
           |  SELECT 2 * GREATEST(COUNT(*), 1) AS m FROM bevh
           |), bpos AS MATERIALIZED (
           |  SELECT DISTINCT i, CASE i $posArms END AS pos
           |  FROM bevh CROSS JOIN (SELECT UNNEST(range(0, 11)) AS i) ii
           |), btrh AS MATERIALIZED (
           |  SELECT doc_id, $h60 AS h
           |  FROM (SELECT doc_id, md5(gram) AS mh FROM btrg)
           |), btrp AS (
           |  SELECT doc_id, h, i, CASE i $posArms END AS pos
           |  FROM btrh CROSS JOIN (SELECT UNNEST(range(0, 11)) AS i) ii
           |), bhit AS (
           |  SELECT t.doc_id, t.h
           |  FROM btrp t JOIN bpos b ON b.i = t.i AND b.pos = t.pos
           |  GROUP BY t.doc_id, t.h
           |  HAVING COUNT(*) = 11
           |)
           |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidate_grams
           |FROM bhit GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val P = graft.dedup.Dedup.MinhashP
      val K = 11
      val evalGrams = graft.dedup.Dedup.gramHashRows(
          docs.filter($"doc_id" % 50 === 0), "doc_id", "text", 13)
        .select($"h").distinct()
      // exact probe-side cardinality sizes the filter; the probe side
      // is the tiny one (benchmark suites), so the count job is cheap
      val nGrams = math.max(evalGrams.count(), 1L)
      val m = 2L * nGrams
      def jvmPos(h: Long, i: Int): Long = {
        val (a, b) = graft.dedup.Dedup.minhashPerms(21 + i)
        (a * (h % P) + b) % P % m
      }
      // build the K·m-bit partitioned array on the driver from the
      // distinct eval positions — the filter IS driver/broadcast
      // model state, same bound as the ANN centroid/codebook models
      val bits = new Array[Long](((K * m + 63) / 64).toInt)
      evalGrams.collect().foreach { r =>
        val h = r.getLong(0)
        var i = 0
        while (i < K) {
          val bit = i * m + jvmPos(h, i)
          bits((bit >> 6).toInt) |= 1L << (bit & 63)
          i += 1
        }
      }
      val bcBits = s.sparkContext.broadcast(bits)
      val pairEnc = org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)
      graft.dedup.Dedup.gramHashRows(
          docs.filter($"doc_id" % 50 =!= 0), "doc_id", "text", 13)
        .as[(Long, Long)](pairEnc)
        .filter { case (_, h) =>
          val arr = bcBits.value
          var i = 0
          var all = true
          while (all && i < K) {
            val bit = i * m + jvmPos(h, i)
            all = (arr((bit >> 6).toInt) & (1L << (bit & 63))) != 0L
            i += 1
          }
          all
        }
        .toDF("doc_id", "h")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_candidate_grams"))
        .orderBy($"doc_id")
    },

    /** Cross-source duplicate-overlap audit (E35) — the report every
      * dedup run publishes: for each source pair, how many canonical
      * fingerprints appear in BOTH (which mirrors/scrapes overlap,
      * which mixture components double-count mass). The corpus has no
      * cross-source duplicates below sf0.1, so the gate PLANTS a
      * mirror source: every 7th document re-enters under source
      * 'mirror' with a fresh id (the st_stream_dedup pattern; 7 is
      * coprime with the generator's source cycle, so the mirror
      * overlaps EVERY source) —
      * overlap counts are then non-trivial at every SF and the
      * oracle performs the same construction.
      *
      * Scale shape: one distinct aggregation to (fp, source) pairs,
      * then a self-equi-join ON fp — shuffle keys grow with the
      * corpus, the per-fp fan-out is bounded by the source count, and
      * nothing pairs documents (only sources). */
    QueryDef.sql(
      "q72_source_overlap",
      """WITH src AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000001 AS doc_id, 'mirror' AS source, text
        |  FROM documents WHERE doc_id % 7 = 0
        |), fs AS (
        |  SELECT DISTINCT
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |         source
        |  FROM src
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_shared_fps
        |FROM fs a JOIN fs b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY source_a, source_b""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).select($"doc_id", $"source", $"text")
      val src = base.unionByName(
        base.filter(pmod($"doc_id", lit(7L)) === 0)
          .select(($"doc_id" + 1000001L).as("doc_id"),
            lit("mirror").as("source"), $"text"))
      val fs = src
        .select(fingerprint($"text").as("fp"), $"source")
        .distinct()
      val a = fs.as("a"); val b = fs.as("b")
      a.join(b, col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared_fps"))
        .orderBy($"source_a", $"source_b")
    },

    /** Model-based quality filtering (E36) — see [[qualityClassifier]].
      * The gate scores every document with the deterministic weight
      * table ([[classifierWeights]]: the oracle rebuilds it as a
      * `range(dim)` CTE) at dim=1024, threshold 0.05 mean logit; both
      * engines parse the md5 feature hash with the same ascii
      * arithmetic and sum integer ppm weights, so the score — not just
      * the keep flag — is hash-exact. */
    QueryDef.sql(
      "q73_quality_classifier", {
        def nib(i: Int) =
          s"(CASE WHEN ascii(substr(h, $i, 1)) >= 97 THEN ascii(substr(h, $i, 1)) - 87 ELSE ascii(substr(h, $i, 1)) - 48 END)"
        val bucket =
          "(" + (1 to 4).map(nib).reduce((a, b) => s"($a * 16 + $b)") + " % 1024)"
        s"""WITH weights AS (
          |  SELECT j AS bucket, ((j + 1) * 2654435761) % 2000001 - 1000000 AS w_ppm
          |  FROM range(1024) t(j)
          |), tok AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
          |  FROM documents
          |), feat AS (
          |  SELECT doc_id,
          |         unnest(list_concat(ts,
          |           CASE WHEN len(ts) >= 2
          |                THEN list_transform(range(1, len(ts)), i -> ts[i] || '_' || ts[i + 1])
          |                ELSE [] END)) AS f
          |  FROM tok
          |), b AS (
          |  SELECT doc_id, $bucket AS bucket
          |  FROM (SELECT doc_id, md5(f) AS h FROM feat)
          |)
          |SELECT b.doc_id,
          |       CAST(count(*) AS INTEGER) AS n_features,
          |       CAST(sum(w.w_ppm) AS BIGINT) AS score_ppm_sum,
          |       CAST(${roundPortableSql("sum(w.w_ppm) / 1e6 / count(*)", 4)} AS DOUBLE) AS mean_logit,
          |       sum(w.w_ppm) > 50000 * count(*) AS keep
          |FROM b JOIN weights w USING (bucket)
          |GROUP BY b.doc_id
          |ORDER BY b.doc_id""".stripMargin
      }) { (s, d) =>
      qualityClassifier(Tables.documents(s, d),
          classifierWeights(s, 1024), dim = 1024, thresholdPpm = 50000L)
        .orderBy($"doc_id")
    },

    /** The PRODUCTION spelling of the q73 quality classifier (advice
      * r7): identical featurization, weight table, and integer-ppm
      * scoring, but the feature→bucket hash is the codegen'd FNV-1a
      * expression ([[graft.functions.FnvHash64]]) instead of the
      * md5-prefix parse — ~2 md5 invocations per token was 5.6× the
      * DuckDB baseline, and a real fastText scorer uses exactly this
      * kind of cheap integer hash. Hash-exact since r10: DuckDB has
      * no FNV-1a built-in, but the fold is three HUGEINT ops per
      * char and only DISTINCT features need hashing (vocab + seen
      * bigrams — thousands of rows, not the token stream), so the
      * oracle computes FNV itself on the distinct-feature table and
      * joins it back; the bucket is the hash's low 10 bits, which
      * signed pmod and unsigned mod agree on. BMP-corpus assumption
      * (the standing portable-hash caveat): the oracle folds unicode()
      * CODEPOINTS while FnvHash64 folds UTF-16 code units (charAt) —
      * identical on the BMP, divergent on surrogate pairs (emoji), and
      * length()/String.length differ the same way; the generated
      * corpus is ASCII. The score semantics
      * stay pinned bit-exact (incl. collisions) against a naive JVM
      * reference in TextOpsSpec. */
    QueryDef.sql(
      "q73b_quality_classifier_fnv", {
        val m = "18446744073709551616::HUGEINT"
        val fnv = "list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
          "list_transform(range(1, length(f) + 1), k -> unicode(f[k:k])::HUGEINT)), " +
          s"(acc, c) -> (xor(acc, c) * 1099511628211::HUGEINT) % $m)"
        s"""WITH weights AS (
           |  SELECT j AS bucket, ((j + 1) * 2654435761) % 2000001 - 1000000 AS w_ppm
           |  FROM range(1024) t(j)
           |), tok AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
           |  FROM documents
           |), feat AS (
           |  SELECT doc_id,
           |         unnest(list_concat(ts,
           |           CASE WHEN len(ts) >= 2
           |                THEN list_transform(range(1, len(ts)), i -> ts[i] || '_' || ts[i + 1])
           |                ELSE [] END)) AS f
           |  FROM tok
           |), fh AS MATERIALIZED (
           |  SELECT f, CAST($fnv % 1024 AS BIGINT) AS bucket
           |  FROM (SELECT DISTINCT f FROM feat)
           |), b AS (
           |  SELECT feat.doc_id, fh.bucket FROM feat JOIN fh USING (f)
           |)
           |SELECT b.doc_id,
           |       CAST(count(*) AS INTEGER) AS n_features,
           |       CAST(sum(w.w_ppm) AS BIGINT) AS score_ppm_sum,
           |       CAST(${roundPortableSql("sum(w.w_ppm) / 1e6 / count(*)", 4)} AS DOUBLE) AS mean_logit,
           |       sum(w.w_ppm) > 50000 * count(*) AS keep
           |FROM b JOIN weights w USING (bucket)
           |GROUP BY b.doc_id
           |ORDER BY b.doc_id""".stripMargin
      }) { (s, d) =>
      qualityClassifier(Tables.documents(s, d),
          classifierWeights(s, 1024), dim = 1024, thresholdPpm = 50000L,
          bucketOf = f => pmod(graft.functions.FnvHash64.column(s, f), lit(1024L)))
        .orderBy($"doc_id")
    },

    /** Per-source token-distribution drift (E37) — see
      * [[sourceTokenDrift]]. Exact rational TV distance, so the drift
      * value itself is hash-checked, with the absent-token mass in
      * closed form on both sides (neither engine materializes the
      * source×vocabulary cross). */
    QueryDef.sql(
      "q74_source_token_drift",
      s"""WITH tok AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        |  FROM documents
        |), st AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2
        |), ns AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM st GROUP BY 1
        |), ct AS (
        |  SELECT tok, CAST(sum(c) AS BIGINT) AS d FROM st GROUP BY 1
        |), n AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n FROM st
        |)
        |SELECT st.source,
        |       ns.n_s AS n_tokens,
        |       CAST(count(*) AS BIGINT) AS n_distinct_tokens,
        |       CAST(${roundPortableSql(
               "(sum(abs(st.c * n.n - ct.d * ns.n_s)) + (n.n - sum(ct.d)) * ns.n_s) * 1.0 / (2 * ns.n_s * n.n)", 6)} AS DOUBLE) AS tv_drift
        |FROM st JOIN ct USING (tok) JOIN ns USING (source) CROSS JOIN n
        |GROUP BY st.source, ns.n_s, n.n
        |ORDER BY source""".stripMargin) { (s, d) =>
      sourceTokenDrift(Tables.documents(s, d)).orderBy($"source")
    },

    /** Context-window chunking (E38) — see [[contextChunks]]. The
      * chunk text md5 makes the oracle byte-exact on the reassembled
      * window content, not just the offsets. */
    QueryDef.sql(
      "q75_context_chunks",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |         (GREATEST(len(toks) - 64, 0) + 47) // 48 + 1 AS n_chunks
        |  FROM t
        |), c AS (
        |  SELECT doc_id, i AS chunk_idx, i * 48 AS start_token,
        |         LEAST(i * 48 + 64, n) - i * 48 AS chunk_len,
        |         md5(array_to_string(list_slice(toks, i * 48 + 1, LEAST(i * 48 + 64, n)), ' ')) AS chunk_md5
        |  FROM d, UNNEST(generate_series(0, n_chunks - 1)) AS g(i)
        |)
        |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
        |       CAST(start_token AS INTEGER) AS start_token,
        |       CAST(chunk_len AS INTEGER) AS chunk_len, chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      contextChunks(Tables.documents(s, d))
        .orderBy($"doc_id", $"chunk_idx")
    },

    /** LM perplexity filter (E40) — see [[perplexityScore]]. ln is
      * transcendental ⇒ rows-only (the q74 TV-over-KL reasoning);
      * OperatorProps pins the score to a naive JVM reference and the
      * gate threshold keeps both flag values populated. */
    QueryDef.rowsOnly("q77_perplexity_filter") { (s, d) =>
      perplexityScore(Tables.documents(s, d)).orderBy($"doc_id")
    },

    /** BPE tokenizer training + encoding (E41) — see
      * [[bpeTrainEncode]]. The merge learning is an iterative argmax
      * recurrence (not SQL-expressible) ⇒ rows-only; OperatorProps
      * pins the dictionary, merge table, encodings, and per-doc stats
      * to an independent naive reference. */
    QueryDef.rowsOnly("q78_bpe_train_encode") { (s, d) =>
      bpeTrainEncode(Tables.documents(s, d), modelKey = d).orderBy($"doc_id")
    },

    /** Per-source heavy hitters (E42/q81) via the sketch→recount
      * pattern: a Misra–Gries mergeable sketch
      * ([[graft.functions.MisraGries]], k=4096) over the token stream
      * yields a bounded candidate set per source; the candidates
      * broadcast back onto the stream for an EXACT recount; the exact
      * counts feed the bounded top-k aggregate. Every corpus-sized
      * stage is scan-shaped — the only per-group state anywhere is the
      * k-slot sketch and the ≤10-slot top-k buffer, and the sketch
      * shuffle carries k-sized summaries, never tokens. On the gate
      * corpus the per-source vocabulary is under k, so the sketch is
      * exact by the MG no-eviction property and the result is
      * hash-checkable against plain SQL; on a web-scale vocabulary the
      * same plan degrades gracefully to the (provable) superset
      * guarantee, which OperatorProps pins on adversarial small-k
      * cases. */
    QueryDef.sql(
      "q81_heavy_hitters",
      """WITH tok AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tok GROUP BY 1, 2
        |), r AS (
        |  SELECT source, tok, cnt,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY cnt DESC, tok) AS rnk
        |  FROM c
        |)
        |SELECT source, CAST(rnk AS INTEGER) AS rnk, tok, cnt
        |FROM r WHERE rnk <= 10
        |ORDER BY source, rnk""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select($"source", explode(tokens($"text")).as("tok"))
      val cand = tok.groupBy($"source")
        .agg(graft.functions.MisraGries.sketch(s, $"tok", 4096).as("sk"))
        .select($"source", explode($"sk.item").as("tok"))
      tok.join(broadcast(cand), Seq("source", "tok"))
        .groupBy($"source", $"tok").agg(count(lit(1)).as("cnt"))
        .select($"source", $"cnt".cast("double").as("sc"), $"tok")
        .groupBy($"source")
        .agg(graft.functions.TopKStruct.topk(s, $"sc", $"tok", 10).as("top"))
        .select($"source", posexplode($"top"))
        .select($"source", ($"pos" + 1).cast("int").as("rnk"),
          $"col.item".as("tok"), $"col.score".cast("long").as("cnt"))
        .orderBy($"source", $"rnk")
    },

    /** Deterministic per-source sampling (E43/q82): the k
      * content-hash-smallest documents of every source — the
      * reproducible "inspect a fixed sample of each slice" primitive
      * (auditing, eval carve-outs, spot-checks) that survives
      * re-partitioning and re-ingestion because the order key is the
      * content fingerprint, not arrival order. One bounded top-k
      * aggregate per source (score const, item = fp‖zero-padded
      * doc_id, so the k-smallest-by-(fp, doc_id) fall out of the
      * item ASC tie-break) — no per-source window, no global sort. */
    QueryDef.sql(
      "q82_group_sample",
      """WITH f AS (
        |  SELECT source, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp, doc_id
        |  FROM documents
        |), r AS (
        |  SELECT source, fp, doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY fp, doc_id) AS rnk
        |  FROM f
        |)
        |SELECT source, CAST(rnk AS INTEGER) AS rnk, fp, CAST(doc_id AS BIGINT) AS doc_id
        |FROM r WHERE rnk <= 5
        |ORDER BY source, rnk""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"source", concat(fingerprint($"text"), lit("|"),
          format_string("%018d", $"doc_id")).as("key"))
        .groupBy($"source")
        .agg(graft.functions.TopKStruct.topk(s, lit(0.0), $"key", 5).as("top"))
        .select($"source", posexplode($"top"))
        .select($"source", ($"pos" + 1).cast("int").as("rnk"),
          substring($"col.item", 1, 32).as("fp"),
          substring($"col.item", 34, 18).cast("long").as("doc_id"))
        .orderBy($"source", $"rnk")
    },

    /** Per-source document cap (E44/q83): keep at most N documents per
      * source, best-first — the C4/CommonCrawl per-domain cap that
      * stops one domain from flooding the corpus mix. Cap criterion
      * here: token count descending (doc_id ascending on ties);
      * production swaps in any per-doc quality score without touching
      * the shape. Same bounded top-k aggregate as q81/q82 — the
      * hot-domain case is exactly where a per-domain rank window would
      * serialize on one reducer. */
    QueryDef.sql(
      "q83_domain_cap",
      """WITH t AS (
        |  SELECT source, doc_id,
        |         CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), r AS (
        |  SELECT source, doc_id, n_tokens,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS rnk
        |  FROM t
        |)
        |SELECT source, CAST(rnk AS INTEGER) AS rnk, CAST(doc_id AS BIGINT) AS doc_id, n_tokens
        |FROM r WHERE rnk <= 20
        |ORDER BY source, rnk""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"source", tokenCount($"text").cast("long").as("n_tokens"),
          format_string("%018d", $"doc_id").as("key"))
        .groupBy($"source")
        .agg(graft.functions.TopKStruct.topk(
          s, $"n_tokens".cast("double"), $"key", 20).as("top"))
        .select($"source", posexplode($"top"))
        .select($"source", ($"pos" + 1).cast("int").as("rnk"),
          $"col.item".cast("long").as("doc_id"),
          $"col.score".cast("long").as("n_tokens"))
        .orderBy($"source", $"rnk")
    },

    /** Token-balanced training-shard assignment (E47) — greedy
      * sequential pack of the whole corpus into 8192-token shards in
      * content-hash order; see [[trainingShards]]. The oracle replays
      * the identical integer cumsum/DIV formula over a single ordered
      * window. */
    QueryDef.sql(
      "q86_training_shards",
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, fp, n_tokens,
        |         SUM(n_tokens) OVER (ORDER BY fp, doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS prev
        |  FROM t
        |)
        |SELECT doc_id, source, fp, CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(prev // 8192 AS INTEGER) AS shard_id,
        |       CAST(prev - (prev // 8192) * 8192 AS INTEGER) AS shard_offset
        |FROM c
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      trainingShards(Tables.documents(s, d)).orderBy($"doc_id")
    },

    /** Temperature-scaled mixture resampling (E48) — per-source
      * budgets ∝ sqrt(token share), then the greedy content-hash
      * prefix under those budgets; see [[temperatureRemix]]. */
    QueryDef.sql(
      "q87_temperature_remix",
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents
        |), s AS (
        |  SELECT source, SUM(n_tokens) AS src_tokens FROM t GROUP BY source
        |), g AS (
        |  SELECT SUM(src_tokens) AS total FROM s
        |), r AS (
        |  SELECT source, src_tokens, total,
        |         CAST(ROUND(SQRT(CAST(src_tokens AS DOUBLE) / total) * 1e6, 0) AS BIGINT) AS rw
        |  FROM s, g
        |), n AS (
        |  SELECT SUM(rw) AS norm FROM r
        |), b AS (
        |  SELECT source, src_tokens,
        |         ((total // 2) * rw) // norm AS token_budget,
        |         CAST(CAST(ROUND((CAST(rw AS DOUBLE) / norm) * 1e6, 0) AS BIGINT) / 1e6 AS DOUBLE) AS temp_weight
        |  FROM r, n
        |), c AS (
        |  SELECT t.doc_id, t.source, t.n_tokens,
        |         ROW_NUMBER() OVER (PARTITION BY t.source ORDER BY t.fp, t.doc_id) AS sample_rank,
        |         SUM(t.n_tokens) OVER (PARTITION BY t.source ORDER BY t.fp, t.doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         b.token_budget, b.src_tokens, b.temp_weight
        |  FROM t JOIN b USING (source)
        |)
        |SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(sample_rank AS BIGINT) AS sample_rank,
        |       cum <= token_budget AS kept,
        |       CAST(src_tokens AS BIGINT) AS src_tokens, temp_weight,
        |       CAST(token_budget AS BIGINT) AS token_budget
        |FROM c
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      temperatureRemix(Tables.documents(s, d)).orderBy($"doc_id")
    },

    /** Cross-split duplicate-leakage audit (E50/q89): count duplicate
      * pairs that straddle train/validation/test under two split
      * policies — the q59 CONTENT-hash split (provably leakage-safe:
      * identical text ⇒ identical fingerprint ⇒ identical split, so
      * its cross-split count is structurally 0) vs the naive id-hash
      * split (duplicates scatter across splits ⇒ eval contamination).
      * The corpus ships dup-free, so the gate PLANTS deterministic
      * duplicates first (every doc_id ≡ 4 mod 5 takes its group head's
      * text — the q70 plant-on-both-sides pattern), making the
      * id-policy leak count non-vacuous.
      *
      * Scale shape: pairs are NEVER materialized — per-fingerprint
      * split composition via two hash aggregations, then the closed
      * form `cross = (n(n−1) − Σ c(c−1)) / 2`; a pathological
      * boilerplate fingerprint costs one combiner row, not C(n,2)
      * pairs. All arithmetic integer-exact. */
    QueryDef.sql(
      "q89_split_leakage", {
        def nib(c: String, i: Int) =
          s"(CASE WHEN ascii(substr($c, $i, 1)) >= 97 THEN ascii(substr($c, $i, 1)) - 87 ELSE ascii(substr($c, $i, 1)) - 48 END)"
        def bucket(c: String) =
          "(" + (1 until 5).map(nib(c, _)).reduce((a, b) => s"($a * 16 + $b)") + " % 1000)"
        def split(c: String) =
          s"(CASE WHEN ${bucket(c)} < 800 THEN 'train' WHEN ${bucket(c)} < 900 THEN 'validation' ELSE 'test' END)"
        s"""WITH p AS (
           |  SELECT b.doc_id,
           |         CASE WHEN b.doc_id % 5 = 4 AND h.text IS NOT NULL THEN h.text ELSE b.text END AS text
           |  FROM documents b LEFT JOIN documents h ON h.doc_id = (b.doc_id // 5) * 5
           |), f AS (
           |  SELECT doc_id,
           |         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           |         md5(CAST(doc_id AS VARCHAR)) AS idh
           |  FROM p
           |), a AS (
           |  SELECT fp, ${split("fp")} AS sc, ${split("idh")} AS si FROM f
           |), gc AS (SELECT fp, sc, COUNT(*) AS c FROM a GROUP BY fp, sc
           |), tc AS (SELECT fp, SUM(c) AS n, SUM(c*(c-1)) AS same2 FROM gc GROUP BY fp
           |), gi AS (SELECT fp, si, COUNT(*) AS c FROM a GROUP BY fp, si
           |), ti AS (SELECT fp, SUM(c) AS n, SUM(c*(c-1)) AS same2 FROM gi GROUP BY fp
           |)
           |SELECT * FROM (
           |  SELECT 'content_hash' AS policy,
           |         CAST(SUM(n*(n-1)) // 2 AS BIGINT) AS n_dup_pairs,
           |         CAST((SUM(n*(n-1)) - SUM(same2)) // 2 AS BIGINT) AS n_cross_split_pairs
           |  FROM tc
           |  UNION ALL
           |  SELECT 'id_hash' AS policy,
           |         CAST(SUM(n*(n-1)) // 2 AS BIGINT) AS n_dup_pairs,
           |         CAST((SUM(n*(n-1)) - SUM(same2)) // 2 AS BIGINT) AS n_cross_split_pairs
           |  FROM ti
           |)
           |ORDER BY policy""".stripMargin
      }) { (s, d) =>
      splitLeakage(Tables.documents(s, d)).orderBy($"policy")
    },

    /** End-to-end corpus→shards pipeline (E51) — see
      * [[corpusToShards]]. The gate plants duplicates first
      * ([[plantDupes]]) so the dedup stage is non-vacuous: 500 docs →
      * 400 survivors → temperature-kept prefix → 4096-token shards.
      * The oracle replays the full composition: min-id dedup CTE,
      * sqrt-share integer budgets, per-source cumsum keep, global
      * cumsum pack, manifest aggregation. */
    QueryDef.sql(
      "q90_corpus_to_shards",
      """WITH p AS (
        |  SELECT b.doc_id, b.source,
        |         CASE WHEN b.doc_id % 5 = 4 AND h.text IS NOT NULL THEN h.text ELSE b.text END AS text
        |  FROM documents b LEFT JOIN documents h ON h.doc_id = (b.doc_id // 5) * 5
        |), k AS (
        |  SELECT doc_id, source,
        |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |         CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM p
        |), t AS (
        |  SELECT k.doc_id, k.source, k.fp, k.n_tokens
        |  FROM k JOIN (SELECT fp, MIN(doc_id) AS kid FROM k GROUP BY fp) m
        |    ON k.fp = m.fp AND k.doc_id = m.kid
        |), s AS (
        |  SELECT source, SUM(n_tokens) AS src_tokens FROM t GROUP BY source
        |), g AS (
        |  SELECT SUM(src_tokens) AS total FROM s
        |), r AS (
        |  SELECT source, total,
        |         CAST(ROUND(SQRT(CAST(src_tokens AS DOUBLE) / total) * 1e6, 0) AS BIGINT) AS rw
        |  FROM s, g
        |), n AS (
        |  SELECT SUM(rw) AS norm FROM r
        |), b AS (
        |  SELECT source, ((total // 2) * rw) // norm AS budget FROM r, n
        |), c AS (
        |  SELECT t.doc_id, t.source, t.fp, t.n_tokens,
        |         SUM(t.n_tokens) OVER (PARTITION BY t.source ORDER BY t.fp, t.doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         b.budget
        |  FROM t JOIN b USING (source)
        |), kept AS (
        |  SELECT doc_id, source, fp, n_tokens FROM c WHERE cum <= budget
        |), pk AS (
        |  SELECT doc_id, source, n_tokens,
        |         SUM(n_tokens) OVER (ORDER BY fp, doc_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS prev
        |  FROM kept
        |)
        |SELECT CAST(prev // 4096 AS INTEGER) AS shard_id,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |FROM pk
        |GROUP BY 1
        |ORDER BY shard_id""".stripMargin) { (s, d) =>
      corpusToShards(plantDupes(Tables.documents(s, d))).orderBy($"shard_id")
    },

    /** Unicode NFC normalization (E52/q91): canonical composition via
      * the native [[graft.functions.NfcNormalize]] codegen expression —
      * the normalize-before-fingerprint step every multilingual corpus
      * needs (composed `é` and decomposed `e`+U+0301 render identically
      * but md5 differently, silently defeating exact dedup). The ASCII
      * corpus is NFC-trivial, so the gate plants a deterministic
      * suffix per doc — decomposed (combining mark) on doc_id ≡ 0,2
      * (mod 4), precomposed on 1,3 — exercising both the rewrite and
      * the no-op path. Both engines apply the same Unicode
      * canonical-composition tables (JDK `java.text.Normalizer` vs
      * DuckDB `nfc_normalize`), so changed flags, codepoint counts,
      * and the normalized md5 are hash-exact. */
    QueryDef.sql(
      "q91_unicode_nfc",
      """WITH p AS (
        |  SELECT doc_id,
        |         text || ' ' || (CASE CAST(doc_id % 4 AS INTEGER)
        |            WHEN 0 THEN 'e' || chr(769)
        |            WHEN 1 THEN chr(233)
        |            WHEN 2 THEN 'o' || chr(770)
        |            ELSE chr(244) END) AS raw
        |  FROM documents
        |)
        |SELECT doc_id,
        |       raw <> nfc_normalize(raw) AS changed,
        |       CAST(length(raw) AS INTEGER) AS n_chars_raw,
        |       CAST(length(nfc_normalize(raw)) AS INTEGER) AS n_chars_nfc,
        |       md5(nfc_normalize(raw)) AS nfc_md5
        |FROM p
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val comb = when(pmod($"doc_id", lit(4)) === 0, lit("e\u0301"))
        .when(pmod($"doc_id", lit(4)) === 1, lit("\u00e9"))
        .when(pmod($"doc_id", lit(4)) === 2, lit("o\u0302"))
        .otherwise(lit("\u00f4"))
      val raw = concat($"text", lit(" "), comb)
      val nfc = graft.functions.NfcNormalize.column(s, raw)
      Tables.documents(s, d).select(
          $"doc_id",
          (raw =!= nfc).as("changed"),
          length(raw).cast("int").as("n_chars_raw"),
          length(nfc).cast("int").as("n_chars_nfc"),
          md5(nfc).as("nfc_md5"))
        .orderBy($"doc_id")
    },

    /** Curriculum quantile binning (E53/q92) — assign every document a
      * difficulty stage (1..4) by its cume_dist over token count: the
      * equi-depth bucketing behind curriculum schedules, equi-depth
      * histograms, and "train on the easy quartile first" splits.
      * cume_dist is VALUE-based (fraction of rows ≤ v), so unlike
      * rank/ntile it needs no per-row global ordering at all: aggregate
      * counts per distinct value (one hash agg over the corpus), running
      * sum over the distinct-value frame (bounded by the value domain —
      * here ≤ 90 distinct token counts — never by the corpus), and
      * broadcast the value→(cume, stage) map back onto the scan. The
      * stage boundary is exact integer arithmetic ((4·cum + n − 1) DIV
      * n = ⌈4·cum/n⌉); the oracle's float `CEIL(4 * CUME_DIST())`
      * agrees because 4·cum/n sits ≥ 1/n away from any other integer,
      * far outside double rounding error. */
    QueryDef.sql(
      "q92_curriculum_bins",
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT doc_id, n_tokens,
        |       CAST(ROUND((CUME_DIST() OVER (ORDER BY n_tokens)) * 1e4, 0) AS BIGINT) / 1e4 AS cum_dist,
        |       CAST(CEIL(4 * CUME_DIST() OVER (ORDER BY n_tokens)) AS INTEGER) AS stage
        |FROM t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select($"doc_id", tokenCount($"text").cast("long").as("n_tokens"))
      val counts = toks.groupBy($"n_tokens").agg(count(lit(1)).as("cnt"))
      val wv = Window.orderBy($"n_tokens")
        .rowsBetween(Window.unboundedPreceding, 0)
      val tot = toks.agg(count(lit(1)).as("n"))
      val binned = counts
        .withColumn("cum", sum($"cnt").over(wv))
        .crossJoin(broadcast(tot))
        .select($"n_tokens",
          graft.functions.Shims.roundPortable(
            $"cum".cast("double") / $"n", 4).as("cum_dist"),
          expr("(4 * cum + n - 1) DIV n").cast("int").as("stage"))
      toks.join(broadcast(binned), Seq("n_tokens"))
        .select($"doc_id", $"n_tokens", $"cum_dist", $"stage")
        .orderBy($"doc_id")
    },

    /** Deterministic weighted sampling (E61/q100) — the
      * Efraimidis–Spirakis A-ES rule, the standard way to sample a
      * corpus proportionally to per-doc weights (quality score, token
      * mass) WITHOUT a global pass: each doc gets key = u^(1/w) with u
      * a hash-derived uniform in (0, 1] (xxhash64 of doc_id — fully
      * replayable, no RNG state), w = its token count; the top-k keys
      * per source ARE a weighted-without-replacement sample. One
      * codegen'd projection + the bounded TopKStruct aggregate per
      * source — scan-shaped, k-slot state, no rank window. Rows-only:
      * `pow` is correctly-rounded in neither engine's contract, so the
      * keys aren't cross-engine hashable; OperatorProps pins the whole
      * pipeline (hash → uniform → key → per-source top-k incl.
      * tie-break) to a naive JVM reference, and q82 is the unweighted
      * deterministic-sampling sibling. */
    QueryDef.rowsOnly("q100_weighted_sample") { (s, d) =>
      weightedSample(Tables.documents(s, d), s)
        .orderBy($"source", $"rnk")
    },

    /** Cross-source quantile normalization (E78/q115) — score
      * calibration before mixing sources: a document's raw score
      * (n_chars here) is replaced by the GLOBAL empirical quantile at
      * the document's rank WITHIN ITS SOURCE, so "long for src3" and
      * "long for src17" land on the same calibrated scale no matter
      * how different the two length distributions are. ALL-INTEGER
      * construction — no float quantile boundary can flip a bucket:
      * per-source rank a = value-ranged running count (ties share a
      * rank), permille k = ⌈1000·a/n_source⌉ as `(1000a + n−1) DIV n`,
      * and the global permille table assigns each distinct value v the
      * exact k-range `(1000·cum_prev) DIV N + 1 .. (1000·cum) DIV N`
      * (cross-multiplied integer comparisons — never a division), so
      * q_k = min v with 1000·cum ≥ k·N by construction. Scale shape:
      * the per-source window is a running count; the global table is
      * #distinct-values-sized → sequence-exploded to exactly 1000
      * rows → broadcast equi-join on k. */
    QueryDef.sql(
      "q115_quantile_normalize",
      """WITH ranked AS (
        |  SELECT doc_id, source, n_chars,
        |         COUNT(*) OVER (PARTITION BY source ORDER BY n_chars
        |                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a,
        |         COUNT(*) OVER (PARTITION BY source) AS n_src
        |  FROM documents
        |), keyed AS (
        |  SELECT doc_id, source, n_chars,
        |         (1000 * a + n_src - 1) // n_src AS k
        |  FROM ranked
        |), hist AS (
        |  SELECT n_chars AS v, COUNT(*) AS cnt FROM documents GROUP BY n_chars
        |), cum AS (
        |  SELECT v, SUM(cnt) OVER (ORDER BY v) AS c,
        |         COALESCE(SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cp,
        |         SUM(cnt) OVER () AS n
        |  FROM hist
        |), permille AS (
        |  SELECT u.k, cum.v
        |  FROM cum, UNNEST(generate_series(CAST((1000 * cp) // n + 1 AS BIGINT), CAST((1000 * c) // n AS BIGINT))) AS u(k)
        |  WHERE (1000 * c) // n >= (1000 * cp) // n + 1
        |)
        |SELECT kd.doc_id, kd.source, kd.n_chars, CAST(kd.k AS BIGINT) AS permille,
        |       p.v AS n_chars_calibrated
        |FROM keyed kd JOIN permille p ON p.k = kd.k
        |ORDER BY kd.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select($"doc_id", $"source", $"n_chars")
      val wRank = Window.partitionBy($"source").orderBy($"n_chars")
        .rangeBetween(Window.unboundedPreceding, 0)
      val keyed = docs
        .withColumn("a", count(lit(1)).over(wRank))
        .withColumn("n_src", count(lit(1)).over(Window.partitionBy($"source")))
        .withColumn("k", expr("(1000 * a + n_src - 1) DIV n_src"))
      val wCum = Window.orderBy($"v")
      val cum = docs.groupBy($"n_chars".as("v")).agg(count(lit(1)).as("cnt"))
        .withColumn("c", sum($"cnt").over(
          wCum.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cp", coalesce(sum($"cnt").over(
          wCum.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum($"cnt").over(
          Window.partitionBy(lit(1))))
      val permille = cum
        .withColumn("k_lo", expr("(1000 * cp) DIV n + 1"))
        .withColumn("k_hi", expr("(1000 * c) DIV n"))
        .filter($"k_hi" >= $"k_lo")
        .select(explode(expr("sequence(k_lo, k_hi)")).as("k"), $"v")
      keyed.join(broadcast(permille), Seq("k"))
        .select($"doc_id", $"source", $"n_chars",
          $"k".cast("long").as("permille"),
          $"v".as("n_chars_calibrated"))
        .orderBy($"doc_id")
    },

    /** Count-min-sketch frequency estimation (E114/q147) — the
      * mergeable point-frequency sketch completing the sketch family
      * (E42 Misra–Gries: candidates with a LOWER bound; E59 HLL:
      * distincts; E33 Bloom: membership; E94 histograms: quantiles):
      * ONE bounded hash aggregate over the token stream builds the
      * d=5 × w=2048 counter array (KB of mergeable state, map-side
      * combining — never the token space), then point estimates for
      * the candidate set probe it with a d-row equi-join + MIN (at
      * corpus scale the candidates come from the q81 MG sketch, and
      * the estimate's guarantee is one-sided: estimate ≥ exact,
      * ≤ exact + ε·N w.h.p., ε = 2/w — the opposite bound of MG's).
      * Hash-exact since r10: the counters are OUR OWN layout under
      * the portable universal row hashes over the md5-60 token base,
      * so the oracle rebuilds the identical array in SQL — Spark's
      * opaque `count_min_sketch` bytes (and the r8 driver-side
      * estimate loop that went with them) are gone. The spec pins
      * both CMS bounds against the exact counts. */
    QueryDef.sql(
      "q147_cms_frequencies", {
        val p = graft.dedup.Dedup.MinhashP
        def nibAt(k: Int) =
          s"CAST(CASE WHEN ascii(mh[$k:$k]) >= 97 THEN ascii(mh[$k:$k]) - 87 ELSE ascii(mh[$k:$k]) - 48 END AS BIGINT)"
        val h60 = (1 to 15).map(nibAt).reduce((a, b) => s"($a * 16 + $b)")
        val bktArms = (0 until 5).map { i =>
          val (a, b) = graft.dedup.Dedup.minhashPerms(16 + i)
          s"WHEN $i THEN (($a * (h % $p) + $b) % $p) % 2048"
        }.mkString(" ")
        s"""WITH ctok AS (
           |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents
           |), cbase AS MATERIALIZED (
           |  SELECT tok, $h60 AS h FROM (SELECT tok, md5(tok) AS mh FROM ctok)
           |), crow AS (
           |  SELECT h, i AS row_i, CASE i $bktArms END AS bkt
           |  FROM cbase CROSS JOIN (SELECT UNNEST(range(0, 5)) AS i) ii
           |), ccnt AS MATERIALIZED (
           |  SELECT row_i, bkt, COUNT(*) AS c FROM crow GROUP BY row_i, bkt
           |), cex AS MATERIALIZED (
           |  SELECT tok, MIN(h) AS h, COUNT(*) AS exact_count FROM cbase GROUP BY tok
           |), cpr AS (
           |  SELECT tok, i AS row_i, CASE i $bktArms END AS bkt
           |  FROM cex CROSS JOIN (SELECT UNNEST(range(0, 5)) AS i) ii
           |), cest AS (
           |  SELECT tok, MIN(c) AS estimate
           |  FROM cpr JOIN ccnt USING (row_i, bkt) GROUP BY tok
           |)
           |SELECT e.tok, CAST(e.exact_count AS BIGINT) AS exact_count,
           |       CAST(s.estimate AS BIGINT) AS estimate,
           |       CAST(s.estimate - e.exact_count AS BIGINT) AS overcount
           |FROM cex e JOIN cest s USING (tok)
           |ORDER BY tok""".stripMargin
      }) { (s, d) =>
      // d=5 rows × w=2048 counters; row hashes = the portable
      // universal family over the md5-60 token base (constants rows
      // 16–20 of Dedup.minhashPerms — baked at code time, so the
      // oracle rebuilds the identical counter array). Counters are
      // ONE map-side-combined hash agg with bounded 5·2048 state
      // (mergeable — the q98 HLL posture applied to frequencies);
      // estimates probe the counters via a vocab×5 equi-join + MIN.
      // Replaces the r8 driver-side loop (sketch bytes collected,
      // exact vocab collected, estimates computed on the driver) —
      // nothing leaves the cluster, and the gate is hash-exact where
      // the engine-internal sketch layout could only be rows-only.
      val p = graft.dedup.Dedup.MinhashP
      val tok = Tables.documents(s, d)
        .select(explode(tokens($"text")).as("tok"))
        .select($"tok",
          conv(substring(md5($"tok"), 1, 15), 16, 10).cast("long").as("h"))
      def bucket(h: Column, i: Int): Column = {
        val (a, b) = graft.dedup.Dedup.minhashPerms(16 + i)
        pmod(pmod(lit(a) * pmod(h, lit(p)) + lit(b), lit(p)), lit(2048L))
      }
      def buckets(h: Column) =
        posexplode(array((0 until 5).map(i => bucket(h, i)): _*))
          .as(Seq("row_i", "bkt"))
      val counters = tok.select(buckets($"h"))
        .groupBy($"row_i", $"bkt").agg(count(lit(1)).as("c"))
      val exact = tok.groupBy($"tok")
        .agg(min($"h").as("h"), count(lit(1)).as("exact_count"))
      val est = exact.select($"tok", buckets($"h"))
        .join(counters, Seq("row_i", "bkt"))
        .groupBy($"tok").agg(min($"c").as("estimate"))
      exact.join(est, Seq("tok"))
        .select($"tok", $"exact_count", $"estimate",
          ($"estimate" - $"exact_count").as("overcount"))
        .orderBy($"tok")
    },

    /** Collocation mining (E106/q142) — the corpus-linguistics staple
      * behind phrase detection and tokenizer-merge candidates: top-20
      * adjacent token bigrams by count, each with its LIFT (observed
      * bigram probability over the independence expectation) so "hash
      * join" scores above "the the". Counts are exact integers; lift
      * is one fixed IEEE expression (rp4) mirrored textually. The
      * Spark side pairs tokens with a per-document lag window — frames
      * bounded by document length, the q63 shard-local posture — while
      * the oracle indexes the token array directly (different plan,
      * same pairs). Top-20 via the bounded TopKStruct — no rank window
      * over the bigram vocabulary. */
    QueryDef.sql(
      "q142_collocations",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        |), uni AS (
        |  SELECT toks[i] AS tok, COUNT(*) AS n1
        |  FROM t, UNNEST(generate_series(1, len(toks))) AS g(i)
        |  GROUP BY 1
        |), tot AS (
        |  SELECT SUM(n1) AS tt, SUM(CASE WHEN TRUE THEN 0 END) AS z FROM uni
        |), big AS (
        |  SELECT toks[i] AS t1, toks[i+1] AS t2, COUNT(*) AS n
        |  FROM t, UNNEST(generate_series(1, len(toks) - 1)) AS g(i)
        |  GROUP BY 1, 2
        |), btot AS (
        |  SELECT SUM(n) AS bt FROM big
        |), ranked AS (
        |  SELECT t1 || ' ' || t2 AS bigram, n,
        |         (CAST(n AS DOUBLE) / bt) /
        |           ((CAST(a.n1 AS DOUBLE) / tt) * (CAST(b.n1 AS DOUBLE) / tt)) AS lift,
        |         ROW_NUMBER() OVER (ORDER BY n DESC, t1 || ' ' || t2) AS rnk
        |  FROM big JOIN uni a ON big.t1 = a.tok JOIN uni b ON big.t2 = b.tok
        |       CROSS JOIN tot CROSS JOIN btot
        |)
        |SELECT CAST(rnk AS INTEGER) AS rnk, bigram, CAST(n AS BIGINT) AS n,
        |       CAST(ROUND((lift) * 1e4, 0) AS BIGINT) / 1e4 AS lift
        |FROM ranked WHERE rnk <= 20 ORDER BY rnk""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select($"doc_id", posexplode(tokens($"text")).as(Seq("pos", "tok")))
      val uni = toks.groupBy($"tok").agg(count(lit(1)).as("n1"))
      val tot = uni.agg(sum($"n1").as("tt"))
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val big = toks
        .withColumn("t2", lead($"tok", 1).over(w))
        .filter($"t2".isNotNull)
        .groupBy($"tok".as("t1"), $"t2")
        .agg(count(lit(1)).as("n"))
      val btot = big.agg(sum($"n").as("bt"))
      val lift = ($"n".cast("double") / $"bt") /
        (($"a_n1".cast("double") / $"tt") * ($"b_n1".cast("double") / $"tt"))
      val scored = big
        .join(broadcast(uni.select($"tok".as("t1"), $"n1".as("a_n1"))), Seq("t1"))
        .join(broadcast(uni.select($"tok".as("t2"), $"n1".as("b_n1"))), Seq("t2"))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(btot))
        .select(concat_ws(" ", $"t1", $"t2").as("bigram"),
          $"n", round2(lift, 4).as("lift"))
      // bounded top-20 by (n DESC, bigram ASC), then a 20-row
      // broadcast join-back carries n/lift -- no packing tricks, no
      // rank window over the bigram vocabulary
      val top = scored
        .select($"n".cast("double").as("sc"), $"bigram")
        .agg(graft.functions.TopKStruct.topk(s, $"sc", $"bigram", 20).as("top"))
        .select(posexplode($"top"))
        .select(($"pos" + 1).cast("int").as("rnk"), $"col.item".as("bigram"))
      scored.join(broadcast(top), Seq("bigram"))
        .select($"rnk", $"bigram", $"n", $"lift")
        .orderBy($"rnk")
    },

    /** Segmented inverted index (E86/q123) — the search-engine build
      * primitive: token → sorted posting list of containing documents.
      * Postings are sharded into fixed doc-id-range SEGMENTS (Lucene's
      * layout), so no row ever holds an unbounded list: a stopword's
      * postings split across ⌈corpus/200⌉ bounded segment rows instead
      * of one corpus-sized cell — the same reason E21 chunks spans.
      * Doc ids are zero-padded to 18 chars (the q82 trick) so string
      * order == numeric order and the comma-joined list is hash-exact
      * cross-engine. Scale shape: one distinct (token, doc) pass
      * (shuffle ∝ corpus token occurrences), then a (token, segment)
      * hash agg whose per-group state is ≤ segment width. */
    QueryDef.sql(
      "q123_inverted_index",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        |), tok AS (
        |  SELECT DISTINCT doc_id, toks[i] AS tok
        |  FROM t, UNNEST(generate_series(1, len(toks))) AS g(i)
        |), seg AS (
        |  SELECT tok, doc_id // 200 AS segment,
        |         lpad(CAST(doc_id AS VARCHAR), 18, '0') AS pid
        |  FROM tok
        |)
        |SELECT tok, CAST(segment AS BIGINT) AS segment,
        |       CAST(COUNT(*) AS BIGINT) AS seg_df,
        |       string_agg(pid, ',' ORDER BY pid) AS postings
        |FROM seg GROUP BY tok, segment
        |ORDER BY tok, segment""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id", explode(tokens($"text")).as("tok"))
        .distinct()
        .select($"tok", expr("doc_id DIV 200").as("segment"),
          format_string("%018d", $"doc_id").as("pid"))
        .groupBy($"tok", $"segment")
        .agg(count(lit(1)).as("seg_df"),
          concat_ws(",", sort_array(collect_list($"pid"))).as("postings"))
        .orderBy($"tok", $"segment")
    },

    /** Keyword top-k retrieval (E87/q124) — the query side of q123's
      * index: score every document against a term set by
      * tf × integer-scaled idf and return the 10 best. The idf weight
      * is the EXACT integer `(1e6·N) DIV df` — deliberately log-free,
      * so the whole score is exact integer arithmetic (`ln` is
      * correctly-rounded in neither engine's contract; a BM25-style
      * log idf would make scores engine-specific — same reasoning as
      * q100's rows-only pow). Top-k via the bounded TopKStruct
      * aggregate over zero-padded ids — k-slot state, map-side
      * partials, no rank window (the q64 shape). Scale: tf is one
      * hash agg over term-filtered postings (the IN-filter prunes at
      * the scan), df/N are term-count-sized broadcasts; scores stay
      * under 2^53 to ~1e9 docs × tf 1e3, then graduate to
      * decimal(38,0). */
    QueryDef.sql(
      "q124_keyword_search",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
        |), tok AS (
        |  SELECT doc_id, toks[i] AS tok
        |  FROM t, UNNEST(generate_series(1, len(toks))) AS g(i)
        |), tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM tok
        |  WHERE tok IN ('spark', 'window', 'dup') GROUP BY doc_id, tok
        |), df AS (
        |  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
        |), w AS (
        |  SELECT tok, (1000000 * (SELECT COUNT(*) FROM documents)) // df AS w FROM df
        |), sc AS (
        |  SELECT tf.doc_id, SUM(tf.tf * w.w) AS score
        |  FROM tf JOIN w ON tf.tok = w.tok
        |  GROUP BY tf.doc_id
        |), ranked AS (
        |  SELECT doc_id, score,
        |         ROW_NUMBER() OVER (ORDER BY score DESC,
        |                            lpad(CAST(doc_id AS VARCHAR), 18, '0')) AS rnk
        |  FROM sc
        |)
        |SELECT CAST(rnk AS INTEGER) AS rnk, doc_id, CAST(score AS BIGINT) AS score
        |FROM ranked WHERE rnk <= 10 ORDER BY rnk""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val tf = docs.select($"doc_id", explode(tokens($"text")).as("tok"))
        .filter($"tok".isin("spark", "window", "dup"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val w = df.crossJoin(broadcast(n))
        .select($"tok", expr("(1000000 * n_docs) DIV df").as("w"))
      tf.join(broadcast(w), Seq("tok"))
        .groupBy($"doc_id").agg(sum($"tf" * $"w").as("score"))
        .select($"score".cast("double").as("sc"),
          format_string("%018d", $"doc_id").as("item"))
        .agg(graft.functions.TopKStruct.topk(s, $"sc", $"item", 10).as("top"))
        .select(posexplode($"top"))
        .select(($"pos" + 1).cast("int").as("rnk"),
          $"col.item".cast("long").as("doc_id"),
          $"col.score".cast("long").as("score"))
        .orderBy($"rnk")
    },
  )

  /** q100's kernel, also property-pinned in OperatorProps: A-ES keys
    * from a hash uniform, per-source bounded top-k. */
  def weightedSample(docs: DataFrame, s: SparkSession, k: Int = 5): DataFrame = {
    // u in (0, 1]: (h & Long.Max) + 1 over 2^63 — never 0, so the
    // w-th root is well-defined for every row
    val u = (xxhash64($"doc_id").bitwiseAND(lit(Long.MaxValue)).cast("double") +
      1.0) / 9.223372036854776e18
    val key = pow(u, lit(1.0) / tokenCount($"text").cast("double"))
    docs
      .select($"source", key.as("key"),
        format_string("%018d", $"doc_id").as("item"))
      .groupBy($"source")
      .agg(graft.functions.TopKStruct.topk(s, $"key", $"item", k).as("top"))
      .select($"source", posexplode($"top"))
      .select($"source", ($"pos" + 1).cast("int").as("rnk"),
        $"col.item".cast("long").as("doc_id"), $"col.score".as("key"))
  }
}
