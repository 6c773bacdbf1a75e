package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded, Spark-native corpus generator for the fuzz tools
  * (`tools.Fuzz`, `tools.SplitFuzz`) and the benchmark harness: the
  * documents, embeddings, events and relational tables with the same
  * schema as the driver testdata, at arbitrary row counts. Scale
  * corpora (10×, 100× sf0.1) come from `tools.Sf1Gen` instead (PERF.md,
  * "One scale harness").
  *
  * Determinism: every random draw is `xxhash64(seed, salt, rowIdentity)`
  * — a function of row identity only (partition-layout-independent, the
  * same rule as etl.DataGen), so a corpus at any scale is byte-stable
  * across runs and cluster layouts.
  *
  * Structure matters for honest scaling curves:
  *  - a 1000-word vocabulary keeps the 3-gram shingle space large
  *    enough that shingle collisions come from real near-duplicates,
  *    not vocabulary exhaustion (the driver corpus' tiny vocabulary
  *    would make every candidate join quadratic at 250k docs for the
  *    wrong reason);
  *  - near-duplicate documents are PLANTED at a fixed rate (1% of docs
  *    mirror their predecessor with ~8% word mutation) so true-pair
  *    density grows linearly with n, as in a real dedup corpus;
  *  - embeddings cluster on 32 centroids (IVF/PQ recall stays
  *    meaningful) with 2% planted near-identical vectors.
  */
object CorpusGen {

  private def h(seed: Long, salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Uniform [0,1) from row identity. */
  private def u(seed: Long, salt: Int, cols: Column*): Column =
    (h(seed, salt, cols: _*).bitwiseAND(lit(Long.MaxValue)))
      .cast("double") / lit(Long.MaxValue.toDouble)

  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val vocab = 1000
    val id = col("id")
    val isDup = id % 100 === 1 && id > 0
    val baseId = when(isDup, id - 1).otherwise(id)
    // 30..89 words, drawn from the BASE doc's identity so a planted
    // near-dup has the same length and word sequence as its original
    val len = (u(seed, 1, baseId) * 60 + 30).cast("int")
    val words = transform(sequence(lit(0), len - 1), i => {
      val baseWord = pmod(h(seed, 2, baseId, i), lit(vocab))
      val mutWord = pmod(h(seed, 3, id, i), lit(vocab))
      val mutate = isDup && pmod(h(seed, 4, id, i), lit(12)) === 0
      format_string("w%04d", when(mutate, mutWord).otherwise(baseWord))
    })
    spark.range(n).select(
      id.as("doc_id"),
      concat_ws(" ", words).as("text"),
      element_at(
        array(lit("en"), lit("es"), lit("de"), lit("fr"), lit("zh")),
        (pmod(h(seed, 5, id), lit(5)) + 1).cast("int")).as("lang"),
      format_string("src%d", pmod(h(seed, 6, id), lit(10))).as("source"))
      .withColumn("n_chars", length(col("text")))
  }

  def embeddings(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val dim = 64
    val id = col("id")
    val isDup = id % 50 === 1 && id > 0
    val baseId = when(isDup, id - 1).otherwise(id)
    val cluster = pmod(baseId, lit(32L))
    def unit(salt: Int, k: Column, i: Column): Column =
      u(seed, salt, k, i) * 2 - 1
    val emb = transform(sequence(lit(1), lit(dim)), i =>
      (unit(7, cluster, i) * 0.5 + unit(8, baseId, i) * 0.15 +
        when(isDup, unit(9, id, i) * 0.02).otherwise(lit(0.0))).cast("float"))
    spark.range(n).select(
      id.as("vec_id"),
      emb.as("embedding"),
      pmod(h(seed, 10, id), lit(5)).cast("int").as("label"))
  }

  /** Seeded event stream for the sessionization / temporal entries
    * (schema-compatible with the driver's events table). Users get
    * `n / 200` ids round-robin, so per-user volume stays ~200 at every
    * scale while the user count grows with the corpus — the
    * distribution a real clickstream shards under. Timestamps are
    * closed-form per (user, per-user index): 5-minute steps plus
    * ≤4-minute hash jitter inside a session, and a 45-minute jump
    * every `p` events (p ∈ [8,16] per user), so each user contributes
    * multiple >30-min-gap sessions without any prefix-sum at gentime.
    * Monotone per user by construction: consecutive deltas are
    * 5 min ± 4 min > 0. */
  def events(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    val nUsers = math.max(1L, n / 200)
    val user = pmod(h(seed, 20, id), lit(nUsers))
    val idx = floor(id / lit(nUsers)).cast("long")
    val period = pmod(h(seed, 21, user), lit(9L)) + 8L
    val startUs = lit(1735689600000000L)   // 2025-01-01 00:00:00 UTC, µs
    val tsUs = startUs +
      user * lit(86400L * 1000000L) +                     // per-user day phase
      idx * lit(300L * 1000000L) +                        // 5-min step
      pmod(h(seed, 22, id), lit(240L)) * lit(1000000L) +  // ≤4-min jitter
      floor(idx / period).cast("long") * lit(2700L * 1000000L) // 45-min gap
    spark.range(n).select(
      id.as("event_id"),
      timestamp_micros(tsUs).as("ts"),
      user.as("user_id"),
      element_at(
        array(lit("click"), lit("view"), lit("purchase"), lit("gps")),
        (pmod(h(seed, 23, id), lit(4)) + 1).cast("int")).as("event_type"),
      (round(u(seed, 24, id) * 10000, 0) / 100.0).as("value"),
      format_string("{\"k\":%d}", pmod(h(seed, 25, id), lit(100))).as("props"))
  }

  /** Seeded relational slice (customer / supplier / part / nation /
    * region / orders / lineitem) with the driver testdata's key and
    * name shapes and every column it ships. Cardinality ratios follow
    * the driver data (customers = orders/10, suppliers = customers/15,
    * lineitems = 4·orders), so the purchase graph's edge count grows
    * linearly with scale like a real order-flow graph. */
  def relational(spark: SparkSession, dir: String, nOrders: Long,
                 seed: Long): Unit = {
    val id = col("id")
    val nCust = math.max(10L, nOrders / 10)
    val nSupp = math.max(5L, nCust / 15)
    val segs = array(lit("AUTOMOBILE"), lit("BUILDING"), lit("FURNITURE"),
      lit("HOUSEHOLD"), lit("MACHINERY"))
    // The whole-surface fuzz sweep drives every entry over these
    // corpora, so each table carries every column the driver parquet
    // ships. Each column draws from its own salt, so adding a column
    // leaves the existing ones byte-identical.
    spark.range(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      pmod(h(seed, 34, id), lit(25L)).cast("int").as("c_nationkey"),
      ((pmod(h(seed, 44, id), lit(1100000L)) - 100000L).cast("double") / 100.0)
        .as("c_acctbal"),
      element_at(segs, (pmod(h(seed, 35, id), lit(5L)) + 1).cast("int"))
        .as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    spark.range(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      pmod(h(seed, 45, id), lit(25L)).cast("int").as("s_nationkey"),
      ((pmod(h(seed, 46, id), lit(1100000L)) - 100000L).cast("double") / 100.0)
        .as("s_acctbal"))
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val nParts = math.max(4L, nOrders / 8)
    val adjs = array(lit("blue"), lit("cold"), lit("hot"), lit("large"),
      lit("new"), lit("old"), lit("red"), lit("small"))
    val nouns = array(lit("anvil"), lit("bolt"), lit("gear"), lit("gizmo"),
      lit("plate"), lit("ring"), lit("rod"), lit("widget"))
    val ptypes = array(lit("ECONOMY"), lit("LARGE"), lit("MEDIUM"),
      lit("PROMO"), lit("SMALL"), lit("STANDARD"))
    spark.range(nParts).select(
      id.as("p_partkey"),
      concat_ws(" ",
        element_at(adjs, (pmod(h(seed, 47, id), lit(8L)) + 1).cast("int")),
        element_at(nouns, (pmod(h(seed, 48, id), lit(8L)) + 1).cast("int")))
        .as("p_name"),
      format_string("Brand#%d", pmod(h(seed, 49, id), lit(25L)) + 1)
        .as("p_brand"),
      element_at(ptypes, (pmod(h(seed, 50, id), lit(6L)) + 1).cast("int"))
        .as("p_type"),
      (pmod(h(seed, 51, id), lit(50L)) + 1).cast("int").as("p_size"),
      ((pmod(h(seed, 52, id), lit(20000L)) + 90000L).cast("double") / 100.0)
        .as("p_retailprice"))
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    spark.range(25).select(
      id.cast("int").as("n_nationkey"),
      format_string("NATION_%02d", id).as("n_name"),
      pmod(id, lit(5L)).cast("int").as("n_regionkey"))
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    spark.range(5).select(
      id.cast("int").as("r_regionkey"),
      format_string("REGION_%d", id).as("r_name"))
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val prios = array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
      lit("4-NOT SPECIFIED"), lit("5-LOW"))
    // The slice mirrors the sf testdata's 1995–2001 calendar, so the
    // gates' literal date windows (q43's `o_orderdate < 1999`, q153's
    // 1996 prune window) keep their sf selectivity (PERF.md). Orders
    // span 6 years; l_shipdate is drawn INDEPENDENTLY from the same
    // 1995 base over a 6.5-year span (per-row shipdate >= orderdate
    // does NOT hold — only the aggregate span extends past the order
    // span), so every date-windowed gate keeps its sf selectivity on
    // the corpus too.
    val base = to_timestamp(lit("1995-01-01 00:00:00"))
    spark.range(nOrders).select(
      id.as("o_orderkey"),
      pmod(h(seed, 30, id), lit(nCust)).as("o_custkey"),
      // 2-decimal money in (0, 5000] — integer cents over 100
      ((pmod(h(seed, 36, id), lit(500000L)) + 1).cast("double") / 100.0)
        .as("o_totalprice"),
      timestamp_seconds(unix_timestamp(base)
        + pmod(h(seed, 37, id), lit(2190L * 86400L))).as("o_orderdate"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (pmod(h(seed, 38, id), lit(3L)) + 1).cast("int")).as("o_orderstatus"),
      element_at(prios, (pmod(h(seed, 39, id), lit(5L)) + 1).cast("int"))
        .as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.range(nOrders * 4).select(
      (id / 4).cast("long").as("l_orderkey"),
      pmod(id, lit(4L)).cast("int").as("l_linenumber"),
      pmod(h(seed, 31, id), lit(nSupp)).as("l_suppkey"),
      pmod(h(seed, 33, id), lit(nParts)).as("l_partkey"),
      (pmod(h(seed, 32, id), lit(50L)) + 1).cast("double").as("l_quantity"),
      (pmod(h(seed, 40, id), lit(11L)).cast("double") / 100.0).as("l_discount"),
      ((pmod(h(seed, 41, id), lit(500000L)) + 100).cast("double") / 100.0)
        .as("l_extendedprice"),
      (pmod(h(seed, 53, id), lit(9L)).cast("double") / 100.0).as("l_tax"),
      timestamp_seconds(unix_timestamp(base)
        + pmod(h(seed, 42, id), lit(2373L * 86400L))).as("l_shipdate"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pmod(h(seed, 43, id), lit(3L)) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (pmod(h(seed, 54, id), lit(2L)) + 1).cast("int")).as("l_linestatus"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  /** Write the seeded 1× corpus into `dir`, overwriting what is there:
    * every table of [[Tables.names]], with 5k documents, 2k embeddings,
    * 100k events and the relational slice over 15k orders. The seed
    * fixes every row. */
  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    documents(spark, 5000L, seed)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    embeddings(spark, 2000L, seed)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    events(spark, 100000L, seed)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    relational(spark, dir, 15000L, seed)
  }
}
