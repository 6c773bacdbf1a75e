package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._

import graft.{Tables, QueryDef}
import graft.functions.Shims._
import graft.plans.{AsOfJoin, BandJoin}

/** Temporal / calendar / event-time operator surface: date-part shims
  * (SURVEY §2.8 F2–F6, F12–F15), calendar-dimension generation, the
  * 24×4 time grid (J9), manual pivot (PV1), as-of and band joins (J8),
  * JSON extraction (F21), z-score outlier detection (A10), and
  * asOf-parameterized horizon filters (P2/P3).
  *
  * `events.ts` is nanosecond parquet which Spark truncates to µs —
  * timestamps are therefore always surfaced as epoch millis (both
  * engines floor identically) and never as raw timestamps.
  */
object Temporal {

  /** Shared by q21 and q21b: both compute exactly this correlated-MAX
    * restatement. */
  private val asofOracle =
    """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id,
      |       epoch_ms(p.ts) AS purchase_ms,
      |       epoch_ms((SELECT MAX(c.ts) FROM c
      |                 WHERE c.user_id = p.user_id AND c.ts <= p.ts)) AS last_click_ms
      |FROM events p
      |WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id""".stripMargin

  /** q21/q21b body: each purchase with its user's latest click at or
    * before it (ties on time go to the highest click id). */
  private def lastClickAsOf(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
    AsOfJoin(purchases, clicks, Seq("user_id"), "ts", "click_ts",
      rightCols = Seq("click_ts"), tieBreak = Some("click_id"))
      .select(
        $"event_id", $"user_id",
        unix_millis($"ts").as("purchase_ms"),
        unix_millis($"click_ts").as("last_click_ms"))
      .orderBy($"event_id")
  }

  val defs: Seq[QueryDef] = Seq(

    /** F14/F15 — calendar dimension derived from the data's own date
      * span (ref etl_pipeline.py:328-364 dim_date build; deterministic:
      * bounds come from the data, not CURRENT_DATE). */
    QueryDef.sql(
      "q18_date_dim",
      """WITH span AS (
        |  SELECT CAST(MIN(o_orderdate) AS DATE) AS lo, CAST(MAX(o_orderdate) AS DATE) AS hi FROM orders
        |), days AS (
        |  SELECT unnest(generate_series((SELECT lo FROM span), (SELECT hi FROM span), INTERVAL 1 DAY)) AS d
        |)
        |SELECT CAST(d AS DATE) AS full_date,
        |       CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_key,
        |       CAST(year(d) AS INTEGER) AS year, CAST(month(d) AS INTEGER) AS month,
        |       CAST(day(d) AS INTEGER) AS day_of_month,
        |       dayname(d) AS day_name,
        |       CAST(dayofweek(d) AS INTEGER) AS pg_dow,
        |       CAST(dayofyear(d) AS INTEGER) AS day_of_year,
        |       CAST(weekofyear(d) AS INTEGER) AS week_of_year,
        |       CAST(quarter(d) AS INTEGER) AS quarter,
        |       dayofweek(d) IN (0, 6) AS is_weekend
        |FROM days
        |ORDER BY full_date""".stripMargin) { (s, d) =>
      val span = Tables.orders(s, d)
        .agg(min($"o_orderdate".cast("date")).as("lo"),
          max($"o_orderdate".cast("date")).as("hi"))
      span
        .select(explode(sequence($"lo", $"hi", expr("INTERVAL 1 DAY"))).as("d"))
        .select(
          $"d".as("full_date"),
          dateKey($"d").as("date_key"),
          year($"d").as("year"), month($"d").as("month"),
          dayofmonth($"d").as("day_of_month"),
          dayName($"d").as("day_name"),
          pgDow($"d").as("pg_dow"),
          dayofyear($"d").as("day_of_year"),
          weekofyear($"d").as("week_of_year"),
          quarter($"d").as("quarter"),
          pgDow($"d").isin(0, 6).as("is_weekend"))
        .orderBy($"full_date")
    },

    /** J9/F17 — 24h × 15-min cross-product time grid with shift and
      * business-hour attributes (ref etl_pipeline.py:374-423, 96 rows). */
    QueryDef.sql(
      "q19_time_grid",
      """SELECT CAST(h AS INTEGER) AS hour, CAST(m AS INTEGER) AS minute,
        |       CAST(h * 100 + m AS INTEGER) AS time_key,
        |       CASE WHEN h BETWEEN 6 AND 11 THEN 'Morning'
        |            WHEN h BETWEEN 12 AND 17 THEN 'Afternoon'
        |            WHEN h BETWEEN 18 AND 21 THEN 'Evening'
        |            ELSE 'Night' END AS time_of_day,
        |       CASE WHEN h BETWEEN 6 AND 13 THEN 'Morning Shift'
        |            WHEN h BETWEEN 14 AND 21 THEN 'Afternoon Shift'
        |            ELSE 'Night Shift' END AS shift,
        |       h BETWEEN 9 AND 17 AS is_business_hour
        |FROM range(24) t(h), (VALUES (0), (15), (30), (45)) v(m)
        |ORDER BY time_key""".stripMargin) { (s, d) =>
      val hours = s.range(24).select(col("id").cast("int").as("hour"))
      val quarters = s.range(4).select((col("id") * 15).cast("int").as("minute"))
      hours.crossJoin(quarters)
        .select(
          $"hour", $"minute",
          ($"hour" * 100 + $"minute").as("time_key"),
          when($"hour".between(6, 11), "Morning")
            .when($"hour".between(12, 17), "Afternoon")
            .when($"hour".between(18, 21), "Evening")
            .otherwise("Night").as("time_of_day"),
          when($"hour".between(6, 13), "Morning Shift")
            .when($"hour".between(14, 21), "Afternoon Shift")
            .otherwise("Night Shift").as("shift"),
          $"hour".between(9, 17).as("is_business_hour"))
        .orderBy($"time_key")
    },

    /** PV1 — manual pivot hour × day-of-week via 7× SUM(CASE)
      * (ref 02:259-268, replicated column-for-column incl. the weekly
      * total used for the row-sum invariant). */
    QueryDef.sql(
      "q20_pivot_hour_dow",
      """SELECT CAST(hour(ts) AS INTEGER) AS hora,
        |       CAST(SUM(CASE WHEN dayofweek(ts) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS domingo,
        |       CAST(SUM(CASE WHEN dayofweek(ts) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS lunes,
        |       CAST(SUM(CASE WHEN dayofweek(ts) = 2 THEN 1 ELSE 0 END) AS BIGINT) AS martes,
        |       CAST(SUM(CASE WHEN dayofweek(ts) = 3 THEN 1 ELSE 0 END) AS BIGINT) AS miercoles,
        |       CAST(SUM(CASE WHEN dayofweek(ts) = 4 THEN 1 ELSE 0 END) AS BIGINT) AS jueves,
        |       CAST(SUM(CASE WHEN dayofweek(ts) = 5 THEN 1 ELSE 0 END) AS BIGINT) AS viernes,
        |       CAST(SUM(CASE WHEN dayofweek(ts) = 6 THEN 1 ELSE 0 END) AS BIGINT) AS sabado,
        |       COUNT(*) AS total_semana
        |FROM events
        |GROUP BY 1
        |ORDER BY hora""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      def dow(k: Int, name: String) =
        sum(when(pgDow($"ts") === k, 1).otherwise(0)).as(name)
      ev.groupBy(hour($"ts").as("hora"))
        .agg(
          dow(0, "domingo"), dow(1, "lunes"), dow(2, "martes"),
          dow(3, "miercoles"), dow(4, "jueves"), dow(5, "viernes"),
          dow(6, "sabado"), count(lit(1)).as("total_semana"))
        .orderBy($"hora")
    },

    /** J8 — as-of join (point-in-time lookup): each purchase event gets
      * the latest preceding click of the same user. Implemented with the
      * single-shuffle union+window AsOfJoin operator (no nested loop);
      * oracle is the equivalent correlated MAX subquery. */
    QueryDef.sql("q21_asof_join", asofOracle)(lastClickAsOf),

    /** J8 — the same query under a second name, which the gate,
      * perfbench's mixed_queries and its corpus sweep all name. */
    QueryDef.sql("q21b_asof_join_native", asofOracle)(lastClickAsOf),

    /** J8 — band join: clicks of the same user within the hour before
      * each purchase, via the bucketed-equi-join rewrite (no nested
      * loop); oracle is the raw inequality join. */
    QueryDef.sql(
      "q22_band_join",
      """SELECT p.event_id, COUNT(c.event_id) AS n_clicks_1h
        |FROM events p
        |LEFT JOIN events c
        |  ON c.event_type = 'click' AND c.user_id = p.user_id
        | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts".as("click_ts"), $"event_id".as("click_id"))
      val hits = BandJoin.lookback(
        purchases, clicks, Seq("user_id"), "ts", "click_ts", 3600000L)
        .groupBy($"event_id").agg(count($"click_id").as("n"))
      purchases
        .join(hits, Seq("event_id"), "left")
        .select($"event_id", coalesce($"n", lit(0L)).as("n_clicks_1h"))
        .orderBy($"event_id")
    },

    /** F21 — JSON extraction from the semi-structured props column
      * (ref VARIANT staging, etl_pipeline.py:969-972; from_json ↔
      * PARSE_JSON). */
    QueryDef.sql(
      "q23_json_extract",
      """SELECT event_type,
        |       CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
        |       COUNT(CASE WHEN CAST(props->>'k' AS INTEGER) > 50 THEN 1 END) AS n_high
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types._
      val kSchema = StructType(Seq(StructField("k", IntegerType)))
      Tables.events(s, d)
        .withColumn("k", from_json($"props", kSchema).getField("k"))
        .groupBy($"event_type")
        .agg(
          sum($"k").cast("long").as("sum_k"),
          count(when($"k" > 50, lit(1))).as("n_high"))
        .orderBy($"event_type")
    },

    /** A10 — z-score outlier detection (ref etl_pipeline.py:313-322,
      * population σ like scipy.stats.zscore). Variance is computed from
      * exact integer-cent sums so both engines evaluate the identical
      * IEEE-754 expression — no stddev_samp/pop implementation drift. */
    QueryDef.sql(
      "q24_zscore_outliers",
      """WITH c AS (
        |  SELECT event_id, event_type, value,
        |         CAST(ROUND(value*100,0) AS BIGINT) AS vc
        |  FROM events
        |), s AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         CAST(SUM(vc) AS BIGINT) AS s1,
        |         CAST(SUM(vc*vc) AS BIGINT) AS s2
        |  FROM c GROUP BY event_type
        |)
        |SELECT c.event_id, c.event_type, c.value,
        |       CAST(CAST(ROUND(((c.vc - s.s1 * 1.0 / s.n)
        |            / sqrt(s.s2 * 1.0 / s.n - (s.s1 * 1.0 / s.n) * (s.s1 * 1.0 / s.n))) * 1e4, 0) AS BIGINT) / 1e4 AS DOUBLE) AS z
        |FROM c JOIN s ON c.event_type = s.event_type
        |WHERE abs((c.vc - s.s1 * 1.0 / s.n)
        |          / sqrt(s.s2 * 1.0 / s.n - (s.s1 * 1.0 / s.n) * (s.s1 * 1.0 / s.n))) > 3
        |ORDER BY c.event_id""".stripMargin) { (s, d) =>
      val c = Tables.events(s, d)
        .select($"event_id", $"event_type", $"value", cents($"value").as("vc"))
      val stats = c.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum($"vc").cast("long").as("s1"),
          sum($"vc" * $"vc").cast("long").as("s2"))
      val mean = $"s1" * lit(1.0) / $"n"
      val z = ($"vc" - mean) / sqrt($"s2" * lit(1.0) / $"n" - mean * mean)
      c.join(broadcast(stats), Seq("event_type"))
        .filter(abs(z) > 3)
        .select($"event_id", $"event_type", $"value", round2(z, 4).as("z"))
        .orderBy($"event_id")
    },

    /** P2/P3 — asOf-parameterized date-horizon filter (ref 02:58,91,137
      * `>= CURRENT_DATE - INTERVAL 'k days'`, made deterministic: asOf =
      * MAX(o_orderdate) per SURVEY §7.4#4). */
    QueryDef.sql(
      "q25_horizon_filter",
      """WITH mx AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS as_of FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n_orders,
        |       CAST(MIN(CAST(o_orderdate AS DATE)) AS DATE) AS first_day
        |FROM orders, mx
        |WHERE CAST(o_orderdate AS DATE) >= as_of - INTERVAL 90 DAY
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val mx = o.agg(max($"o_orderdate".cast("date")).as("as_of"))
      o.crossJoin(broadcast(mx))
        .filter($"o_orderdate".cast("date") >= date_sub($"as_of", 90))
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          min($"o_orderdate".cast("date")).as("first_day"))
        .orderBy($"o_orderstatus")
    },

    /** F1/F24 — string surface: concat with separators, substring
      * truncation, case mapping (ref 02:68,83,102; etl 'VARCHAR(n)'
      * truncations :348,415-420). */
    QueryDef.sql(
      "q26_string_funcs",
      """SELECT c_custkey,
        |       c_name || ' [' || c_mktsegment || ']' AS label,
        |       substr(c_name, 1, 10) AS short_name,
        |       upper(c_mktsegment) AS segment_uc,
        |       CAST(length(c_name) AS INTEGER) AS name_len
        |FROM customer
        |ORDER BY c_custkey
        |LIMIT 25""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .select(
          $"c_custkey",
          concat($"c_name", lit(" ["), $"c_mktsegment", lit("]")).as("label"),
          substring($"c_name", 1, 10).as("short_name"),
          upper($"c_mktsegment").as("segment_uc"),
          length($"c_name").as("name_len"))
        .orderBy($"c_custkey")
        .limit(25)
    },

    /** F25/F26 — equirectangular geo distance + min-distance-over-
      * waypoints (ref scripts/07_lambda_functions.py:95-99,176-181),
      * exercised over embedding coordinates as synthetic lat/lon pairs. */
    QueryDef.sql(
      "q27_geo_min_waypoint",
      """SELECT vec_id,
        |       CAST(CAST(ROUND(LEAST(
        |         sqrt((CAST(embedding[1] AS DOUBLE) - CAST(embedding[3] AS DOUBLE)) * (CAST(embedding[1] AS DOUBLE) - CAST(embedding[3] AS DOUBLE))
        |            + (CAST(embedding[2] AS DOUBLE) - CAST(embedding[4] AS DOUBLE)) * (CAST(embedding[2] AS DOUBLE) - CAST(embedding[4] AS DOUBLE))) * 111.0,
        |         sqrt((CAST(embedding[1] AS DOUBLE) - CAST(embedding[5] AS DOUBLE)) * (CAST(embedding[1] AS DOUBLE) - CAST(embedding[5] AS DOUBLE))
        |            + (CAST(embedding[2] AS DOUBLE) - CAST(embedding[6] AS DOUBLE)) * (CAST(embedding[2] AS DOUBLE) - CAST(embedding[6] AS DOUBLE))) * 111.0,
        |         sqrt((CAST(embedding[1] AS DOUBLE) - CAST(embedding[7] AS DOUBLE)) * (CAST(embedding[1] AS DOUBLE) - CAST(embedding[7] AS DOUBLE))
        |            + (CAST(embedding[2] AS DOUBLE) - CAST(embedding[8] AS DOUBLE)) * (CAST(embedding[2] AS DOUBLE) - CAST(embedding[8] AS DOUBLE))) * 111.0) * 1e4, 0) AS BIGINT) / 1e4 AS DOUBLE) AS min_dist_km
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      def e(i: Int): Column = element_at($"embedding", i).cast("double")
      val dists = Seq(3, 5, 7).map(i =>
        approxGeoDistKm(e(1), e(2), e(i), e(i + 1)))
      Tables.embeddings(s, d)
        .select($"vec_id", round2(least(dists: _*), 4).as("min_dist_km"))
        .orderBy($"vec_id")
    },

    /** Ordered funnel analysis (E67/q104) — the product-analytics
      * staple (ClickHouse `windowFunnel`, Amplitude funnels): how many
      * users click, then view AFTER their first click, then purchase
      * AFTER that view. Each step is one filtered hash agg (min µs per
      * user) plus one user-keyed join against the previous step's
      * user-count-sized table — NO per-user event sort, no window; the
      * ordering constraint lives entirely in `us >= t_prev`. Integer
      * µs throughout → hash-exact. At 100 TB each step table is
      * user-count-sized (broadcastable while users ≪ events, AQE
      * decides), and the event scans prune to one event_type each. */
    QueryDef.sql(
      "q104_funnel",
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        |), t1 AS (
        |  SELECT user_id, MIN(us) AS t FROM ev WHERE event_type = 'click' GROUP BY user_id
        |), t2 AS (
        |  SELECT e.user_id, MIN(e.us) AS t FROM ev e JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'view' AND e.us >= t1.t GROUP BY e.user_id
        |), t3 AS (
        |  SELECT e.user_id, MIN(e.us) AS t FROM ev e JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.us >= t2.t GROUP BY e.user_id
        |)
        |SELECT * FROM (
        |  SELECT 1 AS step, 'click' AS step_name, COUNT(*) AS n_users FROM t1
        |  UNION ALL
        |  SELECT 2, 'view', COUNT(*) FROM t2
        |  UNION ALL
        |  SELECT 3, 'purchase', COUNT(*) FROM t3
        |) ORDER BY step""".stripMargin) { (s, d) =>
      // ONE event scan + ONE user-keyed shuffle (r15; guide §2.4 —
      // the former spelling scanned events three times and joined the
      // step frontiers back twice). Each step time is a conditional
      // MIN over the user's whole partition — an UNORDERED window
      // frame, so the three steps are three window passes on the same
      // exchange with no sort — and a later step's condition reads the
      // previous step's window column directly (null t1 ⇒ the view
      // comparison is null ⇒ never counted, exactly the old inner
      // join's gate). The step counts then fold to one global agg row
      // exploded into the 3-row funnel.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id")
      val perRow = Tables.events(s, d)
        .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
        .withColumn("t1", min(when($"event_type" === "click", $"us")).over(w))
        .withColumn("t2", min(when($"event_type" === "view" && $"us" >= $"t1",
          $"us")).over(w))
        .withColumn("t3", min(when($"event_type" === "purchase" && $"us" >= $"t2",
          $"us")).over(w))
      perRow
        .groupBy($"user_id")
        .agg(max($"t1").as("t1"), max($"t2").as("t2"), max($"t3").as("t3"))
        .agg(count($"t1").as("n1"), count($"t2").as("n2"), count($"t3").as("n3"))
        .select(explode(array(
          struct(lit(1).as("step"), lit("click").as("step_name"), $"n1".as("n_users")),
          struct(lit(2).as("step"), lit("view").as("step_name"), $"n2".as("n_users")),
          struct(lit(3).as("step"), lit("purchase").as("step_name"), $"n3".as("n_users"))))
          .as("r"))
        .select($"r.step", $"r.step_name", $"r.n_users")
        .orderBy($"step")
    },

    /** Cohort retention (E68/q105) — the growth-analytics triangle:
      * cohort = each user's first active day; retention cell
      * (cohort_day, day_offset) = distinct cohort users active that
      * many days later. One first-touch agg (the q96 rewrite), one
      * distinct-days pass, one user-keyed join, one count-distinct —
      * all hash aggs, output bounded by #days² regardless of corpus
      * size. Integer day arithmetic → hash-exact. */
    QueryDef.sql(
      "q105_cohort_retention",
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), first AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id
        |)
        |SELECT f.cohort_day,
        |       datediff('day', f.cohort_day, a.day) AS day_offset,
        |       COUNT(DISTINCT a.user_id) AS n_users
        |FROM act a JOIN first f ON a.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin) { (s, d) =>
      val act = Tables.events(s, d)
        .select($"user_id", to_date($"ts").as("day")).distinct()
      val first = act.groupBy($"user_id").agg(min($"day").as("cohort_day"))
      act.join(first, Seq("user_id"))
        .groupBy($"cohort_day",
          datediff($"day", $"cohort_day").as("day_offset"))
        .agg(countDistinct($"user_id").as("n_users"))
        .orderBy($"cohort_day", $"day_offset")
    },

    /** Rolling 7-day RANGE-frame window (E72/q109) — the trailing-
      * window KPI every ops dashboard serves ("events/revenue, last 7
      * days, per user, daily"): a VALUE-based window frame (`RANGE
      * BETWEEN 6 PRECEDING AND CURRENT ROW` over the day number), the
      * one frame type the rest of the window surface (W1–W4: rows
      * frames, unbounded running totals, lag/lead) doesn't exercise —
      * and the only correct one here, since a ROWS frame silently
      * miscounts whenever a user has gap days. Runs on the DAILY
      * pre-aggregate (one corpus hash agg; the window frame is ≤ #days
      * rows per user, never events — the q101 shape). Integer counts
      * and cents sums; the /1e2 money presentation is one shared IEEE
      * division. */
    QueryDef.sql(
      "q109_rolling_range",
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_idx,
        |         COUNT(*) AS n_events,
        |         SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS c
        |  FROM events GROUP BY 1, 2, 3
        |)
        |SELECT user_id, day, n_events,
        |       CAST(SUM(n_events) OVER w AS BIGINT) AS roll7_events,
        |       CAST(CAST(SUM(c) OVER w AS BIGINT) / 1e2 AS DOUBLE) AS roll7_value
        |FROM daily
        |WINDOW w AS (PARTITION BY user_id ORDER BY day_idx
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, day""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy($"user_id", to_date($"ts").as("day"),
          datediff(to_date($"ts"), to_date(lit("1970-01-01"))).cast("long")
            .as("day_idx"))
        .agg(count(lit(1)).as("n_events"), sum(cents($"value")).as("c"))
      val w = Window.partitionBy($"user_id").orderBy($"day_idx")
        .rangeBetween(-6, 0)
      daily.select($"user_id", $"day", $"n_events",
          sum($"n_events").over(w).as("roll7_events"),
          (sum($"c").over(w) / lit(1e2)).cast("double").as("roll7_value"))
        .orderBy($"user_id", $"day")
    },

    /** Calendar gap filling with linear interpolation (E77/q114) —
      * the time-series imputation primitive every daily-grain pipeline
      * needs before modeling: densify each user's daily value series
      * to the full calendar between their first and last active day
      * (`sequence` + explode — generated rows, no calendar table
      * join), then fill the gaps by linear interpolation between the
      * bracketing observed days. The brackets come from frame-bounded
      * `last/first IGNORE NULLS` windows (≤ #days rows per user — the
      * q101 shape), NOT from a self-join. Exact: observed values are
      * integer cents, day offsets integers; the interpolation
      * `prev + (next − prev) · (Δ/span)` evaluates in one shared
      * IEEE order, rp4. Observed rows pass through bit-unchanged
      * (interpolation at Δ=0 is algebraically prev). */
    QueryDef.sql(
      "q114_gap_fill",
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS c
        |  FROM events GROUP BY 1, 2
        |), spans AS (
        |  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
        |), cal AS (
        |  SELECT s.user_id, CAST(u.day AS DATE) AS day
        |  FROM spans s, UNNEST(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS u(day)
        |), dense AS (
        |  SELECT c.user_id, c.day, d.c,
        |         LAST_VALUE(d.c IGNORE NULLS) OVER w AS prev_c,
        |         LAST_VALUE(CASE WHEN d.c IS NOT NULL THEN c.day END IGNORE NULLS) OVER w AS prev_day,
        |         FIRST_VALUE(d.c IGNORE NULLS) OVER wf AS next_c,
        |         FIRST_VALUE(CASE WHEN d.c IS NOT NULL THEN c.day END IGNORE NULLS) OVER wf AS next_day
        |  FROM cal c LEFT JOIN daily d ON d.user_id = c.user_id AND d.day = c.day
        |  WINDOW w AS (PARTITION BY c.user_id ORDER BY c.day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |       wf AS (PARTITION BY c.user_id ORDER BY c.day
        |               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |)
        |SELECT user_id, day, c IS NOT NULL AS observed,
        |       CAST(CAST(ROUND(((CAST(prev_c AS DOUBLE) + (CAST(next_c AS DOUBLE) - CAST(prev_c AS DOUBLE)) * (CAST(day - prev_day AS BIGINT) / CAST(CASE WHEN next_day = prev_day THEN 1 ELSE next_day - prev_day END AS BIGINT))) / 1e2) * 1e4, 0) AS BIGINT) / 1e4 AS DOUBLE) AS value_filled
        |FROM dense
        |ORDER BY user_id, day""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, d)
        .groupBy($"user_id", to_date($"ts").as("day"))
        .agg(sum(cents($"value")).as("c"))
      val cal = daily.groupBy($"user_id")
        .agg(min($"day").as("d0"), max($"day").as("d1"))
        .select($"user_id",
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val wb = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wf = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(0, Window.unboundedFollowing)
      val obsDay = when($"c".isNotNull, $"day")
      val dense = cal.join(daily, Seq("user_id", "day"), "left")
        .withColumn("prev_c", last($"c", ignoreNulls = true).over(wb))
        .withColumn("prev_day", last(obsDay, ignoreNulls = true).over(wb))
        .withColumn("next_c", first($"c", ignoreNulls = true).over(wf))
        .withColumn("next_day", first(obsDay, ignoreNulls = true).over(wf))
      val span = when($"next_day" === $"prev_day", 1)
        .otherwise(datediff($"next_day", $"prev_day"))
      val interp = ($"prev_c".cast("double") +
        ($"next_c".cast("double") - $"prev_c".cast("double")) *
          (datediff($"day", $"prev_day").cast("long") / span.cast("long"))) / lit(1e2)
      dense.select($"user_id", $"day", $"c".isNotNull.as("observed"),
          round2(interp, 4).as("value_filled"))
        .orderBy($"user_id", $"day")
    },

    /** Seasonal decomposition, seasonal-naive (E75/q112) — the
      * dashboard anomaly baseline: each event type's daily volume is
      * decomposed into a day-of-week SEASONAL component (the mean of
      * that weekday's daily counts) and a RESIDUAL (observed −
      * expected); a traffic dip reads as anomalous only against its
      * weekday's own baseline (Sunday lull ≠ incident). Exact: daily
      * counts are integers, the weekday mean is one
      * CAST(SUM)/COUNT division (the avgExact rule), the residual one
      * subtraction — all in shared IEEE order, rp4. Two hash aggs +
      * one broadcast join-back of the #types×7-row seasonal table;
      * output ∝ #types × #days. */
    QueryDef.sql(
      "q112_seasonal_decompose",
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         dayofweek(CAST(ts AS DATE)) AS dow, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2, 3
        |), seasonal AS (
        |  SELECT event_type, dow,
        |         CAST(SUM(n) AS DOUBLE) / COUNT(*) AS expected
        |  FROM daily GROUP BY 1, 2
        |)
        |SELECT d.event_type, d.day, CAST(d.dow AS INTEGER) AS dow, d.n,
        |       CAST(CAST(ROUND(s.expected * 1e4, 0) AS BIGINT) / 1e4 AS DOUBLE) AS expected,
        |       CAST(CAST(ROUND((d.n - s.expected) * 1e4, 0) AS BIGINT) / 1e4 AS DOUBLE) AS residual
        |FROM daily d JOIN seasonal s
        |  ON s.event_type = d.event_type AND s.dow = d.dow
        |ORDER BY d.event_type, d.day""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", pgDow(col("day")))
      val seasonal = daily.groupBy($"event_type", $"dow")
        .agg((sum($"n").cast("double") / count(lit(1))).as("expected"))
      daily.join(broadcast(seasonal), Seq("event_type", "dow"))
        .select($"event_type", $"day", $"dow".cast("int").as("dow"), $"n",
          round2($"expected", 4).as("expected"),
          round2($"n" - $"expected", 4).as("residual"))
        .orderBy($"event_type", $"day")
    },

    /** Time-weighted average (E70/q107) — TWAP, the temporal
      * integration primitive (sensor means, position exposure, fleet
      * utilization): per user, the trapezoidal integral of `value`
      * over time divided by the covered span. Every accumulator is
      * integer — area = Σ(prev_cents + cents)·Δµs (the ÷2 deferred to
      * the final division), span = Σ Δµs — so the sums are exact in
      * any order and the single double division at the end runs in one
      * fixed IEEE order both engines share. Per-row products stay
      * ≤ ~2e15 (2·10⁴ cents × month-of-µs); the long sums hold to
      * ~10⁵ events/user·month — beyond that the accumulators graduate
      * to decimal(38,0) exactly like q102's Σy². The lag window is the
      * q39 gate shape (hot-user scale path = q39b's bucket sharding). */
    QueryDef.sql(
      "q107_twap",
      """WITH lagged AS (
        |  SELECT user_id,
        |         CAST(ROUND(value*100,0) AS BIGINT) AS c,
        |         LAG(CAST(ROUND(value*100,0) AS BIGINT)) OVER w AS prev_c,
        |         epoch_us(ts) AS us,
        |         LAG(epoch_us(ts)) OVER w AS prev_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), seg AS (
        |  SELECT user_id, (prev_c + c) * (us - prev_us) AS area, us - prev_us AS dt
        |  FROM lagged WHERE prev_us IS NOT NULL
        |), agg AS (
        |  SELECT user_id, COUNT(*) AS n_segments,
        |         SUM(dt) AS span_us, SUM(area) AS area2
        |  FROM seg GROUP BY user_id
        |)
        |SELECT user_id, CAST(n_segments AS BIGINT) AS n_segments,
        |       CAST(span_us AS BIGINT) AS span_us,
        |       CAST(CAST(ROUND((CAST(area2 AS DOUBLE) / (2e0 * CAST(span_us AS DOUBLE)) / 1e2) * 1e4, 0) AS BIGINT) / 1e4 AS DOUBLE) AS twap_value
        |FROM agg WHERE span_us > 0
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val lagged = Tables.events(s, d)
        .select($"user_id", $"ts", $"event_id",
          cents($"value").as("c"), unix_micros($"ts").as("us"))
        .withColumn("prev_c", lag($"c", 1).over(w))
        .withColumn("prev_us", lag($"us", 1).over(w))
        .filter($"prev_us".isNotNull)
      lagged
        .select($"user_id",
          (($"prev_c" + $"c") * ($"us" - $"prev_us")).as("area"),
          ($"us" - $"prev_us").as("dt"))
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_segments"),
          sum($"dt").as("span_us"), sum($"area").as("area2"))
        .filter($"span_us" > 0)
        .select($"user_id", $"n_segments", $"span_us",
          round2($"area2".cast("double") / (lit(2e0) * $"span_us".cast("double")) / lit(1e2), 4)
            .as("twap_value"))
        .orderBy($"user_id")
    },

    /** Event-transition matrix (E69/q106) — the behavioral Markov
      * chain: per-user consecutive event-type bigrams, counted across
      * users, with each transition's share of its origin row. The lag
      * window partitions by user (the q39 gate shape — the hot-user
      * scale path is q39b's deterministic time-bucket sharding, which
      * applies verbatim since lag is exactly the cross-bucket boundary
      * it resolves); the share join-back broadcasts a #types-row
      * total table. (ts, event_id) ordering is total → deterministic,
      * integer counts + one portable-rounded ratio → hash-exact. */
    QueryDef.sql(
      "q106_event_transitions",
      """WITH lagged AS (
        |  SELECT user_id, event_type AS to_type,
        |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
        |  FROM events
        |), pairs AS (
        |  SELECT from_type, to_type, COUNT(*) AS n
        |  FROM lagged WHERE from_type IS NOT NULL GROUP BY 1, 2
        |), tot AS (
        |  SELECT from_type, SUM(n) AS t FROM pairs GROUP BY from_type
        |)
        |SELECT p.from_type, p.to_type, p.n,
        |       CAST(CAST(ROUND((CAST(p.n AS DOUBLE) / t.t) * 1e6, 0) AS BIGINT) / 1e6 AS DOUBLE) AS share
        |FROM pairs p JOIN tot t ON p.from_type = t.from_type
        |ORDER BY p.from_type, p.to_type""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val pairs = Tables.events(s, d)
        .select($"user_id", $"event_type".as("to_type"), $"ts", $"event_id")
        .withColumn("from_type", lag($"to_type", 1).over(w))
        .filter($"from_type".isNotNull)
        .groupBy($"from_type", $"to_type")
        .agg(count(lit(1)).as("n"))
      val tot = pairs.groupBy($"from_type").agg(sum($"n").as("t"))
      pairs.join(broadcast(tot), Seq("from_type"))
        .select($"from_type", $"to_type", $"n",
          round2($"n".cast("double") / $"t", 6).as("share"))
        .orderBy($"from_type", $"to_type")
    },

    /** Native session-window aggregation (E108/q144) — gap-based
      * sessions through Spark's BUILT-IN `session_window` function
      * (the production spelling of q39's lag/flag construction and
      * st_sessionize's custom keyed state; the same call works in
      * Structured Streaming with watermarked state eviction). Spark
      * defines a session's end as last event + gap, so the oracle is
      * q39's gap construction with `end_ms = max(ts) + 30 min` — the
      * window-semantics equivalence IS the gate. Boundary nuance,
      * established EMPIRICALLY by the r12 seed-fuzz sweep (seed 401
      * produced three exactly-30-min gaps and Spark MERGED all three):
      * session_window merges an event landing exactly at the previous
      * session's end — per-event windows [t, t+gap) that merely TOUCH
      * are coalesced — so a new session starts only when the gap is
      * STRICTLY greater than 30 min (`>` in the flag, the same
      * convention as q39). The oracle's original `>=` transcription
      * was wrong and invisible to every fixed fixture (no exact-gap
      * pair exists in them); FUZZ_r12 is the regression evidence.
      * Exact cents totals; integer-ms bounds. Scale: one
      * session-assigning shuffle per user partition — the q39 class
      * (q39b's sharding argument covers the hot user). */
    QueryDef.sql(
      "q144_session_window",
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, value,
        |         CASE WHEN LAG(ts) OVER w IS NULL
        |                OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1
        |              ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sessions AS (
        |  SELECT user_id, ts, value,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS seq
        |  FROM flagged
        |)
        |SELECT user_id,
        |       epoch_ms(MIN(ts)) AS start_ms,
        |       epoch_ms(MAX(ts)) + 1800000 AS end_ms,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value*100,0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM sessions
        |GROUP BY user_id, seq
        |ORDER BY user_id, start_ms""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"),
          sum(cents($"value")).as("total_cents"))
        .select($"user_id",
          unix_millis($"sw.start").as("start_ms"),
          unix_millis($"sw.end").as("end_ms"),
          $"n_events", $"total_cents")
        .orderBy($"user_id", $"start_ms")
    },

    /** Last-touch conversion attribution (E85/q122) — the marketing-
      * analytics primitive: every purchase is credited to the user's
      * most recent click if it happened within a 7-day window,
      * otherwise counted as 'direct'. The lookup IS an as-of join —
      * the same [[graft.plans.AsOfJoin]] operator that resolves SCD2
      * point-in-time fact keys (J8) re-used on a second workload, with
      * the attribution window applied as a post-filter (the latest
      * click is the only candidate, so "outside the window" ⟺ "no
      * click inside it"). Revenue stays exact integer cents; the
      * window test is exact integer µs. Scale shape: one key-shuffle +
      * sort of each side (the as-of cost profile, never a pair space)
      * + one day-grain hash agg. */
    QueryDef.sql(
      "q122_last_touch_attribution",
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts, CAST(ROUND(value*100,0) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'
        |), a AS (
        |  SELECT p.user_id, p.cents,
        |         (SELECT MAX(c.ts) FROM c
        |          WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS click_ts,
        |         p.ts AS purchase_ts
        |  FROM p
        |)
        |SELECT CASE WHEN click_ts IS NOT NULL
        |                 AND epoch_us(purchase_ts) - epoch_us(click_ts) <= 604800000000
        |            THEN strftime(CAST(click_ts AS DATE), '%Y-%m-%d')
        |            ELSE 'direct' END AS attribution_day,
        |       CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(SUM(cents) AS BIGINT) AS revenue_cents
        |FROM a
        |GROUP BY 1 ORDER BY attribution_day""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id", $"ts", cents($"value").as("cents"))
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id", $"ts".as("click_ts"))
      val horizonUs = 7L * 24 * 3600 * 1000000L
      graft.plans.AsOfJoin(purchases, clicks, Seq("user_id"), "ts", "click_ts",
          rightCols = Seq("click_ts"))
        .withColumn("attribution_day",
          when($"click_ts".isNotNull &&
               unix_micros($"ts") - unix_micros($"click_ts") <= horizonUs,
            date_format(to_date($"click_ts"), "yyyy-MM-dd"))
            .otherwise("direct"))
        .groupBy($"attribution_day")
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct($"user_id").as("n_users"),
          sum($"cents").as("revenue_cents"))
        .orderBy($"attribution_day")
    },
  )
}
