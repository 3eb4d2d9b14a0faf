package graft.gates

import graft.gates.Gate._
import graft.operators.{AsofOps, SketchOps}
import graft.streaming.StreamingExtract
import org.apache.spark.sql.functions._

/** Relational gates over the TPC-H-ish and events tables: aggregates,
  * joins, windows, pivots, set ops, JSON, sketches, top-k and the
  * Structured Streaming executions (ev_stream_*), whose oracles are the
  * batch answers they must converge to.
  */
object RelationalGates {

  /** Per (event_type, hour) event count and value-cents sum: the batch
    * answer ev_window_agg computes and both streaming windows converge to
    * (ev_stream_late after its late-drop + flush repair). */
  private val hourlyTotalsSql =
    """SELECT event_type, epoch_us(date_trunc('hour', ts)) AS win_us,
      |  count(*)::BIGINT AS n,
      |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_c
      |FROM events GROUP BY event_type, date_trunc('hour', ts)""".stripMargin

  /** 30-min-gap sessions and event count per user: ev_sessions and the
    * streaming sessionization it mirrors. */
  private val sessionsSql =
    """WITH g AS (
      |  SELECT user_id,
      |    CASE WHEN lag(ts, 1) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts), 1, 0) OVER w > 1800000000
      |      THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
      |       count(*)::BIGINT AS n_events
      |FROM g GROUP BY user_id""".stripMargin

  val all: Seq[Gate] = Seq(
    Gate("q1_agg", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem").groupBy($"l_returnflag", $"l_linestatus").agg(
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum(round($"l_extendedprice" * 100).cast("long")).as("sum_price_cents"),
        sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * 10000).cast("long"))
          .as("sum_disc_price_c4"),
        count(lit(1)).as("n_rows"))
    },
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_price_c4,
        |       count(*)::BIGINT AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    Gate("q6_filter", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .filter($"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
        .agg(sum(round($"l_extendedprice" * $"l_discount" * 10000).cast("long"))
               .as("revenue_c4"),
             count(lit(1)).as("n_rows"))
    },
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) AS BIGINT) AS revenue_c4,
        |       count(*)::BIGINT AS n_rows
        |FROM lineitem
        |WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin),

    Gate("q3_topk", (s, dir) => {
      import s.implicits._
      // customer SCALES with the corpus — no forced broadcast (Catalyst/
      // AQE broadcasts while it fits, shuffle-joins at 100 TB); the
      // segment filter is pushed to its scan either way
      val cust = t(s, dir, "customer")
        .filter($"c_mktsegment" === "BUILDING").select("c_custkey")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .join(cust, $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", unix_micros($"o_orderdate".cast("timestamp_ltz")).as("o_odate_us"))
        .agg(sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * 10000)
          .cast("long")).as("revenue_c4"))
        .orderBy($"revenue_c4".desc, $"l_orderkey")
        .limit(10)
        .select($"l_orderkey", $"revenue_c4", $"o_odate_us")
    },
      """SELECT l_orderkey, revenue_c4, o_odate_us FROM (
        |  SELECT l_orderkey, epoch_us(o_orderdate) AS o_odate_us,
        |    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_c4
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |  GROUP BY l_orderkey, o_orderdate)
        |ORDER BY revenue_c4 DESC, l_orderkey LIMIT 10""".stripMargin),

    Gate("q5_region_rev", (s, dir) => {
      import s.implicits._
      // broadcast ONLY the fixed-cardinality dims (nation/region);
      // customer scales with the corpus and joins by shuffle at scale
      val geo = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
        .select($"c_custkey", $"n_name", $"r_name")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .join(geo, $"o_custkey" === $"c_custkey")
        .groupBy($"r_name", $"n_name")
        .agg(sum(round($"l_extendedprice" * (lit(1) - $"l_discount") * 10000)
          .cast("long")).as("revenue_c4"),
          count(lit(1)).as("n_rows"))
    },
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_c4,
        |  count(*)::BIGINT AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),

    Gate("w_events", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, dir, "events")
        .withColumn("value_c", floor($"value" * 100).cast("long"))
        .select($"event_id", $"user_id",
          row_number().over(w).cast("long").as("rnk"),
          $"value_c",
          ($"value_c" - lag($"value_c", 1, 0L).over(w)).as("delta_c"),
          sum($"value_c").over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("run_c"))
    },
      """SELECT event_id, user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS rnk,
        |  value_c,
        |  (value_c - lag(value_c, 1, 0) OVER w)::BIGINT AS delta_c,
        |  CAST(sum(value_c) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_c
        |FROM (SELECT event_id, user_id, ts,
        |        CAST(floor(value * 100) AS BIGINT) AS value_c FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin),

    Gate("ev_sessions", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // 30-min-gap sessionization: batch mirror of the streaming
      // flatMapGroupsWithState path (graft.streaming.Sessionize)
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, dir, "events")
        .withColumn("gap_us",
          unix_micros($"ts".cast("timestamp_ltz")) - lag(unix_micros($"ts".cast("timestamp_ltz")), 1, 0L).over(w))
        .withColumn("new_sess",
          when(lag($"ts", 1).over(w).isNull || $"gap_us" > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .groupBy($"user_id")
        .agg(sum($"new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
    }, sessionsSql),

    Gate("ev_window_agg", (s, dir) =>
      StreamingExtract.eventWindowAgg(t(s, dir, "events")),
      hourlyTotalsSql),

    // REAL Structured Streaming executions (Trigger.AvailableNow over
    // time-ordered micro-batches) — the streaming engine itself is under
    // the oracle gate, not just its batch mirror: each must
    // converge to the exact batch answer.
    Gate("ev_stream_window", (s, dir) =>
      StreamingExtract.streamWindowQuery(s, t(s, dir, "events")),
      hourlyTotalsSql),

    Gate("ev_stream_sessions", (s, dir) =>
      StreamingExtract.streamSessionsQuery(s, t(s, dir, "events")),
      sessionsSql),

    // After the late-drop + flush repair, the sink equals the batch agg.
    Gate("ev_stream_late", (s, dir) =>
      StreamingExtract.streamLateReconcileQuery(s, t(s, dir, "events")),
      hourlyTotalsSql),

    // REAL stream-stream interval join (purchase attribution): two
    // watermarked file streams, append mode, state bounded by the
    // watermark horizon on both sides; final table equals the batch
    // join bit-for-bit.
    // Batch replay of the stream-stream interval join: same user, the
    // purchase within [view_ts, view_ts + 30 min].
    Gate("ev_stream_join", (s, dir) =>
      StreamingExtract.streamJoinQuery(s, t(s, dir, "events")),
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |  CAST(floor(p.value * 100) AS BIGINT) AS val_cents
        |FROM events v
        |JOIN events p ON p.user_id = v.user_id
        |  AND v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE""".stripMargin),

    // dropDuplicatesWithinWatermark under a REAL replayed-duplicate
    // stream (the at-least-once-source shape): the 5th micro-batch
    // replays recent rows; watermark-bounded state dedups them and the
    // final aggregate equals the duplicate-free batch closed form.
    // Stream-dedup replay: the duplicates are dropped by the watermark
    // state, so the oracle is the plain duplicate-free aggregate.
    Gate("ev_stream_dedup", (s, dir) =>
      StreamingExtract.streamDedupQuery(s, t(s, dir, "events")),
      """SELECT event_type, count(*)::BIGINT AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_c
        |FROM events GROUP BY event_type""".stripMargin),

    // Pivot (counts per event_type column, one row per hour): the §2.4
    // wide-aggregation family over an explicit pivot value list. Spark
    // plans pivot as two aggregates (group-by-(win,type) → pivot-by-win),
    // i.e. two exchanges — but BOTH carry map-side-collapsed partial
    // counts (≤ windows×types rows per partition), never the event
    // stream, so the shape holds at corpus scale.
    Gate("ev_pivot", (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .withColumn("win_us",
          unix_micros(date_trunc("hour", $"ts").cast("timestamp_ltz")))
        .groupBy($"win_us")
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .select($"win_us",
          coalesce($"view", lit(0L)).as("n_view"),
          coalesce($"click", lit(0L)).as("n_click"),
          coalesce($"purchase", lit(0L)).as("n_purchase"),
          coalesce($"signup", lit(0L)).as("n_signup"),
          coalesce($"error", lit(0L)).as("n_error"))
    },
      """SELECT epoch_us(date_trunc('hour', ts)) AS win_us,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        |FROM events GROUP BY 1""".stripMargin),

    // As-of join (latest prior view per purchase) via union-tag + window
    // carry-forward: ONE exchange, no inequality-join pair explosion.
    // As-of replay with the same window construction (the carry-forward
    // IS the spec; an ORDER BY ... LIMIT 1 lateral would also work but
    // DuckDB's IGNORE NULLS window is exact and fast).
    Gate("ev_asof_join", (s, dir) =>
      AsofOps.asofLatestPrior(t(s, dir, "events"),
          leftType = "purchase", rightType = "view"),
      """WITH t AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN event_type = 'view' THEN event_id END AS r_id,
        |    CASE WHEN event_type = 'view' THEN epoch_us(ts) END AS r_us
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |w AS (
        |  SELECT *,
        |    last_value(r_id IGNORE NULLS) OVER win AS prior_id,
        |    last_value(r_us IGNORE NULLS) OVER win AS prior_us
        |  FROM t
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id AS left_id,
        |  coalesce(prior_id, -1)::BIGINT AS right_id,
        |  coalesce(epoch_us(ts) - prior_us, -1)::BIGINT AS gap_us
        |FROM w WHERE event_type = 'purchase'""".stripMargin),

    Gate("ev_json", (s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select($"event_type", get_json_object($"props", "$.k").cast("long").as("k"))
        .groupBy($"event_type")
        .agg(sum($"k").as("sum_k"), count(lit(1)).as("n"))
    },
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*)::BIGINT AS n
        |FROM events GROUP BY event_type""".stripMargin),

    Gate("set_viewers_no_purchase", (s, dir) => {
      import s.implicits._
      // hours with views but no purchases: distinct + anti join (EXCEPT)
      val ev = t(s, dir, "events").withColumn("hr",
        unix_micros(date_trunc("hour", $"ts").cast("timestamp_ltz")))
      val viewed = ev.filter($"event_type" === "view").select($"hr").distinct()
      val bought = ev.filter($"event_type" === "purchase").select($"hr").distinct()
      viewed.join(bought, Seq("hr"), "left_anti")
    },
      """SELECT DISTINCT epoch_us(date_trunc('hour', ts)) AS hr FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT DISTINCT epoch_us(date_trunc('hour', ts)) AS hr FROM events WHERE event_type = 'purchase'""".stripMargin),

    // Bloom-filter semi-join (runtime-filter pattern): the purchaser
    // filter crosses the cluster as 64 longs instead of a shuffle;
    // exact-vs-candidate accounting and the exact bit pattern gated.
    // Bloom replay: identical word/bit math over the shared md5i hash
    // (63 bits per word keeps every BIGINT non-negative on both engines).
    Gate("bloom_semijoin", (s, dir) =>
      SketchOps.bloomSemiJoin(t(s, dir, "events")),
      s"""WITH pu AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         |ppos AS (
         |  SELECT ${md5iSql("'bf' || t.i || '|' || CAST(user_id AS VARCHAR)")} % 4032 AS p
         |  FROM pu, (SELECT unnest([0,1,2]) AS i) t),
         |words AS (
         |  SELECT p // 63 AS w, bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
         |  FROM ppos GROUP BY p // 63),
         |fp AS (SELECT CAST(sum(((w + 1) * (bits % 1000000007)) % 1000000007)
         |         % 1000000007 AS BIGINT) AS bloom_fp FROM words),
         |vu AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
         |vpos AS (
         |  SELECT user_id,
         |    ${md5iSql("'bf' || t.i || '|' || CAST(user_id AS VARCHAR)")} % 4032 AS p
         |  FROM vu, (SELECT unnest([0,1,2]) AS i) t),
         |hits AS (
         |  SELECT v.user_id,
         |    sum(CASE WHEN ((coalesce(w.bits, 0) >> CAST(v.p % 63 AS INT)) & 1) = 1
         |        THEN 1 ELSE 0 END) AS nbits
         |  FROM vpos v LEFT JOIN words w ON w.w = v.p // 63
         |  GROUP BY v.user_id)
         |SELECT (SELECT count(*) FROM vu)::BIGINT AS n_viewers,
         |  (SELECT count(*) FROM hits WHERE nbits = 3)::BIGINT AS n_candidates,
         |  (SELECT count(*) FROM vu WHERE user_id IN (SELECT user_id FROM pu))::BIGINT AS n_true,
         |  (SELECT bloom_fp FROM fp) AS bloom_fp""".stripMargin),

    // Mergeable fixed-bin histogram quantile: p50/p95 per event_type
    // from a constant-size count aggregation (the streaming quantile
    // sketch when the value domain is known).
    Gate("agg_hist_quantile", (s, dir) =>
      SketchOps.histQuantiles(t(s, dir, "events")),
      """WITH b AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) // 16 AS bin FROM events),
        |c AS (SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bin,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM c)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(min(CASE WHEN cum * 100 >= n * 50 THEN bin END) AS BIGINT) AS p50_bin,
        |  CAST(min(CASE WHEN cum * 100 >= n * 95 THEN bin END) AS BIGINT) AS p95_bin
        |FROM cum GROUP BY event_type""".stripMargin),

    Gate("agg_median", (s, dir) => {
      import s.implicits._
      // exact interpolating median over integer cents; ×2 keeps the
      // midpoint case (.5) integer-exact across engines
      t(s, dir, "events")
        .withColumn("value_c", floor($"value" * 100).cast("long"))
        .groupBy($"event_type")
        .agg(floor(expr("percentile(value_c, 0.5)") * 2).cast("long").as("med2"),
             count(lit(1)).as("n"))
    },
      """SELECT event_type,
        |  CAST(floor(median(CAST(floor(value * 100) AS BIGINT)) * 2) AS BIGINT) AS med2,
        |  count(*)::BIGINT AS n
        |FROM events GROUP BY event_type""".stripMargin),

    // CUBE (all 2^2 grouping sets in one pass — partial-aggregable like
    // any hash aggregate, the §2.4 wide-grouping sibling of q_rollup).
    Gate("q_cube", (s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .cube($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
             sum(round($"l_quantity" * 100).cast("long")).as("qty_c"))
        .select(coalesce($"l_returnflag", lit("(all)")).as("l_returnflag"),
                coalesce($"l_linestatus", lit("(all)")).as("l_linestatus"),
                $"n", $"qty_c")
    },
      """SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
        |  coalesce(l_linestatus, '(all)') AS l_linestatus,
        |  count(*)::BIGINT AS n,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),

    Gate("q_rollup", (s, dir) => {
      import s.implicits._
      val geo = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .select($"c_custkey", $"n_name")
      t(s, dir, "orders")
        .join(geo, $"o_custkey" === $"c_custkey")
        .rollup($"n_name")
        .agg(count(lit(1)).as("n_orders"),
             sum(round($"o_totalprice" * 100).cast("long")).as("total_cents"))
        .select(coalesce($"n_name", lit("(all)")).as("n_name"),
                $"n_orders", $"total_cents")
    },
      """SELECT coalesce(n_name, '(all)') AS n_name,
        |  count(*)::BIGINT AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name)""".stripMargin),

    // Custom whole-operator plan (LogicalPlan + Rule + Strategy +
    // SparkPlan via extensions): the rank-filter window re-plans as two
    // sort-free bounded-heap TopKPerKeyExec passes around one exchange.
    Gate("topk_native", (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      graft.plans.TopKPerKeyPlans.TopKPerKeyExtension.install(s)
      t(s, dir, "events")
        .withColumn("value_c", floor($"value" * 100).cast("long"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"user_id")
            .orderBy($"value_c".desc, $"event_id")).cast("long"))
        .filter($"rnk" <= 3)
        .select($"user_id", $"event_id", $"value_c", $"rnk")
    },
      """SELECT user_id, event_id, value_c, rnk FROM (
        |  SELECT user_id, event_id,
        |    CAST(floor(value*100) AS BIGINT) AS value_c,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(floor(value*100) AS BIGINT) DESC, event_id) AS BIGINT) AS rnk
        |  FROM events)
        |WHERE rnk <= 3""".stripMargin),

    Gate("topk_brands", (s, dir) => {
      import s.implicits._
      t(s, dir, "part").groupBy($"p_brand")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"p_brand")
        .limit(5)
    },
      """SELECT p_brand, count(*)::BIGINT AS n FROM part
        |GROUP BY p_brand ORDER BY n DESC, p_brand LIMIT 5""".stripMargin),
  )
}
