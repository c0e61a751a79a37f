package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.gates.Gate.t

/** Relational core over the TPC-H-shaped and events tables (A1/A4/P9/P10/
  * P11, J5, O1-O3, W1-W2), plus the events-table spike alert. */
object RelationalGates {

  /** Numeric discipline for hash-exact oracle compare: money/metric sums go
    * through `cents()` (round → bigint) so both engines sum exact integers —
    * double summation order is not reproducible across engines. */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  val gates: Seq[Gate] = Seq(
    Gate("q1_agg", (s, d) => {
      // A1 grouped aggregation with partial/final split (HashAggregate)
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(cents(col("l_quantity"))).as("qty_cents"),
          sum(cents(col("l_extendedprice"))).as("price_cents"),
          sum(cents(col("l_discount"))).as("disc_cents"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      oracle = """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents,
        |  CAST(sum(CAST(round(l_discount*100) AS BIGINT)) AS BIGINT) AS disc_cents
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("q2_filter_pushdown", (s, d) => {
      // P9/P10/P11: typed filters + projection + ts-range, pushed to parquet
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), cents(col("l_quantity")).as("qty_cents"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      oracle = """SELECT l_orderkey, l_linenumber, CAST(round(l_quantity*100) AS BIGINT) AS qty_cents
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_quantity > 45
        |ORDER BY 1, 2""".stripMargin),
    Gate("q3_join_broadcast", (s, d) => {
      // J3/J4-style broadcast joins over the dim chain
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      val n = t(s, d, "nation"); val r = t(s, d, "region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"), sum(cents(col("o_totalprice"))).as("price_cents"))
        .orderBy("r_name", "n_name")
    },
      oracle = """SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("q4_semi_join", (s, d) => {
      // left-semi join (EXISTS)
      val c = t(s, d, "customer")
      val bigOrders = t(s, d, "orders").filter(col("o_totalprice") > 150000)
      c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },
      oracle = """SELECT c_mktsegment, count(*) AS n FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q5_anti_join", (s, d) => {
      // left-anti join (NOT EXISTS)
      val c = t(s, d, "customer")
      val urgent = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 100000)
      c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
      oracle = """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderpriority = '1-URGENT' AND o_totalprice > 100000)
        |ORDER BY 1""".stripMargin),
    Gate("q6_window_rank", (s, d) => {
      // W2 ranking window: top order per customer
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, d, "orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .orderBy("o_custkey")
    },
      oracle = """SELECT o_custkey, o_orderkey, CAST(round(o_totalprice*100) AS BIGINT) AS price_cents
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin),
    Gate("q7_topk", (s, d) => {
      // O2 top-k (TakeOrderedAndProject)
      t(s, d, "events").orderBy(desc("value"), asc("event_id")).limit(20)
        .select("event_id", "event_type", "value")
    },
      oracle = """SELECT event_id, event_type, value FROM events
        |ORDER BY value DESC, event_id LIMIT 20""".stripMargin),
    Gate("q8_tumbling_window", (s, d) => {
      // W1/A2: count-by-time bucket = ts/size*size (ms), per event type
      t(s, d, "events")
        .withColumn("bucket_ms",
          (floor(unix_millis(col("ts").cast("timestamp")) / lit(3600000L)) * 3600000L).cast("long"))
        .groupBy("bucket_ms", "event_type")
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .orderBy("bucket_ms", "event_type")
    },
      oracle = """SELECT CAST(floor(epoch_ms(ts)/3600000)*3600000 AS BIGINT) AS bucket_ms, event_type,
        |  count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("q9_count_distinct", (s, d) => {
      // A3 count-distinct
      t(s, d, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      oracle = """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q10_minmax_stats", (s, d) => {
      // A4 min/max stats collection (per-sink stats analog)
      t(s, d, "events").groupBy("event_type")
        .agg(min(unix_millis(col("ts").cast("timestamp"))).as("min_ts_ms"),
          max(unix_millis(col("ts").cast("timestamp"))).as("max_ts_ms"),
          min(cents(col("value"))).as("min_cents"),
          max(cents(col("value"))).as("max_cents"))
        .orderBy("event_type")
    },
      oracle = """SELECT event_type, min(epoch_ms(ts)) AS min_ts_ms, max(epoch_ms(ts)) AS max_ts_ms,
        |  min(CAST(round(value*100) AS BIGINT)) AS min_cents,
        |  max(CAST(round(value*100) AS BIGINT)) AS max_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q11_or_of_filters", (s, d) => {
      // J1 OR-of-subqueries in one scan
      t(s, d, "events")
        .filter(col("event_type") === "error" || col("value") > 99.0)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      oracle = """SELECT event_type, count(*) AS n FROM events
        |WHERE event_type = 'error' OR value > 99.0
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("q13_rollup", (s, d) => {
      // grouping sets (ROLLUP) — multi-granularity aggregation in one pass
      // (partial/final HashAggregate with grouping-id expansion)
      t(s, d, "events")
        .withColumn("user_bucket", (col("user_id") % 10).cast("long"))
        .rollup("event_type", "user_bucket")
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("user_bucket"), lit(-1L)).as("user_bucket"),
          col("n"), col("value_cents"))
        .orderBy("event_type", "user_bucket")
    },
      oracle = """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(user_id % 10, -1) AS user_bucket, count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY ROLLUP (event_type, user_id % 10)
        |ORDER BY 1, 2""".stripMargin),
    Gate("q14_session_window", (s, d) => {
      // gap-based sessionization (the session-window analytic): a session
      // breaks when a user's inter-event gap exceeds 30 min; one
      // shuffle-per-user window pass (lag → gap flag → running session id)
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .withColumn("prev_ms", lag(unix_millis(col("ts").cast("timestamp")), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ms").isNull ||
            unix_millis(col("ts").cast("timestamp")) - col("prev_ms") > 1800000L, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          min(unix_millis(col("ts").cast("timestamp"))).as("start_ms"),
          max(unix_millis(col("ts").cast("timestamp"))).as("end_ms"))
        .orderBy("user_id", "session_idx")
    },
      oracle = """WITH g AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ms,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  count(*) AS n_events, min(ms) AS start_ms, max(ms) AS end_ms
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("q12_json_extract", (s, d) => {
      // S4 embedded-JSON ingestion: from_json over props
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type").agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      oracle = """SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    Gate("logs_spike_detect", (s, d) => {
      // count-by-time anomaly flagging (the alerting query every log
      // pipeline runs over its ingest counters): hourly per-type counts,
      // a bucket is a spike iff cnt > mean + 3σ over its type's buckets.
      // The 3σ rule is evaluated ENTIRELY in integer arithmetic —
      //   cnt > S/n + 3·sqrt(n·SS − S²)/n
      //   ⇔ (n·cnt − S) > 0 ∧ (n·cnt − S)² > 9·(n·SS − S²)
      // — so both engines compare exact int64s (an FP sqrt at the boundary
      // would flip rows engine-to-engine). Shape: one partial-aggregating
      // count pass, per-type moments (count/sum/sum-of-squares — mergeable,
      // bucket-count-sized) broadcast back; no window over the corpus.
      // int64 bounds: 9·n·SS must fit — holds through ~10^5 buckets/type
      // at ~10^6/bucket; past that, scale the counts or go approximate.
      val buckets = t(s, d, "events")
        .groupBy(col("event_type"),
          (floor(unix_millis(col("ts").cast("timestamp")) / 3600000L) * 3600000L)
            .cast("long").as("bucket_ms"))
        .agg(count(lit(1)).as("cnt"))
      val stats = buckets.groupBy("event_type")
        .agg(count(lit(1)).as("nb"), sum("cnt").as("s1"),
          sum(col("cnt") * col("cnt")).as("s2"))
      buckets.join(broadcast(stats), "event_type")
        .withColumn("dev", col("nb") * col("cnt") - col("s1"))
        .withColumn("flag_spike",
          (col("dev") > 0 &&
            col("dev") * col("dev") > lit(9L) * (col("nb") * col("s2") - col("s1") * col("s1")))
            .cast("long"))
        .select("event_type", "bucket_ms", "cnt", "flag_spike")
        .orderBy("event_type", "bucket_ms")
    },
      oracle = """WITH b AS (
        |  SELECT event_type, CAST(floor(epoch_ms(ts)/3600000)*3600000 AS BIGINT) AS bucket_ms,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS nb, CAST(sum(cnt) AS BIGINT) AS s1,
        |         CAST(sum(cnt*cnt) AS BIGINT) AS s2 FROM b GROUP BY 1)
        |SELECT b.event_type, b.bucket_ms, b.cnt,
        |  CAST(CASE WHEN (nb*cnt - s1) > 0
        |            AND (nb*cnt - s1)*(nb*cnt - s1) > 9*(nb*s2 - s1*s1)
        |       THEN 1 ELSE 0 END AS BIGINT) AS flag_spike
        |FROM b JOIN st USING (event_type)
        |ORDER BY event_type, bucket_ms""".stripMargin),
  )
}
