package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Det._

/** Window-function shapes — SURVEY §2.B Q14-Q17: ranking, lag/lead,
  * frames, distribution.
  *
  * Every window is partitioned (never a single global partition — that
  * would serialize on one task at scale) and its ORDER BY includes a key
  * suffix so ranks are total and deterministic.
  */
object Windows {

  val q14 = GQuery(
    "q14_rank",
    (s, d) => {
      val c = Ctx(s, d)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      canonBy(
        c.orders
          .withColumn("rn", row_number().over(w))
          .withColumn("rnk", rank().over(w))
          .withColumn("drnk", dense_rank().over(w))
          .filter(col("rn") <= 3)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn", "rnk", "drnk"),
        "o_orderkey")
    },
    Some(
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC))
        |WHERE rn <= 3""".stripMargin +
        orderAll("o_orderkey")))

  val q15 = GQuery(
    "q15_lag_lead",
    (s, d) => {
      val c = Ctx(s, d)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      canonBy(
        c.events
          .withColumn("prev_value", lag(col("value"), 1).over(w))
          .withColumn("next_value", lead(col("value"), 1).over(w))
          .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
          .select(col("user_id"), col("event_id"), col("ts"),
            col("value"), col("prev_value"), col("next_value"), col("delta")),
        "event_id")
    },
    Some(
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(value, 1) OVER w AS next_value,
        |  value - lag(value, 1) OVER w AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""".stripMargin +
        orderAll("event_id")))

  // Frames: running total (UNBOUNDED PRECEDING) + 3-row moving average.
  // The moving average is emitted as exact-decimal frame sum -> double,
  // divided by the frame row count — deterministic on both engines.
  val q16 = GQuery(
    "q16_frames",
    (s, d) => {
      val c = Ctx(s, d)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mov = w.rowsBetween(-2, Window.currentRow)
      canonBy(
        c.orders
          .withColumn("cum_rev", sum(dec(col("o_totalprice"))).over(cum).cast("double"))
          .withColumn("mov_avg",
            sum(dec(col("o_totalprice"))).over(mov).cast("double") /
              count(lit(1)).over(mov))
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("o_orderdate"),
            col("cum_rev"), col("mov_avg")), "o_orderkey")
    },
    Some(
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_rev,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin +
        orderAll("o_orderkey")))

  /** RANGE frames — the value-based complement to q16's ROWS frames:
    * per-customer trailing-30-day revenue, where the frame is "all
    * orders within 29 days before this one" regardless of row count,
    * and same-day orders are peers (all included). Both engines order
    * by an integer day number and use an integer RANGE frame, so the
    * peer-set semantics are identical by construction; the frame sum
    * is exact decimal (set-based, no order sensitivity).
    */
  val q16b = GQuery(
    "q16b_range_frames",
    (s, d) => {
      val c = Ctx(s, d)
      val withDay = c.orders.withColumn("day_no",
        datediff(col("o_orderdate").cast("date"), lit("1990-01-01").cast("date")))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_no"))
        .rangeBetween(-29, 0)
      canonBy(
        withDay
          .withColumn("rev_30d", sum(dec(col("o_totalprice"))).over(w).cast("double"))
          .withColumn("n_30d", count(lit(1)).over(w))
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("o_orderdate"),
            col("rev_30d"), col("n_30d")), "o_orderkey")
    },
    Some(
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS rev_30d,
        |  COUNT(*) OVER w AS n_30d
        |FROM (SELECT *, date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS day_no
        |      FROM orders) t
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day_no RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)""".stripMargin +
        orderAll("o_orderkey")))

  /** q16c: TIME-interval trailing frame — per event, activity in the
    * user's PRECEDING HOUR (count + exact value sum): the per-row
    * sliding aggregate q30/q31's fixed grids can't express (every row
    * anchors its own window). Spark's rangeBetween only takes
    * numerics, so the frame rides epoch MICROS (exact integers —
    * q41's µs discipline), with the oracle's RANGE over epoch_us
    * identical; partitioned by user_id, never global.
    */
  val q16c = GQuery(
    "q16c_interval_range",
    (s, d) => {
      val c = Ctx(s, d)
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L)
      canonBy(
        c.events
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("n_1h", count(lit(1)).over(w))
          .withColumn("val_1h", sum(dec(col("value"))).over(w).cast("double"))
          .select(col("user_id"), col("event_id"), col("us"),
            col("n_1h"), col("val_1h")), "event_id")
    },
    Some(
      """SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS val_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin +
        orderAll("event_id")))

  // Distribution: NTILE / PERCENT_RANK / CUME_DIST, partitioned by
  // priority so no single task owns the whole table at scale.
  val q17 = GQuery(
    "q17_distribution",
    (s, d) => {
      val c = Ctx(s, d)
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      canonBy(
        c.orders
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .select("o_orderpriority", "o_orderkey", "o_totalprice",
            "quartile", "pr", "cd"), "o_orderkey")
    },
    Some(
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC)""".stripMargin +
        orderAll("o_orderkey")))

  // Window value functions: first/last/nth over an explicit full frame
  // (default frames differ between engines for last_value — both sides
  // pin ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING).
  val q17b = GQuery(
    "q17b_value_windows",
    (s, d) => {
      val c = Ctx(s, d)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      canonBy(
        c.orders
          .withColumn("first_key", first(col("o_orderkey")).over(w))
          .withColumn("last_key", last(col("o_orderkey")).over(w))
          .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(w))
          .select("o_custkey", "o_orderkey", "first_key", "last_key", "second_key"),
        "o_orderkey")
    },
    Some(
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  last_value(o_orderkey) OVER w AS last_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin +
        orderAll("o_orderkey")))

  def queries: Seq[GQuery] = Seq(q14, q15, q16, q16b, q16c, q17, q17b)
}
