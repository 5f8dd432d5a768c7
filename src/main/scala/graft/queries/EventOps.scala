package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Det._

/** Event-stream shapes — SURVEY §2.B Q29-Q32: deterministic dedup
  * (reference P14's consumer-side key, main.py:174-183) and the three
  * batch window families (tumbling / sliding / session). The streaming
  * variants of Q30-Q32 live in graft.streaming; these batch forms are
  * the hash-matched contract.
  */
object EventOps {

  // Dedup with a *deterministic* survivor (min (ts, value) per event_id)
  // — dropDuplicates keeps an arbitrary row and is not oracle-matchable.
  val q29 = GQuery(
    "q29_dedup",
    (s, d) => {
      val c = Ctx(s, d)
      val w = Window.partitionBy(col("event_id"))
        .orderBy(col("ts").asc, col("value").asc)
      canonBy(
        c.events
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("event_id", "ts", "user_id", "event_type", "value", "props"),
        "event_id")
    },
    Some(
      """SELECT event_id, ts, user_id, event_type, value, props FROM (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props,
        |    row_number() OVER (PARTITION BY event_id ORDER BY ts ASC, value ASC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin +
        orderAll("event_id")))

  // Tumbling 1-hour windows, epoch-aligned (Spark aligns window() to the
  // unix epoch; date_trunc('hour') is the same alignment).
  val q30 = GQuery(
    "q30_tumbling_window",
    (s, d) => {
      val c = Ctx(s, d)
      canon(
        c.events
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
          .select(
            col("window.start").as("window_start"),
            col("window.end").as("window_end"),
            col("event_type"), col("n_events"), col("sum_value")))
    },
    Some(
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |  date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin +
        orderAll("window_start", "window_end", "event_type", "n_events", "sum_value")))

  // Sliding windows (1 h size, 30 min slide): each event belongs to the
  // two windows starting at floor30(ts) and floor30(ts)-30min. The oracle
  // reproduces that membership with pure epoch arithmetic (no session-TZ
  // dependent to_timestamp).
  val q31 = GQuery(
    "q31_sliding_window",
    (s, d) => {
      val c = Ctx(s, d)
      canon(
        c.events
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n_events"))
          .select(
            col("window.start").as("window_start"),
            col("window.end").as("window_end"),
            col("n_events")))
    },
    Some(
      """WITH e AS (
        |  SELECT TIMESTAMP '1970-01-01 00:00:00'
        |    + CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 1800) * 1800 AS BIGINT) * INTERVAL 1 SECOND AS w0
        |  FROM events),
        |w AS (SELECT w0 AS ws FROM e UNION ALL SELECT w0 - INTERVAL 30 MINUTE FROM e)
        |SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end, COUNT(*) AS n_events
        |FROM w GROUP BY 1, 2""".stripMargin +
        orderAll("window_start", "window_end", "n_events")))

  // Session windows: 30-min inactivity gap per user. Spark merges an
  // event into the open session iff ts < last_ts + gap, and reports
  // end = last_ts + gap; the oracle's lag/cumsum reproduces both.
  val q32 = GQuery(
    "q32_session_window",
    (s, d) => {
      val c = Ctx(s, d)
      canon(
        c.events
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(
            col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events")))
    },
    Some(
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin +
        orderAll("user_id", "session_start", "session_end", "n_events")))

  /** Time-series resampling with forward fill: each user's irregular
    * event stream re-gridded to hourly points from their first to last
    * hour, carrying (a) the hour's event count and (b) the last
    * observed value carried forward across empty hours (LOCF) — the
    * classic gap-filling step before any per-entity time-series
    * modeling.
    *
    * Plan shape: ONE aggregation (per-(user, hour) count + a
    * deterministic max_by last observation — the table of observed
    * hours, ≤ one row per event), one per-user lead() window over
    * those observed hours, then the gap to each next observation is
    * sequence()'d and exploded WITH the fill value carried on the row
    * — so the forward fill falls out of the generator and the
    * 10×-bigger grid never passes through a join or a window. Every
    * stage is partitioned by user; the explode is the last narrow op
    * before the canonical sort. Oracle-matched.
    */
  val q41 = GQuery(
    "q41_resample_ffill",
    (s, d) => {
      val c = Ctx(s, d)
      val ev = c.events.select(col("user_id"), col("ts"), col("event_id"),
        dec(col("value")).as("v"))
      val hourly = ev
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n_events"),
          max_by(col("v"), struct(col("ts"), col("event_id"))).as("last_v"))
      val nxt = hourly.withColumn("h_next",
        lead(col("h"), 1).over(Window.partitionBy("user_id").orderBy("h")))
      canonBy(nxt
        .select(col("user_id"), col("h"), col("n_events"), col("last_v"),
          explode(expr(
            "sequence(h, coalesce(h_next - interval 1 hour, h), interval 1 hour)"))
            .as("grid_ts"))
        .select(col("user_id"), col("grid_ts"),
          when(col("grid_ts") === col("h"), col("n_events")).otherwise(0L)
            .as("n_events"),
          col("last_v").cast("double").as("value_ffill")),
        "user_id", "grid_ts")
    },
    Some(
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events),
        |s AS (SELECT user_id, date_trunc('hour', min(ts)) AS h0,
        |        date_trunc('hour', max(ts)) AS h1
        |      FROM e GROUP BY 1),
        |g AS (SELECT user_id, u.g AS grid_ts
        |      FROM s, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS u(g)),
        |r AS (SELECT user_id, date_trunc('hour', ts) AS grid_ts, v,
        |        ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM e),
        |cnts AS (SELECT user_id, grid_ts, COUNT(*) AS n_events FROM r GROUP BY 1, 2),
        |lastv AS (SELECT user_id, grid_ts, v FROM r WHERE rn = 1),
        |j AS (SELECT g.user_id, g.grid_ts,
        |        CAST(COALESCE(c.n_events, 0) AS BIGINT) AS n_events, l.v
        |      FROM g LEFT JOIN cnts c ON g.user_id = c.user_id AND g.grid_ts = c.grid_ts
        |      LEFT JOIN lastv l ON g.user_id = l.user_id AND g.grid_ts = l.grid_ts)
        |SELECT user_id, grid_ts, n_events,
        |  CAST(last_value(v IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY grid_ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS value_ffill
        |FROM j""".stripMargin +
        orderAll("user_id", "grid_ts")))

  /** Ordered funnel (view → click → purchase): per user, the first
    * view, the first click strictly AFTER that view, the first
    * purchase strictly after that click — event ORDER matters, which
    * is what separates a funnel from three filters. Each stage is a
    * min-aggregate over a semi-joined slice, so the plan is three
    * partial-aggregated shuffles on user_id (co-partitioned after the
    * first — at 100 TB the stage joins reuse the same hash
    * partitioning, no re-exchange). Output: per-stage user counts +
    * conversion rates, deterministic (min of distinct event times).
    */
  val xe1 = GQuery(
    "xe1_funnel",
    (s, d) => {
      val c = Ctx(s, d)
      val ev = c.events.select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("v_ts"))
      val clk = ev.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") > col("v_ts"))
        .groupBy("user_id").agg(min(col("ts")).as("c_ts"))
      val pur = ev.filter(col("event_type") === "purchase")
        .join(clk, "user_id").filter(col("ts") > col("c_ts"))
        .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
      val nv = v.agg(count(lit(1)).as("n")).select(col("n").as("n_viewed"))
      val nc = clk.agg(count(lit(1)).as("n")).select(col("n").as("n_clicked"))
      val np = pur.agg(count(lit(1)).as("n")).select(col("n").as("n_purchased"))
      canon(nv.crossJoin(nc).crossJoin(np)
        .select(col("n_viewed"), col("n_clicked"), col("n_purchased"),
          round(col("n_clicked").cast("double") / col("n_viewed"), 4)
            .as("view_to_click"),
          round(col("n_purchased").cast("double") / col("n_clicked"), 4)
            .as("click_to_purchase")))
    },
    Some(
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |v AS (SELECT user_id, MIN(ts) AS v_ts FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.ts) AS c_ts
        |      FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.ts) AS p_ts
        |      FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY 1)
        |SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
        |  (SELECT COUNT(*) FROM c) AS n_clicked,
        |  (SELECT COUNT(*) FROM p) AS n_purchased,
        |  ROUND((SELECT COUNT(*) FROM c) / CAST((SELECT COUNT(*) FROM v) AS DOUBLE), 4) AS view_to_click,
        |  ROUND((SELECT COUNT(*) FROM p) / CAST((SELECT COUNT(*) FROM c) AS DOUBLE), 4) AS click_to_purchase""".stripMargin +
        orderAll("n_viewed", "n_clicked", "n_purchased", "view_to_click",
          "click_to_purchase")))

  /** Cohort retention: users grouped by first-activity day, and for
    * each (cohort, day-offset) the count of cohort members active
    * that day — the product-analytics retention matrix. Two shuffles
    * on user_id (first-day aggregate + distinct active days), then a
    * cohort-sized aggregate; nothing is data-sized on the driver and
    * the matrix is (days × days), constant in event volume.
    */
  val xe2 = GQuery(
    "xe2_retention",
    (s, d) => {
      val c = Ctx(s, d)
      val days = c.events.select(col("user_id"),
        to_date(date_trunc("day", col("ts"))).as("day")).distinct()
      val cohort = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      canon(
        days.join(cohort, "user_id")
          .select(col("cohort_day"),
            datediff(col("day"), col("cohort_day")).cast("int").as("day_offset"))
          .groupBy("cohort_day", "day_offset")
          .agg(count(lit(1)).as("n_active")))
    },
    Some(
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
        |  FROM events),
        |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY 1)
        |SELECT cohort_day, CAST(datediff('day', cohort_day, day) AS INT) AS day_offset,
        |  COUNT(*) AS n_active
        |FROM days JOIN cohort ON days.user_id = cohort.user_id
        |GROUP BY 1, 2""".stripMargin +
        orderAll("cohort_day", "day_offset", "n_active")))

  /** Markov transition matrix over per-user event sequences: for each
    * ordered (previous event_type → event_type) step, the step count
    * and the row-normalized transition probability — the
    * behavioral-model / next-event-prediction primitive on top of the
    * same sessionized ordering q32 uses.
    *
    * Scale shape: ONE shuffle of the event stream (the per-user
    * ordering window); everything after is type×type sized — the
    * normalizing window runs over at most |event_type|² rows, so at
    * 100 TB the cost is the user_id exchange and nothing else. Ties
    * in ts break on event_id (unique), making the sequence — and so
    * the matrix — deterministic on both engines.
    */
  val xe3 = GQuery(
    "xe3_transitions",
    (s, d) => {
      val c = Ctx(s, d)
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val steps = c.events
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("src", lag(col("event_type"), 1).over(w))
        .filter(col("src").isNotNull)
        .groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("n_steps"))
      val wSrc = Window.partitionBy("src")
      canon(steps.select(col("src"), col("dst"), col("n_steps"),
        round(col("n_steps").cast("double") / sum(col("n_steps")).over(wSrc), 6)
          .as("p")))
    },
    Some(
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |s AS (SELECT event_type AS dst,
        |        LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        |      FROM e),
        |t AS (SELECT src, dst, COUNT(*) AS n_steps FROM s
        |      WHERE src IS NOT NULL GROUP BY src, dst)
        |SELECT src, dst, n_steps,
        |  ROUND(n_steps / CAST(SUM(n_steps) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
        |FROM t""".stripMargin +
        orderAll("src", "dst", "n_steps", "p")))

  /** Last-touch attribution: each purchase is credited to the user's
    * most recent PRECEDING non-purchase event — the marketing-analytics
    * primitive xe1's funnel doesn't give (a funnel counts stage
    * survivors; attribution assigns each conversion's credit). One
    * window over the user's ordered event stream computes the carry-
    * forward last non-purchase type/time (last(..., ignoreNulls) over
    * rows UNBOUNDED PRECEDING..1 PRECEDING), so purchases and their
    * attributed sources never join — the whole query is ONE shuffle on
    * user_id plus a channel-sized aggregate. Revenue sums ride the
    * exact-decimal discipline; the time-to-convert average is one
    * double divide over an exact integer µs sum.
    */
  val xe4 = GQuery(
    "xe4_attribution",
    (s, d) => {
      val c = Ctx(s, d)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val nonPurchase = col("event_type") =!= "purchase"
      val attr = c.events
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts"), col("value"))
        .withColumn("channel",
          last(when(nonPurchase, col("event_type")), ignoreNulls = true).over(w))
        .withColumn("src_ts",
          last(when(nonPurchase, col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase" && col("channel").isNotNull)
      canon(attr
        .groupBy("channel")
        .agg(
          count(lit(1)).as("n_purchases"),
          moneySum(col("value")).as("revenue"),
          // Per-row gap floored to whole seconds BEFORE the sum: the
          // summed µs gaps can exceed 2^53 and the oracle side's
          // HUGEINT→float64 hop would lose digits; second-sums stay
          // exact in both engines' doubles.
          round(sum(expr("(unix_micros(ts) - unix_micros(src_ts)) div 1000000"))
              .cast("double") / count(lit(1)), 3)
            .as("avg_latency_s")))
    },
    Some(
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events),
        |a AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS src_us,
        |    epoch_us(ts) AS ts_us
        |  FROM e)
        |SELECT channel, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  ROUND(SUM((ts_us - src_us) // 1000000) / CAST(COUNT(*) AS DOUBLE), 3) AS avg_latency_s
        |FROM a WHERE event_type = 'purchase' AND channel IS NOT NULL
        |GROUP BY channel""".stripMargin +
        orderAll("channel", "n_purchases", "revenue", "avg_latency_s")))

  /** xe5: per-user session metrics — q32 emits the sessions
    * themselves; this rolls them up to the product-analytics user
    * profile: session count, bounce (single-event) sessions, total
    * events, busiest session, and mean session duration. The
    * gap-based sessionization (30-min inactivity, q32's same rule) is
    * built from TWO windows over ONE user_id shuffle (lag flag, then
    * running sum → session id) — both windows share the partitioning,
    * so the session assignment adds no exchange. Durations are exact
    * µs integers end to end (unix_micros); the ONLY float op is the
    * final per-user mean (one IEEE divide — identical cross-engine).
    */
  val xe5 = GQuery(
    "xe5_session_stats",
    (s, d) => {
      val c = Ctx(s, d)
      val byU = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val e = c.events
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("new_s",
          when(lag(col("us"), 1).over(byU).isNull ||
            col("us") - lag(col("us"), 1).over(byU) >= 1800000000L, 1)
            .otherwise(0))
        .withColumn("sid",
          sum(col("new_s")).over(
            byU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val sess = e.groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_ev"),
          (max(col("us")) - min(col("us"))).as("dur_us"))
      canonBy(sess.groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_ev") === 1, 1).otherwise(0)).cast("long")
            .as("n_bounce"),
          sum(col("n_ev")).cast("long").as("n_events"),
          max(col("n_ev")).cast("long").as("max_session_events"),
          round(sum(col("dur_us")).cast("double") /
            (lit(1000000.0) * count(lit(1))), 4).as("avg_session_secs")),
        "user_id")
    },
    Some(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (
        |  SELECT user_id, us,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |sess AS (
        |  SELECT user_id, sid, COUNT(*) AS n_ev, MAX(us) - MIN(us) AS dur_us
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
        |  CAST(SUM(n_ev) AS BIGINT) AS n_events,
        |  CAST(MAX(n_ev) AS BIGINT) AS max_session_events,
        |  ROUND(CAST(SUM(dur_us) AS DOUBLE) / (1000000.0 * COUNT(*)), 4) AS avg_session_secs
        |FROM sess GROUP BY user_id""".stripMargin +
        orderAll("user_id")))

  /** xe6: Markov stationary rank over the event transition graph —
    * "which states does user behavior concentrate in" — xe3's matrix
    * pushed through 3 power-iteration steps (rank·P, PageRank's inner
    * loop without teleport). The cross-engine trick: everything runs
    * in FIXED-POINT BIGINT — probabilities as n·10⁶ DIV total, each
    * iteration as Σ(rank·p) DIV 10⁶ — because a float matrix-vector
    * product sums in engine/partition order and would differ in ulps.
    * Integer ops are associative, so Spark's partial aggregation and
    * DuckDB's sequential scan produce IDENTICAL quantized ranks
    * (≤1e-6 per-entry quantization error per step, documented, and
    * the oracle hash certifies the agreement). States without
    * out-edges get a self-loop so no mass silently drains. Scale
    * shape: one user_id shuffle builds the matrix (xe3); iterations
    * run on the states×states matrix — constant-bounded, corpus-size-
    * independent (the xd5/xi2 pattern: heavy once, iterate tiny).
    */
  val xe6 = GQuery(
    "xe6_markov_rank",
    (s, d) => reap {
      val c = Ctx(s, d)
      val Scale = 1000000L
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val steps = own(c.events
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("src", lag(col("event_type"), 1).over(w))
        .filter(col("src").isNotNull)
        .groupBy(col("src"), col("event_type").as("dst"))
        .agg(count(lit(1)).as("n"))
        .persist())
      val states = own(steps.select(col("src").as("state"))
        .union(steps.select(col("dst"))).distinct().persist())
      val p = steps
        .withColumn("p_fix",
          expr(s"n * $Scale DIV sum(n) over (partition by src)"))
        .select("src", "dst", "p_fix")
      // absorbing states (no out-edges) self-loop with p=1
      val selfLoops = states
        .join(steps.select(col("src")).distinct(),
          col("state") === col("src"), "left_anti")
        .select(col("state").as("src"), col("state").as("dst"),
          lit(Scale).as("p_fix"))
      val matrix = own(p.unionByName(selfLoops).persist())
      val nStates = states.count() // constant-bounded: |event types|
      if (nStates <= 256) {
        // states-gated driver iteration (xd5's broadcast-gate
        // pattern): the matrix is at most |states|² fixed-point
        // entries — bounded by the event-type domain, never the
        // corpus — while each distributed iteration pays a join+agg
        // stage's codegen and job overhead for a ~|states|-row frame
        // (the bulk of xe6's cold time). Same integer arithmetic and
        // inner-join semantics (only edges whose src carries rank
        // contribute; a dst appears iff one does), so the quantized
        // ranks are identical; past the gate the distributed loop
        // below is the shape that scales.
        import s.implicits._
        val edges = matrix.select(col("src"), col("dst"), col("p_fix"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        var rank: Map[String, Long] = states.select(col("state")).as[String]
          .collect().iterator.map(_ -> Scale / nStates).toMap
        for (_ <- 1 to 3)
          rank = edges.filter(e => rank.contains(e._1))
            .groupBy(_._2)
            .map { case (dst, es) =>
              dst -> es.iterator.map(e => rank(e._1) * e._3).sum / Scale
            }
        canon(rank.toSeq.toDF("state", "fix_rank"))
      } else {
        var rank = states.select(col("state"),
          lit(Scale / nStates).as("r"))
        for (_ <- 1 to 3)
          rank = rank.join(matrix, rank("state") === matrix("src"))
            .groupBy(col("dst").as("state_next"))
            .agg(expr(s"sum(r * p_fix) DIV $Scale").as("r"))
            .withColumnRenamed("state_next", "state")
        canon(rank.select(col("state"), col("r").as("fix_rank")))
      }
    },
    Some(
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |  FROM events),
        |s AS (SELECT event_type AS dst,
        |        LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
        |      FROM e),
        |t AS (SELECT src, dst, COUNT(*) AS n FROM s
        |      WHERE src IS NOT NULL GROUP BY src, dst),
        |st AS (SELECT src AS state FROM t UNION SELECT dst FROM t),
        |p AS (SELECT src, dst, n * 1000000 // SUM(n) OVER (PARTITION BY src) AS p_fix
        |      FROM t
        |      UNION ALL
        |      SELECT state, state, 1000000 FROM st
        |      WHERE state NOT IN (SELECT DISTINCT src FROM t)),
        |r0 AS (SELECT state, 1000000 // (SELECT COUNT(*) FROM st) AS r FROM st),
        |r1 AS (SELECT dst AS state, SUM(r * p_fix) // 1000000 AS r
        |       FROM r0 JOIN p ON r0.state = p.src GROUP BY dst),
        |r2 AS (SELECT dst AS state, SUM(r * p_fix) // 1000000 AS r
        |       FROM r1 JOIN p ON r1.state = p.src GROUP BY dst),
        |r3 AS (SELECT dst AS state, SUM(r * p_fix) // 1000000 AS r
        |       FROM r2 JOIN p ON r2.state = p.src GROUP BY dst)
        |SELECT state, CAST(r AS BIGINT) AS fix_rank FROM r3""".stripMargin +
        orderAll("state", "fix_rank")))

  /** xe7: peak concurrent sessions per hour — the capacity-planning
    * gauge ("how many users were on at once") — over xe5's session
    * intervals. The textbook answer is one global running sum over
    * +1/-1 boundary events ordered by time; a corpus-sized global
    * window is exactly what RegistryPlanSpec bans. The scale shape
    * here is the TWO-PHASE PREFIX SUM: boundaries carry their hour
    * bucket, phase 1 runs the cumulative sum WITHIN each bucket (the
    * window shares the hour partitioning — corpus-linear, parallel),
    * phase 2 computes each bucket's carry-in as a running sum over
    * per-bucket TOTALS — a window over distinct hours, bounded by the
    * time range (8.8k rows/year at ANY corpus size), whitelisted like
    * xi2's histogram window. peak(hour) = carry-in + max within-bucket
    * running sum ≡ the global running max restricted to that hour.
    * Tie order at equal microseconds is total and fixed ((us, delta
    * DESC, user_id, sid)): a session starting exactly when another
    * ends counts as concurrent (inclusive [start,end] occupancy), and
    * both engines walk ties identically.
    */
  val xe7 = GQuery(
    "xe7_peak_concurrency",
    (s, d) => {
      val c = Ctx(s, d)
      val byU = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val e = c.events
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("new_s",
          when(lag(col("us"), 1).over(byU).isNull ||
            col("us") - lag(col("us"), 1).over(byU) >= 1800000000L, 1)
            .otherwise(0))
        .withColumn("sid",
          sum(col("new_s")).over(
            byU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val sess = e.groupBy("user_id", "sid")
        .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      val bounds = sess
        .select(col("start_us").as("us"), lit(1).as("delta"),
          col("user_id"), col("sid"))
        .unionByName(sess.select(col("end_us").as("us"),
          lit(-1).as("delta"), col("user_id"), col("sid")))
        .withColumn("hr", expr("us div 3600000000"))
      val inBucket = Window.partitionBy("hr")
        .orderBy(col("us").asc, col("delta").desc, col("user_id").asc,
          col("sid").asc)
      val run = bounds.withColumn("run",
        sum(col("delta")).over(
          inBucket.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val perBucket = run.groupBy("hr")
        .agg(max(col("run")).as("max_in"),
          sum(col("delta")).as("tot"),
          sum(when(col("delta") === 1, 1L).otherwise(0L)).as("n_started"))
      val carry = Window.orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, -1)
      canonBy(perBucket
        .withColumn("carry", coalesce(sum(col("tot")).over(carry), lit(0L)))
        .select(col("hr").cast("long").as("hour_bucket"),
          (col("carry") + col("max_in")).cast("long").as("peak_concurrency"),
          col("n_started").cast("long").as("n_started")),
        "hour_bucket")
    },
    Some(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (
        |  SELECT user_id, us,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |sess AS (
        |  SELECT user_id, sid, MIN(us) AS start_us, MAX(us) AS end_us
        |  FROM s GROUP BY user_id, sid),
        |b AS (
        |  SELECT start_us AS us, 1 AS delta, user_id, sid FROM sess
        |  UNION ALL
        |  SELECT end_us AS us, -1 AS delta, user_id, sid FROM sess),
        |r AS (
        |  SELECT us // 3600000000 AS hr, delta,
        |    SUM(delta) OVER (ORDER BY us ASC, delta DESC, user_id ASC, sid ASC ROWS UNBOUNDED PRECEDING) AS run
        |  FROM b)
        |SELECT CAST(hr AS BIGINT) AS hour_bucket,
        |  CAST(MAX(run) AS BIGINT) AS peak_concurrency,
        |  CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_started
        |FROM r GROUP BY hr""".stripMargin +
        orderAll("hour_bucket")))

  /** xe8: hourly traffic anomaly detection — each hour's event count
    * z-scored against its trailing 24 hours (current hour excluded),
    * flagged at |z| > 3. The ops-monitoring gate over an event
    * pipeline (traffic collapse = upstream outage; spike = replay or
    * abuse), and the classic trailing-baseline shape expressed so the
    * result is CROSS-ENGINE EXACT despite being "statistics":
    *
    *   mean = s/n,  sd = sqrt(n·s2 − s²)/n
    *   z = (cnt − mean)/sd = (cnt·n − s) / sqrt(n·s2 − s²)
    *
    * — s, s2, n come from exact BIGINT window sums over the hourly
    * count table, so both the z numerator and the sqrt argument are
    * exact integers and the one double division + sqrt is bit-equal
    * on both engines (no float accumulation anywhere). z is NULL
    * until 12 reference hours exist and when the window is constant
    * (sd = 0).
    *
    * The hour axis is DENSIFIED first: the observed [min, max] hour
    * range explodes to a full spine (sequence + interval 1 hour) and
    * left-joins the counts, zero for missing hours. Without it a
    * total-outage hour — the headline "traffic collapse" this
    * detector exists for — produces NO row at all (it can never be
    * flagged), and the ROWS frame silently spans more than 24 clock
    * hours across gaps. The spine is hours-sized (thousands of rows
    * per year), so the densify is free at any event volume.
    *
    * Scale shape: events aggregate once to the hour table (partial
    * agg in the scan stage); the ROWS-frame window runs over the
    * dense hour spine — thousands of rows per year regardless of
    * event volume.
    */
  val xe8 = GQuery(
    "xe8_hourly_anomaly",
    (s, d) => {
      val c = Ctx(s, d)
      val observed = c.events
        .select(date_trunc("hour", col("ts")).as("hr"))
        .groupBy("hr").agg(count(lit(1)).as("cnt"))
      val spine = observed
        .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
        .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hr"))
      val hourly = spine.join(observed, Seq("hr"), "left_outer")
        .na.fill(0L, Seq("cnt"))
      val w = Window.orderBy("hr").rowsBetween(-24, -1)
      val stats = hourly
        .withColumn("n", count(col("cnt")).over(w))
        .withColumn("s", sum(col("cnt")).over(w))
        .withColumn("s2", sum(col("cnt") * col("cnt")).over(w))
        .withColumn("num", col("n") * col("s2") - col("s") * col("s"))
      val z = when(col("n") >= 12 && col("num") > 0,
        round((col("cnt") * col("n") - col("s")).cast("double") /
          sqrt(col("num").cast("double")), 4))
      canon(stats.select(col("hr"), col("cnt"), col("n").as("n_ref"),
        when(col("n") >= 12,
          round(col("s").cast("double") / col("n"), 4)).as("ref_mean"),
        z.as("z"),
        when(z.isNotNull, abs(z) > lit(3.0)).as("is_anomaly")))
    },
    Some(
      """WITH ob AS (
        |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, COUNT(*) AS cnt
        |  FROM events GROUP BY 1),
        |sp AS (
        |  SELECT unnest(generate_series((SELECT MIN(hr) FROM ob),
        |                                (SELECT MAX(hr) FROM ob),
        |                                INTERVAL '1 hour')) AS hr),
        |h AS (
        |  SELECT sp.hr, COALESCE(ob.cnt, 0) AS cnt
        |  FROM sp LEFT JOIN ob ON sp.hr = ob.hr),
        |st AS (
        |  SELECT hr, cnt,
        |    COUNT(cnt) OVER tw AS n,
        |    SUM(cnt) OVER tw AS s,
        |    SUM(cnt * cnt) OVER tw AS s2
        |  FROM h WINDOW tw AS (ORDER BY hr ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        |f AS (
        |  SELECT hr, cnt, n, s, n * s2 - s * s AS num FROM st),
        |r AS (
        |  SELECT hr, cnt, CAST(n AS BIGINT) AS n_ref,
        |    CASE WHEN n >= 12 THEN ROUND(CAST(s AS DOUBLE) / n, 4) END AS ref_mean,
        |    CASE WHEN n >= 12 AND num > 0 THEN
        |      ROUND(CAST(cnt * n - s AS DOUBLE) / sqrt(CAST(num AS DOUBLE)), 4)
        |    END AS z
        |  FROM f)
        |SELECT hr, cnt, n_ref, ref_mean, z,
        |  CASE WHEN z IS NOT NULL THEN abs(z) > 3.0 END AS is_anomaly
        |FROM r""".stripMargin +
        orderAll("hr", "cnt", "n_ref", "ref_mean", "z", "is_anomaly")))

  def queries: Seq[GQuery] =
    Seq(q29, q30, q31, q32, q41, xe1, xe2, xe3, xe4, xe5, xe6, xe7, xe8)
}
