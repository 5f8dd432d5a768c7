package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Det._

/** Join shapes — SURVEY §2.B Q06-Q13: broadcast, multi-way shuffled,
  * outer, semi, anti, theta, as-of, cross.
  *
  * Scale posture: dimension tables (region/nation) are explicitly
  * `broadcast()`-hinted — at 100 TB the fact side never shuffles for
  * those joins. The big fact-fact joins (Q07/Q08) shuffle on their join
  * keys and rely on AQE for skew handling; no repartition hints needed.
  */
object Joins {

  val q06 = GQuery(
    "q06_broadcast_join",
    (s, d) => {
      val c = Ctx(s, d)
      canon(
        c.customer
          .join(broadcast(c.nation), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(c.region), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_customers")))
    },
    Some(
      """SELECT r_name, COUNT(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin + orderAll("r_name", "n_customers")))

  // TPC-H Q3 shape: multi-way join + aggregate + top-k by measure.
  val q07 = GQuery(
    "q07_join_topk",
    (s, d) => {
      val c = Ctx(s, d)
      val cust = c.customer.filter(col("c_mktsegment") === "BUILDING")
      val ord = c.orders.filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
      val li = c.lineitem.filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
      val revenue = d6(sum(
        dec(col("l_extendedprice")) * (lit(1.0) - col("l_discount")).cast(D188)))
        .as("revenue")
      canon(
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"),
            col("o_orderpriority"))
          .agg(revenue)
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10))
    },
    Some(
      """SELECT * FROM (
        |  SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0-l_discount AS DECIMAL(18,8))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-06-01'
        |    AND l_shipdate > TIMESTAMP '1998-06-01'
        |  GROUP BY 1, 2, 3
        |  ORDER BY revenue DESC, l_orderkey LIMIT 10)""".stripMargin +
        orderAll("l_orderkey", "o_orderdate", "o_orderpriority", "revenue")))

  // TPC-H Q13 shape: left outer join + two-level aggregation.
  val q08 = GQuery(
    "q08_outer_histogram",
    (s, d) => {
      val c = Ctx(s, d)
      val ord = c.orders.filter(col("o_orderpriority") =!= "1-URGENT")
      val perCust = c.customer
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
      canon(perCust.groupBy("c_count").agg(count(lit(1)).as("custdist")))
    },
    Some(
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) GROUP BY c_count""".stripMargin +
        orderAll("c_count", "custdist")))

  /** Full outer join — the one outer-join shape Q08 doesn't cover.
    * Year-over-year customer reconciliation: per-customer order count
    * and revenue for 1995 FULL OUTER JOIN the same for 1996, so
    * customers active in only one year surface with NULLs on the other
    * side (churn/acquisition analysis — both null directions are
    * guaranteed non-empty in the data). The USING-style join coalesces
    * the key identically in Spark and DuckDB. Both inputs are
    * pre-aggregated to one row per customer BEFORE the join, so the
    * full-outer shuffle moves two year-sized aggregates, not the fact
    * table.
    */
  val q08b = GQuery(
    "q08b_full_outer",
    (s, d) => {
      val c = Ctx(s, d)
      def yr(y: Int) = c.orders
        .filter(year(col("o_orderdate")) === y)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as(s"n_$y"), moneySum(col("o_totalprice")).as(s"rev_$y"))
      canonBy(yr(1995).join(yr(1996), Seq("o_custkey"), "full_outer"),
        "o_custkey")
    },
    Some(
      """WITH a AS (
        |  SELECT o_custkey, COUNT(*) AS n_1995,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev_1995
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995 GROUP BY 1),
        |b AS (
        |  SELECT o_custkey, COUNT(*) AS n_1996,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev_1996
        |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1996 GROUP BY 1)
        |SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
        |  n_1995, rev_1995, n_1996, rev_1996
        |FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey""".stripMargin +
        orderAll("o_custkey")))

  val q09 = GQuery(
    "q09_semi_join",
    (s, d) => {
      val c = Ctx(s, d)
      val disc = c.lineitem.filter(col("l_discount") > 0.05)
      canonBy(
        c.orders
          .join(disc, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .select("o_orderkey", "o_totalprice"), "o_orderkey")
    },
    Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_discount > 0.05)""".stripMargin +
        orderAll("o_orderkey")))

  // NOT EXISTS with a predicate on the inner side (every customer has
  // *some* order in this data, so the plain variant would be vacuous).
  val q10 = GQuery(
    "q10_anti_join",
    (s, d) => {
      val c = Ctx(s, d)
      val urgent = c.orders.filter(col("o_orderpriority") === "1-URGENT")
      canonBy(
        c.customer
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name"), "c_custkey")
    },
    Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin +
        orderAll("c_custkey")))

  // Theta join: equi-key on region + strict-inequality residual.
  val q11 = GQuery(
    "q11_theta_join",
    (s, d) => {
      val c = Ctx(s, d)
      val n1 = c.nation.select(
        col("n_nationkey").as("k1"), col("n_name").as("nation_a"),
        col("n_regionkey").as("rk"))
      val n2 = c.nation.select(
        col("n_nationkey").as("k2"), col("n_name").as("nation_b"),
        col("n_regionkey").as("rk2"))
      canon(
        n1.join(n2, col("rk") === col("rk2") && col("k1") < col("k2"))
          .select(col("rk").as("region_key"), col("nation_a"), col("nation_b")))
    },
    Some(
      """SELECT n1.n_regionkey AS region_key, n1.n_name AS nation_a, n2.n_name AS nation_b
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey""".stripMargin +
        orderAll("region_key", "nation_a", "nation_b")))

  /** Binned range join — the linear scale path for PURE interval
    * predicates (no equi key): for each event, count events in the
    * following 5 minutes. A theta join (q11's shape) on a time range
    * is a nested-loop at scale — n² comparisons with no equality to
    * hash or shuffle on. Binning manufactures the equality: quantize
    * time into window-width bins, a [t, t+W) interval spans at most
    * two bins, so exploding the probe side to its ≤2 bins and
    * equi-joining on the bin key shuffles O(n) rows and compares only
    * within bins (candidates per probe = bin density, not corpus
    * size). The residual exact-µs filter keeps semantics identical to
    * the naive form; a build row sits in exactly one bin, so no
    * pair is produced twice. DuckDB's native IEJoin answers the same
    * query as the oracle. Integer-µs arithmetic end to end — nothing
    * float to diverge. Oracle-matched.
    */
  val q11b = GQuery(
    "q11b_binned_range_join",
    (s, d) => reap {
      val c = Ctx(s, d)
      val W = 300000000L // 5 minutes in µs
      val e = own(c.events
        .select(col("event_id"), unix_micros(col("ts")).as("m"))
        .persist()) // probe, build, and the zero-count re-attach
      val probe = e.select(col("event_id"), col("m"),
        explode(array(expr(s"m DIV $W"), expr(s"m DIV $W") + 1)).as("bin"))
      val build = e.select(col("event_id").as("eid2"), col("m").as("m2"),
        expr(s"m DIV $W").as("bin"))
      val hits = probe.join(build, "bin")
        .filter(col("m2") >= col("m") && col("m2") < col("m") + W &&
          col("eid2") =!= col("event_id"))
        .groupBy("event_id").agg(count(lit(1)).as("n_next_5min"))
      canonBy(
        e.select("event_id").join(hits, Seq("event_id"), "left")
          .select(col("event_id"),
            coalesce(col("n_next_5min"), lit(0L)).as("n_next_5min")),
        "event_id")
    },
    Some(
      """WITH e AS (SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS m FROM events)
        |SELECT a.event_id AS event_id, COUNT(b.event_id) AS n_next_5min
        |FROM e a LEFT JOIN e b
        |  ON b.m >= a.m AND b.m < a.m + 300000000 AND b.event_id <> a.event_id
        |GROUP BY a.event_id""".stripMargin +
        orderAll("event_id")))

  /** As-of join: for each order, the latest event of that customer with
    * ts <= the order's anchor. Expressed as equi-join on user + residual
    * range filter, then latest-per-order via max_by over the lexicographic
    * (ts, event_id) order — a declarative aggregate, so Catalyst plans a
    * PARTIAL max_by before the exchange: each map task reduces its
    * (order × prior-event) matches to one row per order, and only those
    * survivors shuffle. The earlier ranked-window form shipped every
    * matched pair through the exchange and sorted it. At 100 TB with
    * long user histories the true scale shape is a bucketed merge-asof:
    * bucket both sides by user key (co-located, no exchange), sort each
    * bucket by ts, and merge per bucket — the equi-join + partial-agg
    * form here is the declarative approximation that keeps Catalyst in
    * charge of the join strategy.
    */
  val q12 = GQuery(
    "q12_asof_join",
    (s, d) => {
      val c = Ctx(s, d)
      // Order dates (1995-2001) predate the event stream (2024-01), so the
      // as-of anchor is a deterministic per-order timestamp inside the
      // stream's range: 2024-01-01 + (o_orderkey mod 43200) minutes.
      val anchored = c.orders.withColumn(
        "anchor_ts",
        expr("TIMESTAMP '2024-01-01 00:00:00' + INTERVAL '1' MINUTE * (o_orderkey % 43200)"))
      val j = anchored.join(
        c.events,
        col("user_id") === col("o_custkey") && col("ts") <= col("anchor_ts"))
      canonBy(
        j.groupBy(col("o_orderkey"), col("anchor_ts"))
          .agg(max_by(struct(col("ts"), col("value")),
            struct(col("ts"), col("event_id"))).as("m"))
          .select(col("o_orderkey"), col("anchor_ts"),
            col("m.ts").as("asof_ts"), col("m.value").as("asof_value")),
        "o_orderkey")
    },
    Some(
      """SELECT o_orderkey, anchor_ts, asof_ts, asof_value FROM (
        |  SELECT o_orderkey,
        |    TIMESTAMP '2024-01-01 00:00:00' + (o_orderkey % 43200) * INTERVAL 1 MINUTE AS anchor_ts,
        |    CAST(e.ts AS TIMESTAMP) AS asof_ts, e.value AS asof_value,
        |    row_number() OVER (PARTITION BY o_orderkey ORDER BY e.ts DESC, e.event_id DESC) AS rn
        |  FROM orders o JOIN events e
        |    ON e.user_id = o_custkey
        |    AND CAST(e.ts AS TIMESTAMP) <= TIMESTAMP '2024-01-01 00:00:00' + (o_orderkey % 43200) * INTERVAL 1 MINUTE)
        |WHERE rn = 1""".stripMargin +
        orderAll("o_orderkey")))

  val q13 = GQuery(
    "q13_cross_join",
    (s, d) => {
      val c = Ctx(s, d)
      val r1 = c.region.select(col("r_name").as("r1_name"))
      val r2 = c.region.select(col("r_name").as("r2_name"))
      canon(r1.crossJoin(r2))
    },
    Some(
      """SELECT r1.r_name AS r1_name, r2.r_name AS r2_name
        |FROM region r1 CROSS JOIN region r2""".stripMargin +
        orderAll("r1_name", "r2_name")))

  /** Bloom-pruned selective join: urgent high-value orders (≈1% of
    * orders) joined to their line items. The BloomPrune operator
    * drops ~99% of lineitem BEFORE the join shuffle — the exchange
    * moves the matching slice, not the table — and the exact join
    * afterwards removes the bloom's false positives, so the result
    * (and the oracle hash) is identical to the plain join. The dim
    * side is read twice (once to sketch, once to join): at 100 TB
    * both passes are over the small filtered slice, while the win is
    * on the fact side's exchange.
    */
  val q44 = GQuery(
    "q44_bloom_prune_join",
    (s, d) => {
      val c = Ctx(s, d)
      val urgent = c.orders
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val pruned = graft.operators.BloomPrune.prune(
        c.lineitem, urgent, "l_orderkey", "o_orderkey",
        expectedKeys = urgent.count())
      canon(
        pruned.join(urgent, col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n_items"),
            moneySum(col("l_extendedprice")).as("sum_price")))
    },
    Some(
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
        |GROUP BY l_returnflag""".stripMargin +
        orderAll("l_returnflag", "n_items", "sum_price")))

  /** xi3: incremental JOIN-view maintenance — the join member of the
    * incremental family (xi1 sums, xi2 quantiles, xd6 dedup). A
    * materialized view V = orders ⋈ lineitem maintained as monthly
    * batches arrive ON BOTH SIDES follows the delta algebra
    *
    *   ΔV_t = ΔA_t ⋈ B_{<t}  ∪  A_{<t} ⋈ ΔB_t  ∪  ΔA_t ⋈ ΔB_t
    *
    * which means each joined pair materializes EXACTLY ONCE — in the
    * batch max(t_a, t_b) where its later side arrived. This query
    * certifies that accounting cross-engine: per batch, the delta
    * rows/revenue a maintenance job would append, plus the running
    * view size — so the oracle's direct join must agree with the
    * sum of every delta. IncrementalJoinSpec runs the actual
    * batch-by-batch maintenance loop and proves each intermediate
    * state equals the prefix join.
    *
    * Scale shape: one equi-join shuffle on the join key (exactly the
    * full-recompute cost ONCE — the point is the per-batch job only
    * joins delta-sized inputs against the other side, xd6's
    * cross-side discipline); the per-batch table is months-sized, so
    * the unpartitioned cumulative window is batch-count work, not
    * data work (same posture as xi2's bin table).
    */
  val xi3 = GQuery(
    "xi3_incremental_join",
    (s, d) => {
      val c = Ctx(s, d)
      val o = c.orders.select(col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).cast("date").as("ob"))
      val l = c.lineitem.select(col("l_orderkey"),
        dec(col("l_extendedprice")).as("price"),
        date_trunc("month", col("l_shipdate")).cast("date").as("lb"))
      val perBatch = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .withColumn("batch", greatest(col("ob"), col("lb")))
        .groupBy("batch")
        .agg(count(lit(1)).as("pairs_added"), sum(col("price")).as("s"))
      val w = Window.orderBy("batch")
      canon(perBatch.select(col("batch"), col("pairs_added"),
        d6(col("s")).as("rev_added"),
        sum(col("pairs_added")).over(w).as("view_rows"),
        d6(sum(col("s")).over(w)).as("view_rev")))
    },
    Some(
      """WITH o AS (SELECT o_orderkey,
        |    CAST(date_trunc('month', o_orderdate) AS DATE) AS ob FROM orders),
        |l AS (SELECT l_orderkey, CAST(l_extendedprice AS DECIMAL(18,4)) AS price,
        |    CAST(date_trunc('month', l_shipdate) AS DATE) AS lb FROM lineitem),
        |j AS (SELECT GREATEST(ob, lb) AS batch, price
        |      FROM o JOIN l ON o_orderkey = l_orderkey),
        |pb AS (SELECT batch, COUNT(*) AS pairs_added, SUM(price) AS s
        |       FROM j GROUP BY batch)
        |SELECT batch, pairs_added,
        |  CAST(CAST(s AS DECIMAL(38,6)) AS DOUBLE) AS rev_added,
        |  CAST(SUM(pairs_added) OVER (ORDER BY batch) AS BIGINT) AS view_rows,
        |  CAST(CAST(SUM(s) OVER (ORDER BY batch) AS DECIMAL(38,6)) AS DOUBLE) AS view_rev
        |FROM pb""".stripMargin +
        orderAll("batch", "pairs_added", "rev_added", "view_rows",
          "view_rev")))

  /** Salted skew join — q49's sibling for the JOIN side: a hot join
    * key concentrates its fact rows on one reducer of a shuffled join.
    * Remedy: salt the FACT key with a deterministic sub-key
    * (hash % 16) and replicate each dim row to all 16 salts
    * (explode(sequence)), so the join key becomes (key, salt) and the
    * hot key's rows spread over 16 tasks. The replication factor costs
    * dim×16 rows — the trade is per-hot-key parallelism for a
    * dim-sized multiplier, which is why production plans salt ONLY
    * keys flagged hot by stats (AQE's skew-split does this
    * automatically for plain sort-merge joins; the manual form covers
    * what AQE can't see, e.g. a partial aggregate fused before the
    * join). Oracle is the UNSALTED join + aggregate: the rewrite must
    * be exactly lossless.
    */
  val q50 = GQuery(
    "q50_salted_join",
    (s, d) => {
      val c = Ctx(s, d)
      val fact = c.lineitem
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_linenumber"))
        .withColumn("salt",
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(16)))
      val dim = c.orders
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .withColumn("salt", explode(sequence(lit(0L), lit(15L))))
      canon(fact
        .join(dim,
          fact("l_orderkey") === dim("o_orderkey") &&
            fact("salt") === dim("salt"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          moneySum(col("l_extendedprice")).as("revenue")))
    },
    Some(
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY o_orderpriority""".stripMargin +
        orderAll("o_orderpriority", "n_items", "revenue")))

  def queries: Seq[GQuery] =
    Seq(q06, q07, q08, q08b, q09, q10, q11, q11b, q12, q13, q44, xi3, q50)
}
