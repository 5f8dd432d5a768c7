package graft.queries

import org.apache.spark.sql.functions._
import Det._

/** Aggregation shapes — SURVEY §2.B Q03 (hash group-agg), Q04 (exact
  * distinct), Q04x (approx distinct, tolerance-only), Q05 (rollup/cube).
  *
  * Spark executes these as partial (map-side) + final hash aggregates;
  * COUNT(DISTINCT x, y-per-group) becomes Expand + two-phase agg. All
  * measures follow the Det decimal discipline.
  */
object Aggregates {

  // TPC-H Q1 shape.
  val q03 = GQuery(
    "q03_group_agg",
    (s, d) => {
      val c = Ctx(s, d)
      val li = c.spread(c.lineitem
        .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp")))
      // charge = price * (1-disc)*(1+tax): fold the two unit factors into
      // one double product first (deterministic IEEE mul), then a single
      // decimal*decimal product — three decimal factors would overflow
      // precision 38 and hit engine-specific precision-loss rounding.
      val charged = li.withColumn(
        "charge_factor",
        ((lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).cast(D188))
      canon(
        charged
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            moneySum(col("l_quantity")).as("sum_qty"),
            moneySum(col("l_extendedprice")).as("sum_base_price"),
            d6(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))))
              .as("sum_disc"),
            d6(sum(dec(col("l_extendedprice")) * col("charge_factor")))
              .as("sum_charge"),
            meanOf(col("l_quantity")).as("avg_qty"),
            meanOf(col("l_extendedprice")).as("avg_price"),
            meanOf(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order")))
    },
    Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_disc,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1.0-l_discount)*(1.0+l_tax) AS DECIMAL(18,8))) AS DECIMAL(38,6)) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin +
        orderAll("l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
          "sum_disc", "sum_charge", "avg_qty", "avg_price", "avg_disc", "count_order")))

  val q04 = GQuery(
    "q04_count_distinct",
    (s, d) => {
      val c = Ctx(s, d)
      canon(
        c.lineitem
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("nd_part"),
            countDistinct(col("l_suppkey")).as("nd_supp"),
            count(lit(1)).as("n_rows")))
    },
    Some(
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_part,
        |  COUNT(DISTINCT l_suppkey) AS nd_supp, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin +
        orderAll("l_returnflag", "nd_part", "nd_supp", "n_rows")))

  // ⊘ approx sketch: not hash-matchable, but driver-certified by
  // xr10_hll_cert (max rel err vs exact q04 ≤ 0.15) on every gate run.
  val q04x = GQuery(
    "q04x_approx_distinct",
    (s, d) => {
      val c = Ctx(s, d)
      canon(
        c.lineitem
          .groupBy("l_returnflag")
          .agg(
            approx_count_distinct(col("l_partkey")).as("apx_part"),
            approx_count_distinct(col("l_suppkey")).as("apx_supp")))
    },
    None)

  /** Mergeable HLL sketches — q04x's estimator made INCREMENTAL: build
    * per-bucket sketches (the per-day/per-partition partial a 100 TB
    * warehouse persists), then union the binary sketches and estimate.
    * New data means sketching only the new bucket and re-unioning
    * bucket sketches — never recounting the corpus. ⊘ tolerance-tested
    * (SketchRecallSpec: merged estimate within 5% of exact; identical
    * bucketing replays bit-identically; a different bucketing agrees
    * within 2%) AND driver-certified by xr11_hllmerge_cert on every
    * gate run (tolerance + bucketing stability). Note: merged
    * estimates are NOT promised equal to a single-pass sketch's — a
    * lone sketch answers via the order-dependent HIP estimator, unions
    * via the composite estimator, and per-bucket mode transitions
    * shift union estimates ~1%; stability-within-noise is the honest
    * datasketches contract.
    */
  val q04y = GQuery(
    "q04y_hll_merge",
    (s, d) => {
      val c = Ctx(s, d)
      val partial = c.lineitem
        .withColumn("bucket", pmod(col("l_orderkey"), lit(8)))
        .groupBy("l_returnflag", "bucket")
        .agg(expr("hll_sketch_agg(l_partkey)").as("sk_part"),
          expr("hll_sketch_agg(l_suppkey)").as("sk_supp"))
      canon(partial.groupBy("l_returnflag")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk_part))").as("apx_part"),
          expr("hll_sketch_estimate(hll_union_agg(sk_supp))").as("apx_supp")))
    },
    None)

  /** Incremental partial-aggregate rollup — the materialized-rollup
    * pattern: stage 1 maintains per-(month, status) partial aggregates
    * (count / exact-decimal sum / min / max), stage 2 answers the
    * per-status report purely from partials — sums of sums, min of
    * mins, avg from merged sum÷count. At 100 TB stage 1 is the only
    * pass over the fact table and is incrementally maintainable
    * per-partition; the report re-reads only the tiny partial table.
    * Oracle: the equivalent DIRECT single-level aggregation — the
    * hash-match proves the merge is lossless.
    */
  val xi1 = GQuery(
    "xi1_incremental_agg",
    (s, d) => {
      val c = Ctx(s, d)
      val partial = c.orders
        .withColumn("mon", date_trunc("month", col("o_orderdate")).cast("date"))
        .groupBy("mon", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).as("s"),
          min(col("o_totalprice")).as("mn"),
          max(col("o_totalprice")).as("mx"))
      canon(partial.groupBy("o_orderstatus")
        .agg(sum(col("n")).as("n_orders"),
          sum(col("s")).cast("double").as("revenue"),
          (sum(col("s")).cast("double") / sum(col("n"))).as("avg_price"),
          min(col("mn")).as("min_price"),
          max(col("mx")).as("max_price")))
    },
    Some(
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin +
        orderAll("o_orderstatus", "n_orders", "revenue", "avg_price",
          "min_price", "max_price")))

  /** Incremental quantiles from a mergeable fixed-width histogram — the
    * quantile analog of xi1 (sums) and q04y (distinct counts): stage 1
    * maintains per-(month, bin) counts — the persisted partial a 100 TB
    * warehouse updates one partition at a time; stage 2 merges bins
    * across months and reads quantiles off the cumulative histogram.
    * Every count is an exact integer and the bin edges are fixed, so
    * unlike float percentile sketches the merge is provably lossless —
    * the oracle computes the DIRECT single-level histogram and must
    * hash-match bit-for-bit. Resolution (bin width 1000 over
    * o_totalprice) bounds the quantile error at one bin width.
    *
    * Scale shape: the only pass over the fact table is the stage-1
    * partial aggregation; everything after runs on the bin table
    * (~600 rows — vocabulary-sized, not data-sized), so the
    * unpartitioned cumulative window and the 5-row quantile probe join
    * are sketch-side costs, constant in corpus size.
    */
  /** Histogram bin width shared by xi2 and its streaming form. */
  private[graft] val QuantileBinWidth = 1000.0

  /** xi2 stage 2: quantiles from a merged (bin, cnt) histogram — also
    * the read side of the STREAMING histogram log
    * (streaming.StreamingOps.quantileReport), so the streamed result
    * is bit-equal to the batch query by construction.
    */
  private[graft] def quantilesFromHist(
      hist0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = hist0.sparkSession
    val W = QuantileBinWidth
    // persist: three consumers (cumulative window, total, final join)
    // would otherwise each re-run the upstream scan; the histogram is
    // ~600 rows, so this pins the sketch, not data
    val hist = own(hist0.persist())
    val cum = hist.withColumn("cum", sum(col("cnt")).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("bin"))))
    val tot = hist.agg(sum(col("cnt")).as("n_total"))
    val qs = s.range(1).select(explode(array(
      lit(0.25), lit(0.5), lit(0.75), lit(0.9), lit(0.99))).as("q"))
    val sel = qs.crossJoin(broadcast(tot))
      .join(cum, col("cum") >= ceil(col("q") * col("n_total")).cast("long"))
      .groupBy("q", "n_total").agg(min(col("bin")).as("bin"))
    canon(sel.join(cum.select("bin", "cum"), "bin")
      .select(col("q"), col("bin"), (col("bin") * W).as("lo"),
        ((col("bin") + 1) * W).as("hi"), col("cum"), col("n_total")))
  }

  val xi2 = GQuery(
    "xi2_incremental_quantiles",
    (s, d) => reap {
      val c = Ctx(s, d)
      val partial = c.orders
        .withColumn("mon", date_trunc("month", col("o_orderdate")).cast("date"))
        .withColumn("bin",
          floor(col("o_totalprice") / QuantileBinWidth).cast("long"))
        .groupBy("mon", "bin").agg(count(lit(1)).as("n"))
      quantilesFromHist(partial.groupBy("bin").agg(sum(col("n")).as("cnt")))
    },
    Some(
      """WITH h AS (SELECT CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT) AS bin, COUNT(*) AS cnt
        |           FROM orders GROUP BY 1),
        |c AS (SELECT bin, cnt, CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum FROM h),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM h),
        |q AS (SELECT CAST(x AS DOUBLE) AS q FROM (VALUES (0.25),(0.5),(0.75),(0.9),(0.99)) v(x)),
        |sel AS (SELECT q.q, t.n_total, MIN(c.bin) AS bin
        |        FROM q CROSS JOIN t JOIN c ON c.cum >= CAST(CEIL(q.q * t.n_total) AS BIGINT)
        |        GROUP BY q.q, t.n_total),
        |fin AS (SELECT s.q AS q, s.bin AS bin, s.bin * 1000.0 AS lo,
        |          (s.bin + 1) * 1000.0 AS hi, c.cum AS cum, s.n_total AS n_total
        |        FROM sel s JOIN c ON s.bin = c.bin)
        |SELECT q, bin, lo, hi, cum, n_total FROM fin""".stripMargin +
        orderAll("q", "bin", "lo", "hi", "cum", "n_total")))

  val q05 = GQuery(
    "q05_rollup",
    (s, d) => {
      val c = Ctx(s, d)
      canon(
        c.orders
          .rollup("o_orderstatus", "o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            moneySum(col("o_totalprice")).as("total_price"),
            grouping(col("o_orderstatus")).cast("int").as("g_status"),
            grouping(col("o_orderpriority")).cast("int").as("g_prio")))
    },
    Some(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin +
        orderAll("o_orderstatus", "o_orderpriority", "n_orders", "total_price",
          "g_status", "g_prio")))

  val q05b = GQuery(
    "q05b_cube",
    (s, d) => {
      val c = Ctx(s, d)
      canon(
        c.orders
          .cube("o_orderstatus", "o_orderpriority")
          .agg(
            count(lit(1)).as("n_orders"),
            grouping(col("o_orderstatus")).cast("int").as("g_status"),
            grouping(col("o_orderpriority")).cast("int").as("g_prio")))
    },
    Some(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin +
        orderAll("o_orderstatus", "o_orderpriority", "n_orders", "g_status", "g_prio")))

  // GROUPING SETS via SQL (the third §2.B Q05 form; Spark has no
  // DataFrame-API spelling for arbitrary sets).
  val q05c = GQuery(
    "q05c_grouping_sets",
    (s, d) => {
      val c = Ctx(s, d)
      c.orders.createOrReplaceTempView("orders_v")
      canon(s.sql(
        """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
          |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
          |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
          |FROM orders_v
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""
          .stripMargin))
    },
    Some(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin +
        orderAll("o_orderstatus", "o_orderpriority", "n_orders", "g_status", "g_prio")))

  // Statistical aggregates: stddev/variance/correlation/median/skewness.
  // These are inherently floating (merge-order dependent at ~1e-12
  // relative), so each output is ROUNDed at a precision where that
  // error cannot flip the rounding (stddev ~1e5 -> 2 decimals, etc).
  val q03b = GQuery(
    "q03b_stats_agg",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val c = Ctx(s, d)
      val o = c.orders.select("o_orderstatus", "o_totalprice", "o_custkey")
      // Moments ride one codegen'd two-phase HashAggregate. The exact
      // median is computed SEPARATELY as selection-by-rank (row_number
      // per status + average of the middle one/two), NOT via median():
      // Spark's Percentile aggregate is a TypedImperativeAggregate that
      // buffers EVERY group value in each task and ships the serialized
      // buffers through the exchange — the whole column crosses the
      // wire as java-serialized maps (memory-unsafe for 100 TB groups),
      // and it drags the surrounding moments into ObjectHashAggregate.
      // The rank form keeps the scan+moments in WholeStageCodegen, and
      // the per-status sort is an external (spillable) sort. The
      // 3-row median table broadcast-joins back to the 3-row moments.
      val moments = o
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          round(stddev_samp(col("o_totalprice")), 2).as("sd_price"),
          round(var_samp(col("o_totalprice")) / 1e6, 2).as("var_price_m"),
          round(corr(col("o_totalprice"), col("o_custkey").cast("double")), 4)
            .as("corr_pc"),
          // Spark's skewness is the population g1; DuckDB's is the
          // bias-corrected sample G1 = g1 * sqrt(n(n-1))/(n-2).
          round(skewness(col("o_totalprice")) *
            sqrt(count(lit(1)) * (count(lit(1)) - 1)) / (count(lit(1)) - 2), 4)
            .as("skew_price"))
      val w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice")
      val med = o
        .select(col("o_orderstatus"), col("o_totalprice"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(Window.partitionBy("o_orderstatus")).as("cnt"))
        .filter(col("rn") === floor((col("cnt") + 1) / 2) ||
          col("rn") === floor((col("cnt") + 2) / 2))
        .groupBy("o_orderstatus")
        .agg(round(avg(col("o_totalprice")), 2).as("med_price"))
      canon(moments.join(broadcast(med), Seq("o_orderstatus"))
        .select(col("o_orderstatus"), col("n"), col("sd_price"),
          col("var_price_m"), col("corr_pc"), col("med_price"),
          col("skew_price")))
    },
    Some(
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  ROUND(stddev_samp(o_totalprice), 2) AS sd_price,
        |  ROUND(var_samp(o_totalprice) / 1e6, 2) AS var_price_m,
        |  ROUND(corr(o_totalprice, CAST(o_custkey AS DOUBLE)), 4) + 0.0 AS corr_pc,
        |  ROUND(median(o_totalprice), 2) AS med_price,
        |  ROUND(skewness(o_totalprice), 4) + 0.0 AS skew_price
        |FROM orders GROUP BY o_orderstatus""".stripMargin +
        orderAll("o_orderstatus", "n", "sd_price", "var_price_m", "corr_pc",
          "med_price", "skew_price")))

  // ⊘ approx percentile sketch (quantile summaries): tolerance-tested
  // against the exact median/quartiles in SketchRecallSpec, rows-only
  // for the driver — and driver-certified by xr9_percentile_cert
  // (max rel err vs exact quantiles ≤ 0.05) on every gate run.
  val q03c = GQuery(
    "q03c_approx_percentile",
    (s, d) => {
      val c = Ctx(s, d)
      canon(
        c.orders
          .groupBy("o_orderstatus")
          .agg(
            percentile_approx(col("o_totalprice"), lit(0.5), lit(1000))
              .as("apx_median"),
            percentile_approx(col("o_totalprice"), lit(0.25), lit(1000))
              .as("apx_q1"),
            percentile_approx(col("o_totalprice"), lit(0.75), lit(1000))
              .as("apx_q3")))
    },
    None)

  /** Retraction-aware incremental aggregation — the delta algebra xi1's
    * append-only maintenance lacks: a change log carrying DELETES
    * (op = −1) as well as inserts (op = +1) maintains COUNT/SUM by
    * summing SIGNED per-batch partials, so a cancellation retracts its
    * contribution without ever recomputing the base — the standard IVM
    * move for the one aggregate class (commutative group: count, sum,
    * avg=sum/count) where deletes are algebraically invertible. min/max
    * are deliberately absent: they are NOT delete-invertible (a deleted
    * minimum forces a rescan) — the honest boundary of the technique.
    *
    * The fixture models it deterministically: every order arrives as a
    * +1 in batch o_orderkey % 5; orders with o_orderkey % 7 = 0 are
    * later cancelled (a −1 in the next batch). The oracle recomputes
    * the surviving set DIRECTLY — certifying signed-partial maintenance
    * ≡ full recompute. Scale shape: stage 1 is one partial-aggregated
    * pass over the change log (batch × status rows out); stage 2 merges
    * batch partials — at 100 TB only the current batch's partial is
    * ever recomputed, history partials are a persisted table (xi1's
    * discipline, now closed under deletes).
    */
  val xi4 = GQuery(
    "xi4_retraction_agg",
    (s, d) => {
      val c = Ctx(s, d)
      val o = c.orders.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
      val inserts = o
        .withColumn("batch", pmod(col("o_orderkey"), lit(5)))
        .withColumn("op", lit(1L))
      val deletes = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .withColumn("batch", pmod(col("o_orderkey"), lit(5)) + 1)
        .withColumn("op", lit(-1L))
      val partials = inserts.unionByName(deletes)
        .groupBy("batch", "o_orderstatus")
        .agg(sum(col("op")).as("dn"),
          sum(col("op") * dec(col("o_totalprice"))).as("ds"))
      canon(partials.groupBy("o_orderstatus")
        .agg(sum(col("dn")).as("n_live"),
          sum(col("ds")).cast("double").as("rev_live"),
          (sum(col("ds")).cast("double") / sum(col("dn"))).as("avg_live")))
    },
    Some(
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_live,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev_live,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_live
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY o_orderstatus""".stripMargin +
        orderAll("o_orderstatus", "n_live", "rev_live", "avg_live")))

  /** Salted two-phase exact COUNT(DISTINCT) — the skew remedy for the
    * one aggregation shape AQE cannot rebalance. A hot group's distinct
    * set normally lands on ONE reducer (the shuffle key is the group),
    * so a single key with 10^9 distinct values stalls the stage no
    * matter how many executors exist. Salting by hash(value) % 64
    * splits each group's DISTINCT SET across 64 sub-aggregations —
    * correct because the same value always lands in the same salt
    * bucket, so per-bucket distinct counts sum to the true distinct
    * count (a partition of the set, not a sample). Phase 2 aggregates
    * groups × 64 rows: constant in data size.
    *
    * The output is salt-invariant, so the oracle is the plain
    * COUNT(DISTINCT) — this query certifies the REWRITE is lossless,
    * which is the point: it's the pattern a planner would apply
    * automatically when stats flag a skewed distinct.
    */
  val q49 = GQuery(
    "q49_salted_distinct",
    (s, d) => {
      val c = Ctx(s, d)
      val salted = c.events
        .select(col("event_type"), col("user_id"),
          pmod(xxhash64(col("user_id")), lit(64)).as("salt"))
        .groupBy("event_type", "salt")
        .agg(count_distinct(col("user_id")).as("bucket_distinct"))
      canon(salted
        .groupBy("event_type")
        .agg(sum(col("bucket_distinct")).as("n_users")))
    },
    Some(
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin +
        orderAll("event_type", "n_users")))

  def queries: Seq[GQuery] =
    Seq(q03, q03b, q03c, q04, q04x, q04y, xi1, xi2, xi4, q05, q05b, q05c, q49)
}
