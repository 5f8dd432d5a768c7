package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared query from SURVEY.md §2.B.
  *
  * @param name    stable id, becomes the SparkEntry.queries key
  * @param fn      (spark, sfDir) => result DataFrame (canonically ordered)
  * @param oracle  equivalent DuckDB SQL over the same parquet tables;
  *                None => driver records a weaker rows-only check
  */
final case class GQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Per-invocation context: table accessors over the given sf directory. */
final case class Ctx(spark: SparkSession, dir: String) {
  /** Read a fixture table through a per-session ANALYZED-RELATION
    * cache (a hidden temp view): without it every query run pays
    * parquet footer inference + file listing again (ProfilePhases
    * measured 100-500ms of per-run frame-build time on the
    * multi-table SQL queries — a third of a floor query's warm
    * budget, pure driver-side metadata). The view stores the FIRST
    * read's analyzed plan, so later uses are a catalog lookup that
    * reuses the same resolved relation and FileIndex — the scan plan
    * is bit-identical to a fresh `spark.read.parquet` (supplying a
    * cached SCHEMA instead measurably changed execution: qx3 1.0s →
    * 3.1s, xv6 2.0s → 3.6s — user-specified-schema reads take a
    * different reader path, so that approach was reverted). The
    * fixture contract everywhere in this registry is that the corpus
    * at `dir` is immutable within a session.
    */
  def table(n: String): DataFrame = {
    val p = s"$dir/$n.parquet"
    val view = "graft_fixture_" + n + "_" +
      java.lang.Integer.toHexString(p.hashCode)
    if (!spark.catalog.tableExists(view))
      spark.read.parquet(p).createOrReplaceTempView(view) // race benign
    spark.table(view)
  }
  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")

  /** events.ts has shipped as TIMESTAMP(NANOS) in some fixture
    * generations (which Spark 4 reads only as raw int64 via the legacy
    * nanosAsLong conf) and TIMESTAMP(MICROS) in others. Branch on the
    * inferred type: int64 → rebuild a µs-truncated timestamp with
    * exact integer division (ns-since-epoch ~1.7e18 overflows double
    * precision, so a `/ 1000` double divide would corrupt it); native
    * timestamp → one cast to session-TZ TimestampType so downstream
    * window/lag logic sees the same type either way. DuckDB oracles
    * apply the matching normalization: CAST(ts AS TIMESTAMP).
    */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table("events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn(
        "ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  /** documents/embeddings feed heavy per-row projections (tokenize
    * HOFs, shingles, vec_dot). The sf fixtures are single-row-group
    * parquet files, so Spark reads each as ONE split and that work
    * would run single-threaded — the opposite of the scan parallelism
    * a real cluster gives (at 100 TB these scans are thousands of
    * splits and this repartition is a no-op-sized narrow shuffle).
    * Spread rows across cores right after the scan.
    */
  def documents: DataFrame =
    table("documents").repartition(spark.sparkContext.defaultParallelism)

  /** embeddings' spread is SIZE-DERIVED (ceil(bytes/1 MB) clamped to
    * [8, defaultParallelism]) instead of the flat core count: its
    * consumers' map stages are bounded per-row vector arithmetic
    * (≤ dim-element dots — the quadratic pair spaces fan out AFTER
    * exchanges that AQE sizes separately), so a ~1 MB corpus split
    * 32 ways pays 32 tasks of scheduling per stage for microseconds
    * of work each — measured 0.65 s → 0.35 s per k-means pass and
    * 0.31 s → 0.20 s per checkpoint+sort chain at sf0.1. The floor
    * keeps worst-case pair work (xd4's all-pairs BNLJ streams these
    * partitions) multi-core; at production sizes the clamp returns
    * defaultParallelism and this is the same no-op-sized narrow
    * shuffle as before (scale-adaptive per the optimization guide §2
    * — derive from input size, not a constant tuned for one mode).
    * documents keeps the flat spread: its consumers run the token
    * kernels (term_counts, BPE, edit-distance DP) whose per-row cost
    * is the declared hot path — byte-derived counts would serialize
    * CPU-bound stages.
    */
  def embeddings: DataFrame = {
    val p = new java.io.File(s"$dir/embeddings.parquet")
    val bytes =
      if (p.isDirectory)
        Option(p.listFiles()).getOrElse(Array.empty).map(_.length).sum
      else p.length
    val target = math.max(8L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (bytes + (1 << 20) - 1) >> 20)).toInt
    table("embeddings").repartition(target)
  }

  /** Same single-row-group remedy for a fact-table query whose SCAN
    * STAGE work (fused partial aggregation, unpivot fan-out, sort-based
    * median) dominates: spread rows across cores right after the scan.
    * Deliberately per-query, not blanket — for wide-row projections and
    * window queries the extra exchange costs more than the stage
    * parallelism buys (measured: q03 1.22->0.86 s, q37 1.90->1.16 s,
    * but q24 0.81->1.20 s, q14 0.59->0.78 s). At 100 TB the scan is
    * thousands of splits and this is a no-op-sized narrow shuffle.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)
}

/** Determinism discipline (SURVEY §2.B rules + §7 hard parts).
  *
  * Cross-engine hash-matching against DuckDB forces:
  *  - exact DECIMAL arithmetic for every aggregated measure (double sums
  *    are order-dependent; Spark's partial aggregation order differs from
  *    DuckDB's sequential scan), cast to DOUBLE only at the very end —
  *    the decimal->double cast is a single deterministic rounding;
  *  - at most TWO decimal factors per product (a third overflows 38
  *    precision and triggers engine-specific precision-loss rounding);
  *  - canonical ORDER BY over all output columns, NULLS FIRST (DuckDB's
  *    default is NULLS LAST — oracle SQL must spell it out).
  */
object Det {
  val D184: DecimalType = DecimalType(18, 4)
  val D188: DecimalType = DecimalType(18, 8)

  /** Measure cast at scan time: raw double -> DECIMAL(18,4). */
  def dec(c: Column): Column = c.cast(D184)

  /** Exact sum of a money/measure column, emitted as DOUBLE. */
  def moneySum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Deterministic mean: exact decimal sum -> double, one IEEE divide. */
  def meanOf(c: Column): Column = sum(dec(c)).cast(DoubleType) / count(c)

  /** Emit a high-scale decimal aggregate as DOUBLE, deterministically.
    *
    * DuckDB casts DECIMAL->DOUBLE as double(scaled_int128) / double(10^s)
    * — two roundings — while Spark (BigDecimal.doubleValue) rounds once.
    * They disagree by 1 ulp as soon as the scaled integer exceeds 2^53
    * (observed on q03's scale-12 charge sum). Re-quantizing to scale 6
    * first keeps the scaled integer exact in double for |x| < 9e9, making
    * both engines' casts a single identical rounding.
    * Oracle side: CAST(CAST(expr AS DECIMAL(38,6)) AS DOUBLE).
    */
  def d6(c: Column): Column = c.cast(DecimalType(38, 6)).cast(DoubleType)

  /** Codegen-friendly 4-decimal rounding: floor(x*1e4 + 0.5)/1e4.
    * Spark's round() routes every double through BigDecimal.valueOf
    * (a Double.toString parse per row) — measured +2.3 s over a 4M-row
    * similarity join. This form stays in whole-stage codegen and equals
    * BigDecimal HALF_UP for every value not within ~1e-12 of a 0.00005
    * boundary (cosine scores from 64-dim double dots sit >=1e-11 away;
    * the oracle hash-compare is the guard if that ever breaks). Use on
    * per-pair hot paths; post-aggregation rounding can stay round().
    */
  def round4(c: Column): Column = floor(c * 1e4 + 0.5) / 1e4

  /** Materialize a frame before its canonical output sort. A global
    * orderBy range-partitions via a SAMPLE pass over its child, so an
    * unmaterialized child — typically the query's whole join/agg
    * pipeline — executes TWICE: once for the range sampler, once for
    * the real sort. Checkpointing first makes both passes read the
    * same narrow materialized blocks (measured: xd2b's reap tail fell
    * from 1.2-1.7s to the actual sort cost of a 271k-row frame).
    *
    * ONLY inside a reap{} scope: reap's bin is what unpersists the
    * checkpoint once the final result materializes. Outside reap the
    * blocks would linger until the ContextCleaner's GC-driven reap —
    * measured as 2 GB of block residue + a 317s GC tail across a
    * full sweep when this ran unconditionally — and the non-reap
    * queries are the cheap scan/agg shapes where the sample pass
    * re-execution is noise anyway. Streaming frames can't checkpoint.
    */
  /** GRAFT_EXPLAIN_LAZY=1: skip every materialization (preSort's and
    * reap's localCheckpoints) so `df.explain` on a registry query
    * shows the FULL physical plan instead of a checkpoint scan — the
    * plans/rNN artifacts are captured this way (graft.Explain). Debug
    * only: results are identical but intermediates re-execute, and
    * owned caches are unpersisted before the caller's action, so
    * never set it for a timed or verified run.
    */
  private val lazyExplain = sys.env.get("GRAFT_EXPLAIN_LAZY").contains("1")

  /** Checkpoint storage note (measured, round 16): storing these
    * checkpoints SERIALIZED (MEMORY_AND_DISK_SER) halves the block
    * residue (xd10 1465 → 804 MB) but DOUBLES the query (8.2 → 16.0 s
    * warm median): RDD-level serialized storage routes UnsafeRows
    * through the default JavaSerializer, whose per-row cost dwarfs the
    * GC it saves. Deserialized stays.
    */
  private def preSort(df: DataFrame): DataFrame =
    if (df.isStreaming || lazyExplain || binStack.get().isEmpty) df
    else own(df.localCheckpoint(eager = true))

  /** Canonical output order: every column, ascending, nulls first. */
  def canon(df: DataFrame): DataFrame = {
    val m = preSort(df)
    m.orderBy(m.columns.toIndexedSeq.map(n => col(n).asc_nulls_first): _*)
  }

  /** Canonical order by a UNIQUE key prefix only — same determinism,
    * fraction of the sort cost for wide per-row outputs (the sort keys
    * are a couple of longs instead of every column). The caller
    * guarantees the keys are unique and non-null; the oracle must
    * ORDER BY the same keys (orderAll with the same list).
    */
  def canonBy(df: DataFrame, keys: String*): DataFrame =
    preSort(df).orderBy(keys.toIndexedSeq.map(n => col(n).asc_nulls_first): _*)

  /** Oracle-side canonical ORDER BY for the given output columns. */
  def orderAll(cols: String*): String =
    cols.map(c => s"$c ASC NULLS FIRST").mkString(" ORDER BY ", ", ", "")

  /** Cache scoping for query bodies: `own` registers a just-persisted
    * frame with the innermost enclosing `reap`, and `reap` builds its
    * body, eagerly localCheckpoints the result so downstream consumers
    * read materialized rows, then unpersists everything owned during
    * the build — a query's internal caches never outlive the call.
    * Returning a lazy plan over persisted intermediates would force
    * the CALLER to know what to unpersist; a long-lived session
    * embedding these query fns would otherwise accumulate cached
    * blocks without bound (round-6 verdict, "What's wrong #1").
    *
    * The tracking is dynamic-extent and thread-local: helpers that
    * persist internally (setGroups, ivfRanked, quantilesFromHist, ...)
    * call own() on their caches and remain agnostic about lifetime —
    * inside a reap they are scoped to it, outside one (direct helper
    * use in specs, long-lived streaming indexes) they behave exactly
    * as a bare persist(). reap nests: an inner reap only drains frames
    * owned within it. Plan construction and materialization run on the
    * caller's thread, which is what makes the ThreadLocal sound.
    *
    * The checkpoint is an executor-local materialization of the final
    * result (MEMORY_AND_DISK), not a reliable HDFS checkpoint —
    * exactly the scope a query result needs; the blocks are reclaimed
    * by the ContextCleaner once the result frame is unreachable.
    */
  private val binStack =
    new ThreadLocal[List[scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Dataset[_]]]] {
      override def initialValue: List[scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Dataset[_]]] = Nil
    }

  def own[T <: org.apache.spark.sql.Dataset[_]](ds: T): T = {
    binStack.get().headOption.foreach(_ += ds)
    ds
  }

  def reap(build: => DataFrame): DataFrame = {
    val bin = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Dataset[_]]()
    binStack.set(bin :: binStack.get())
    try { val r = build; if (lazyExplain) r else r.localCheckpoint(eager = true) }
    finally {
      binStack.set(binStack.get().tail)
      bin.foreach(_.unpersist(blocking = false))
    }
  }
}

/** Scale-dependent plan choices shared across queries. */
object Scale {

  /** Broadcast-hint `df` only when its optimizer size estimate fits the
    * session's broadcast threshold; otherwise return it unhinted so the
    * planner falls back to a shuffled join on the join keys. An
    * unconditional broadcast() hint OVERRIDES the threshold — at 100 TB
    * that is a driver/executor OOM, not a slow plan. The gate reads the
    * same statistics AQE uses, so the choice tracks the actual input.
    */
  def maybeBroadcast(df: DataFrame): DataFrame = {
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (thr > 0 && est <= thr) broadcast(df) else df
  }
}
