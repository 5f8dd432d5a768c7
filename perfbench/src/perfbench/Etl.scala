package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl._

/** Expected sink contents of the generated chain, from gen_chain.py's
  * tally: prefix sums over the blocks that carry contract events.
  */
final class Tally(path: Path) {
  private val rows = scala.io.Source.fromFile(path.toFile).getLines()
    .filter(_.nonEmpty).map(_.split(' ').map(_.toLong)).toArray
  private val blocks = rows.map(_(0))
  private val prefix = rows.scanLeft(Array.fill(5)(0L)) { (acc, r) =>
    Array.tabulate(5)(i => acc(i) + r(i + 1))
  }
  /** (marketplace valid, marketplace rejected, dshop valid, dshop rejected,
    * 2 x marketplace price sum) over blocks <= `last`.
    */
  def upTo(last: Long): Array[Long] = {
    val i = java.util.Arrays.binarySearch(blocks, last)
    prefix(if (i >= 0) i + 1 else -i - 1)
  }
  def range(from: Long, to: Long): Array[Long] = {
    val (a, b) = (upTo(from - 1), upTo(to))
    Array.tabulate(5)(i => b(i) - a(i))
  }
}

/** Cursor store that records a span around each call into the program's
  * file cursor; with tracing off it is a plain delegate.
  */
final class TracedCursor(val inner: CursorStore, tracer: Tracer) extends CursorStore {
  def read(): Option[Long] = tracer("etl.cursor_read")(inner.read())
  def write(blockNumber: Long): Unit = tracer("etl.cursor_commit")(inner.write(blockNumber))
}

/** The ETL catch-up workload: the chain tip advances 1000 blocks per
  * cycle and `EtlJob.runCycle` lands each step back to back (the
  * reference's catch-up mode without its 15 s sleep). Every fifth cycle
  * rewinds the cursor with `Cursor.write` and replays the previous
  * range. After every cycle one consumer read aggregates
  * `EtlJob.dedupView` over the marketplace sink; cycle stats and reads
  * are checked against the generator's tally.
  */
object Etl {
  val Epoch = 10014455L
  val Lag = 4L
  val Batch = 1000
  val ReplayEvery = 5
  /** Cycles per untraced run (one replay among them). */
  val Cycles = 8
  /** Untimed catch-ups of the warm-up chain before the timed one. */
  val WarmCatchUps = 2
  /** Cycles of the single-threaded baseline in a traced run. */
  val Local1Cycles = 4

  final case class Cycle(start: Long, secs: Double, readS: Double, rejects: Long, cpuS: Double)

  final case class CatchUp(cycles: Seq[Cycle], distinctBlocks: Long) {
    def cycleS: Seq[Double] = cycles.map(_.secs)
    def blocksPerS: Double = distinctBlocks / cycleS.sum
  }

  private def setHead(chain: String, head: Long): Unit =
    Files.write(java.nio.file.Paths.get(chain, "head.json"),
      s"""{"latest_block": $head}""".getBytes(StandardCharsets.UTF_8))

  private def dedupCount(spark: SparkSession, path: String, key: Seq[String]): Long =
    if (!new java.io.File(path).exists) 0L else EtlJob.dedupView(spark, path, key).count()
  private def rawCount(spark: SparkSession, path: String): Long =
    if (!new java.io.File(path).exists) 0L else spark.read.parquet(path).count()

  /** Land the chain in `chain` into a fresh sink under `root` in exactly
    * `cycles` cycles (fewer only if the chain runs out), so every run does
    * the same work whatever the host speed.
    */
  def catchUp(run: Harness.Run, tracer: Tracer, spark: SparkSession, chain: String,
      root: Path, cycles: Int, probe: Boolean, sampleLive: Boolean = false): CatchUp = {
    val tally = new Tally(java.nio.file.Paths.get(chain, "tally.tsv"))
    val chainLast = new ChainSource(spark, chain).latestBlock()
    val sink = root.resolve("sink").toString
    val store = new TracedCursor(Cursor(root.resolve("cursor").toString), tracer)
    val cfg = EtlJob.Config(chain, sink, root.resolve("cursor").toString, cursorStore = Some(store))
    val done = mutable.ArrayBuffer[Cycle]()
    val replayed = Array.fill(5)(0L)
    var landed = Epoch - 1
    var failed = 0
    def check(ok: Boolean, what: => String): Boolean = {
      if (!ok) run.fail(what)
      ok
    }
    var more = true
    while (more && done.size < cycles) {
      val replay = done.size % ReplayEvery == ReplayEvery - 1
      val head = math.min(chainLast, landed + Batch + Lag)
      if (!replay && head - Lag <= landed) more = false
      else {
        if (replay) tracer("etl.rewind")(store.inner.write(done.last.start - 1))
        else setHead(chain, head)
        if (probe) tracer("etl.head_probe")(new ChainSource(spark, chain).latestBlock())
        val c0 = System.nanoTime()
        val cpu0 = Jvm.cpuNs
        val stats = tracer("etl.cycle")(EtlJob.runCycle(spark, cfg))
        val secs = (System.nanoTime() - c0) / 1e9
        val cpuS = (Jvm.cpuNs - cpu0) / 1e9
        val want = tally.range(stats.startBlock, stats.endBlock)
        var ok = check(stats.ran && stats.startBlock == (if (replay) done.last.start else landed + 1),
          s"cycle ${done.size}: landed [${stats.startBlock}, ${stats.endBlock}] after $landed")
        ok &= check(stats.marketplaceRows == want(0) && stats.dshopRows == want(2) &&
          stats.rejectRows == want(1) + want(3),
          s"cycle ${done.size}: rows ${stats.marketplaceRows}/${stats.dshopRows}/${stats.rejectRows}" +
            s" != ${want(0)}/${want(2)}/${want(1) + want(3)}")
        if (replay) (0 until 5).foreach(i => replayed(i) += want(i))
        landed = math.max(landed, stats.endBlock)
        val r0 = System.nanoTime()
        val row = tracer("etl.read") {
          EtlJob.dedupView(spark, s"$sink/marketplace", Schemas.marketplaceKey)
            .agg(count(lit(1)), sum(col("price"))).collect().head
        }
        val readS = (System.nanoTime() - r0) / 1e9
        val have = tally.upTo(landed)
        ok &= check(row.getLong(0) == have(0) && row.getDouble(1) * 2 == have(4).toDouble,
          s"read after cycle ${done.size}: ${row.getLong(0)} rows, price ${row.getDouble(1)}" +
            s" != ${have(0)}, ${have(4) / 2.0}")
        if (sampleLive) Jvm.sampleLiveHeap()
        if (probe) layerProbe(tracer, spark, chain, stats.startBlock, stats.endBlock)
        if (!ok) failed += 1
        run.log(f"cycle ${done.size}%2d [${stats.startBlock}, ${stats.endBlock}]" +
          f"${if (replay) " replay" else ""} $secs%.3fs, read $readS%.3fs, cpu $cpuS%.3fs")
        done += Cycle(stats.startBlock, secs, readS, stats.rejectRows, cpuS)
      }
    }
    // Final state: cursor at head - lag, dedup view exact, replays kept raw.
    val have = tally.upTo(landed)
    val cursorAt = Cursor(root.resolve("cursor").toString).read()
    val finalOk = Seq(
      check(cursorAt.contains(landed) && cursorAt.exists(_ + Lag == new ChainSource(spark, chain).latestBlock()),
        s"cursor $cursorAt, landed $landed"),
      check(dedupCount(spark, s"$sink/dshop", Schemas.dshopKey) == have(2), "dshop dedup view"),
      check(dedupCount(spark, s"$sink/rejects/marketplace", Schemas.marketplaceKey) == have(1),
        "marketplace rejects dedup view"),
      check(rawCount(spark, s"$sink/marketplace") == have(0) + replayed(0), "raw marketplace sink"),
      check(rawCount(spark, s"$sink/dshop") == have(2) + replayed(2), "raw dshop sink")
    ).forall(identity)
    if (!finalOk && failed < done.size) failed += 1 // charged to the last cycle
    run.attempted += done.size
    run.failed += failed
    CatchUp(done.toSeq, landed - Epoch + 1)
  }

  /** Traced only: time the layers of one cycle's range in isolation by
    * calling them directly and forcing each output at its span boundary.
    * The marketplace/dshop projections mirror runCycle's P7/P8 parse.
    */
  private def layerProbe(tracer: Tracer, spark: SparkSession, chain: String,
      from: Long, to: Long): Unit = tracer("etl.layers") {
    val owned = mutable.ArrayBuffer[DataFrame]()
    def force(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist()
      owned += p
      (p, p.count())
    }
    val (logs, inRange) = tracer("etl.scan")(force(new ChainSource(spark, chain).scan(from, to, Batch)))
    tracer.count("etl.scan_rows", inRange)
    val (resolved, enriched) = tracer("etl.enrich")(force(Enrich(
      logs.filter(col("address") === EtlJob.MarketplaceAddr &&
        col("topic0").isin(EtlJob.MarketplaceTopic, EtlJob.DshopTopic)), EmbeddedResolver).toDF()))
    tracer.count("etl.enrich_rows", enriched)
    val marketplace = resolved.filter(col("topic0") === EtlJob.MarketplaceTopic)
      .withColumn("j", from_json(col("content"), Schemas.listingJson))
      .select(col("block_number") +: col("log_index") +:
        Schemas.listingJson.fieldNames.toIndexedSeq.map(n => col(s"j.$n")): _*)
    val dshop = resolved.filter(col("topic0") === EtlJob.DshopTopic)
      .withColumn("j", from_json(col("content"), Schemas.dshopCatalogJson))
      .select(col("block_number"), col("log_index"), col("j.listing_id").as("listing_id"),
        col("j.ipfs_path").as("ipfs_path"), explode(col("j.products")).as("p"))
      .select(col("block_number"), col("log_index"), col("listing_id"), col("p.product_id"),
        col("ipfs_path"), col("p.external_id"), col("p.parent_external_id"), col("p.title"),
        col("p.description"), col("p.price"), col("p.currency"), col("p.option1"),
        col("p.option2"), col("p.option3"), col("p.image"))
    tracer("etl.enforce") {
      Seq(SchemaEnforce(marketplace, Schemas.marketplace), SchemaEnforce(dshop, Schemas.dshop))
        .foreach { e => force(e.valid); force(e.rejects) }
    }
    owned.foreach(_.unpersist(blocking = true))
  }

  def run(run: Harness.Run, tracer: Tracer, env: mutable.Map[String, String]): Unit = {
    val args = run.args
    val chain = args.input
    val warmChain = chain + "-warm"
    // Set-up: session, head probe, cursor read, and the first cycle's
    // chain scan resolved and run once (file listing, JSON scan planning
    // and codegen), so set-up holds engine work and not only file reads.
    val (spark, setupS) = Harness.setUp(args.work, Harness.Cores, Harness.SetUps) { s =>
      val src = new ChainSource(s, chain)
      src.latestBlock()
      val from = Cursor(args.work.resolve("setup-cursor").toString).read().getOrElse(Epoch - 1) + 1
      src.scan(from, from + Batch - 1, Batch).count()
    }
    tracer.attach(spark)
    run.log(f"set-up median $setupS%.2fs")
    env("chain_blocks") = (new ChainSource(spark, chain).latestBlock() - Epoch + 1).toString
    // Warm-up (untimed but checked): two catch-ups of the short warm-up
    // chain, two cycles each, warm the JIT and codegen caches cheaply.
    (1 to WarmCatchUps).foreach { i =>
      catchUp(run, new Tracer("warm", false), spark, warmChain, args.work.resolve(s"warm$i"), 2,
        probe = false, sampleLive = i == WarmCatchUps)
    }

    run.log(f"warm-up catch-up done, JIT settled in ${Jvm.jitSettle()}%.2fs")
    val (gc0, jit0, cg0) = (Jvm.gcMs, Jvm.jitMs, Jvm.codegenCompiles)
    val r = catchUp(run, tracer, spark, chain, args.work.resolve("run4"), Cycles, probe = args.trace)
    val cycleP50 = Stats.median(r.cycleS)
    run.log(f"${r.cycles.size} cycles, ${r.distinctBlocks} blocks, ${r.cycleS.sum}%.2fs of cycles")
    run.info ++= Seq(
      "setup_s" -> setupS, "rss_peak_mb" -> Jvm.rssPeakMb,
      "heap_live_peak_mb" -> Jvm.heapLivePeakMb,
      "etl_blocks_per_s" -> r.blocksPerS, "etl_cycle_p50_s" -> cycleP50,
      "etl_read_p50_s" -> Stats.median(r.cycles.map(_.readS)),
      "etl_cycle_cpu_p50_s" -> Stats.median(r.cycles.map(_.cpuS)),
      "cycles" -> r.cycles.size.toDouble, "distinct_blocks" -> r.distinctBlocks.toDouble,
      "ops_failed_ratio" -> run.failed.toDouble / math.max(1L, run.attempted))
    if (!args.trace) {
      run.metrics ++= Seq(
        "setup_s" -> setupS, "heap_live_peak_mb" -> Jvm.heapLivePeakMb,
        "op_p50_s" -> cycleP50, "work_per_s" -> r.blocksPerS)
    } else {
      tracer.drain()
      val (gcMs, jitMs, cgS) = (Jvm.gcMs - gc0, Jvm.jitMs - jit0, Jvm.codegenCompileS(Jvm.codegenCompiles - cg0))
      layerMetrics(run, tracer, r)
      val loop = tracer.named("etl.cycle") ++ tracer.named("etl.read")
      Layers.spark(run, tracer, loop, loop.map(_.ns).sum / 1e9)
      Layers.planning(run, tracer, loop, cgS)
      Layers.jvm(run, gcMs, jitMs, Jvm.blockStoreMb(spark.sparkContext))
      run.metrics("trace.op_p50_s") = cycleP50

      // Single-threaded baseline: the same catch-up at local[1].
      spark.stop()
      val one = Harness.session(args.work, 1)
      val t1 = new Tracer(tracer.runId + "-local1", true)
      t1.attach(one)
      catchUp(run, new Tracer("warm1", false), one, warmChain, args.work.resolve("warm-local1"), 1, probe = false)
      val r1 = catchUp(run, t1, one, chain, args.work.resolve("run1"), Local1Cycles, probe = false)
      t1.drain()
      val loop1 = t1.named("etl.cycle")
      val w1 = loop1.map(t1.workUnder)
      run.metrics ++= Seq(
        "etl.local1_cycle_p50_s" -> Stats.median(r1.cycleS),
        "etl.local1_blocks_per_s" -> r1.blocksPerS,
        "etl.local1_slot_utilization" -> w1.map(_.runMs).sum / 1e3 / (loop1.map(_.ns).sum / 1e9),
        // From per-cycle medians: the local[1] run has no replay cycle.
        "etl.parallel_efficiency" -> Stats.median(r1.cycleS) / (Harness.Cores * cycleP50))
      t1.writeSpans(args.work.getParent.resolve(s"spans-${args.workload}-${args.seed}-local1.jsonl"))
    }
  }

  private def layerMetrics(run: Harness.Run, tracer: Tracer, r: CatchUp): Unit = {
    def med(xs: Seq[Double]) = Stats.median(xs)
    def selfS(name: String) = med(tracer.named(name).map(s => tracer.selfNs(s) / 1e9))
    val cycles = tracer.named("etl.cycle")
    val work = cycles.map(tracer.workUnder)
    val writes = cycles.map(c => tracer.plansUnder(Seq(c)).filter(_.isWrite))
    val reads = tracer.named("etl.read").map(s => tracer.plansUnder(Seq(s)))
    val scanRows = tracer.counts("etl.scan_rows")
    // Rows the cycle's scans read: whole-file passes (bytes read / file
    // bytes) times the file's rows.
    val file = java.nio.file.Paths.get(run.args.input, "blocks.ndjson")
    val fileBytes = Files.size(file).toDouble
    val fileRows = { val in = Files.lines(file); try in.count() finally in.close() }
    run.metrics ++= Seq(
      "etl.head_probe_s" -> selfS("etl.head_probe"),
      "etl.scan_s" -> selfS("etl.scan"),
      "etl.scan_bytes_read" -> med(work.map(_.inputBytes.toDouble)),
      "etl.scan_useful_ratio" -> med(work.zip(scanRows).map { case (w, n) =>
        n / math.max(1.0, fileRows * w.inputBytes / fileBytes) }),
      "etl.enrich_s" -> selfS("etl.enrich"),
      "etl.enrich_rows" -> med(tracer.counts("etl.enrich_rows").map(_.toDouble)),
      "etl.enforce_s" -> selfS("etl.enforce"),
      "etl.reject_rows" -> med(r.cycles.map(_.rejects.toDouble)),
      "etl.append_s" -> med(writes.map(_.map(_.durationNs).sum / 1e9)),
      "etl.append_files" -> med(writes.map(_.map(_.writeFiles).sum.toDouble)),
      "etl.append_bytes" -> med(writes.map(_.map(_.writeBytes).sum.toDouble)),
      "etl.cycle_jobs" -> med(work.map(_.jobs.toDouble)),
      "etl.cycle_tasks" -> med(work.map(_.tasks.toDouble)),
      "etl.cursor_commit_s" -> selfS("etl.cursor_commit"),
      "etl.read_s" -> selfS("etl.read"),
      "etl.read_files_scanned" -> med(reads.map(_.map(_.scanFiles).sum.toDouble)))
  }
}
