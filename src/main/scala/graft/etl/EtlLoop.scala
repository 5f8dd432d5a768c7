package graft.etl

import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

/** The periodic driver loop — reference P15-P18 (main.py:99-115,249-254):
  * run a cycle every intervalSec, interruptible at 1-second granularity,
  * counters + last-error surfaced for ops, graceful stop flag.
  *
  * In production this is equivalently a Structured Streaming query with
  * Trigger.ProcessingTime("15 seconds") over a DSv2 chain source; the
  * driver loop keeps exact behavioral parity with the reference
  * (cursor-unmoved-on-error, error counting) and is unit-testable
  * without a streaming harness.
  */
final class EtlLoop(spark: SparkSession, cfg: EtlJob.Config, intervalSec: Int = 15) {

  private val alive = new AtomicBoolean(true)
  val cycles = new AtomicLong(0)
  val marketplaceRows = new AtomicLong(0)
  val dshopRows = new AtomicLong(0)
  val rejectRows = new AtomicLong(0)
  /** Stats of the last cycle that landed a range (None until one has). */
  private val lastLanded = new AtomicReference[Option[EtlJob.CycleStats]](None)
  val errors = new AtomicLong(0)
  val lastError = new AtomicReference[String]("")

  def stop(): Unit = alive.set(false)

  /** P18: graceful shutdown on SIGTERM/SIGINT (main.py:99-101,249-254
    * installs signal handlers setting alive=False; the JVM analog is a
    * shutdown hook — both signals terminate the JVM through this path).
    * Returns the hook thread so callers/tests can deregister it.
    */
  def installShutdownHook(): Thread = {
    val t = new Thread(() => stop(), "graft-etl-shutdown")
    Runtime.getRuntime.addShutdownHook(t)
    t
  }

  /** P17: serve [[stats]] over HTTP (reference Flask GET /). */
  def serveStats(port: Int = 8080): StatsServer =
    new StatsServer(() => stats, port).start()

  /** One guarded cycle: errors are counted and swallowed, the cursor is
    * left unmoved (main.py:216-220). */
  def tick(): Option[EtlJob.CycleStats] =
    try {
      val s = EtlJob.runCycle(spark, cfg)
      cycles.incrementAndGet()
      marketplaceRows.addAndGet(s.marketplaceRows)
      dshopRows.addAndGet(s.dshopRows)
      rejectRows.addAndGet(s.rejectRows)
      if (s.ran) lastLanded.set(Some(s))
      Some(s)
    } catch {
      case e: Exception =>
        errors.incrementAndGet()
        lastError.set(String.valueOf(e.getMessage))
        None
    }

  /** Periodic lake maintenance: compact the sink tables' small-file
    * backlog (builder extension — the 15 s append trigger writes one
    * file set per cycle per partition; see Compact). Runs in the
    * loop's own single-writer window (P19), between cycles.
    */
  def maintain(maxFiles: Int = 16): Seq[Compact.PartitionStat] =
    Seq(s"${cfg.sinkDir}/marketplace", s"${cfg.sinkDir}/dshop").flatMap { p =>
      val (fs, dir) = LakeFs.resolve(p)
      if (fs.exists(dir) && fs.getFileStatus(dir).isDirectory)
        Compact.compact(spark, p, "block_bucket", maxFiles = maxFiles)
      else Nil
    }

  def run(maxCycles: Long = Long.MaxValue, compactEvery: Long = 0L): Unit = {
    var n = 0L
    while (alive.get() && n < maxCycles) {
      tick()
      n += 1
      if (compactEvery > 0 && n % compactEvery == 0) maintain()
      wait1sGranularity(intervalSec)
    }
  }

  /** main.py:104-108: interruptible sleep. */
  private def wait1sGranularity(numSec: Int): Unit = {
    var i = 0
    while (i < numSec && alive.get()) { Thread.sleep(1000); i += 1 }
  }

  /** P16/P17: the stats surface (the Flask GET / analog, main.py:256-266),
    * plus the stage timings of the last landed cycle in seconds. */
  def stats: Map[String, String] = {
    val last = lastLanded.get()
    def secs(f: EtlJob.CycleStats => Double) = last.fold("")(s => f"${f(s)}%.3f")
    Map(
      "cycles" -> cycles.get().toString,
      "marketplace_rows" -> marketplaceRows.get().toString,
      "dshop_rows" -> dshopRows.get().toString,
      "reject_rows" -> rejectRows.get().toString,
      "errors" -> errors.get().toString,
      "last_error" -> lastError.get(),
      "last_extract_s" -> secs(_.extractS),
      "last_load_s" -> secs(_.loadS),
      "last_commit_s" -> secs(_.commitS))
  }
}
