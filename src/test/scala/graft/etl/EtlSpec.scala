package graft.etl

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Embedded resolution that counts its calls. An object, so the local-mode
  * tasks that deserialize it share its counters with the spec.
  */
object CountingResolver extends IpfsResolver {
  val resolved, opened, closed = new AtomicLong(0)
  def reset(): Unit = Seq(resolved, opened, closed).foreach(_.set(0))
  def resolve(ipfsRef: String, embedded: Option[String]): Option[String] = {
    resolved.incrementAndGet()
    embedded
  }
  override def open(): Unit = opened.incrementAndGet()
  override def close(): Unit = closed.incrementAndGet()
}

/** A resolver whose every call times out. */
object FailingResolver extends IpfsResolver {
  def resolve(ipfsRef: String, embedded: Option[String]): Option[String] =
    throw new java.io.IOException(s"ipfs timeout resolving $ipfsRef")
}

/** Behavioral tests for the ETL slice (SURVEY §5.2.3): confirmation lag,
  * empty short-circuit, incremental advance, at-least-once replay +
  * dedup-view exactness, REQUIRED reject channel, batch splitting, one
  * extraction per cycle, concurrent loads that settle before the cycle
  * ends, and the resources a cycle must release.
  */
class EtlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshDirs(): (Path, EtlJob.Config) = {
    val root = Files.createTempDirectory("etl")
    val chain = root.resolve("chain")
    ChainFixture.write(chain)
    (root, EtlJob.Config(
      chainDir = chain.toString,
      sinkDir = root.resolve("sink").toString,
      cursorDir = root.resolve("cursor").toString))
  }

  test("full catch-up honors confirmation lag and loads both tables") {
    val (_, cfg) = freshDirs()
    val head = ChainFixture.Epoch + ChainFixture.Span - 1
    val stats = EtlJob.runCycle(spark, cfg)
    assert(stats.ran)
    assert(stats.startBlock == ChainFixture.Epoch)
    assert(stats.endBlock == head - 4) // JOB_BLOCK_LAG
    val (expValid, expBad) = ChainFixture.expectedMarketplace(head - 4)
    assert(stats.marketplaceRows == expValid)
    assert(stats.rejectRows == expBad)
    assert(stats.dshopRows == ChainFixture.expectedDshopRows(head - 4))
    // P2: nothing beyond latest-4 in the sink
    val maxLoaded = spark.read.parquet(s"${cfg.sinkDir}/marketplace")
      .agg(max("block_number")).head.getLong(0)
    assert(maxLoaded <= head - 4)
    // cursor advanced to end_block
    assert(Cursor(cfg.cursorDir).read().contains(head - 4))
  }

  test("unchanged head yields an empty cycle (P11 short-circuit)") {
    val (_, cfg) = freshDirs()
    assert(EtlJob.runCycle(spark, cfg).ran)
    val second = EtlJob.runCycle(spark, cfg)
    assert(!second.ran)
  }

  test("head advance processes exactly the new confirmed blocks") {
    val (root, cfg) = freshDirs()
    val head0 = ChainFixture.Epoch + 1000
    ChainFixture.setHead(root.resolve("chain"), head0)
    val s1 = EtlJob.runCycle(spark, cfg)
    assert(s1.endBlock == head0 - 4)
    ChainFixture.setHead(root.resolve("chain"), head0 + 10)
    val s2 = EtlJob.runCycle(spark, cfg)
    assert(s2.ran && s2.startBlock == head0 - 3 && s2.endBlock == head0 + 6)
  }

  test("replay after lost cursor duplicates the sink; dedup view is exact") {
    val (root, cfg) = freshDirs()
    val s1 = EtlJob.runCycle(spark, cfg)
    // crash between load and cursor commit (main.py:216-220): cursor lost
    Files.delete(root.resolve("cursor").resolve("etl_cursor.json"))
    val s2 = EtlJob.runCycle(spark, cfg)
    assert(s2.marketplaceRows == s1.marketplaceRows)
    val raw = spark.read.parquet(s"${cfg.sinkDir}/marketplace")
    assert(raw.count() == 2 * s1.marketplaceRows) // at-least-once duplicates
    val deduped = EtlJob.dedupView(spark, s"${cfg.sinkDir}/marketplace",
      Schemas.marketplaceKey)
    assert(deduped.count() == s1.marketplaceRows)
    val dedupedD = EtlJob.dedupView(spark, s"${cfg.sinkDir}/dshop", Schemas.dshopKey)
    assert(dedupedD.count() == s1.dshopRows)
  }

  test("idempotent mode: replay does not duplicate (partition overwrite)") {
    val (root, cfg0) = freshDirs()
    val cfg = cfg0.copy(idempotent = true)
    val overwriteMode = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(overwriteMode, "static")
    try {
      val s1 = EtlJob.runCycle(spark, cfg)
      Files.delete(root.resolve("cursor").resolve("etl_cursor.json"))
      EtlJob.runCycle(spark, cfg)
      val raw = spark.read.parquet(s"${cfg.sinkDir}/marketplace")
      assert(raw.count() == s1.marketplaceRows)
      // the dynamic overwrite is per write; later overwrites in the
      // session keep the session's mode
      assert(spark.conf.get(overwriteMode) == "static")
    } finally spark.conf.unset(overwriteMode)
  }

  test("one cycle resolves each contract event once, closes what it opens, caches nothing after") {
    val (_, cfg0) = freshDirs()
    val cfg = cfg0.copy(resolver = CountingResolver)
    CountingResolver.reset()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val stats = EtlJob.runCycle(spark, cfg)
    val (valid, bad) = ChainFixture.expectedMarketplace(stats.endBlock)
    val events = valid + bad + ChainFixture.expectedDshopRows(stats.endBlock) / 3
    // one extraction feeds all four loads (valid + reject, per table)
    assert(CountingResolver.resolved.get == events)
    assert(CountingResolver.opened.get > 0)
    assert(CountingResolver.closed.get == CountingResolver.opened.get)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("a failing resolver fails the cycle: no persisted blocks, cursor unmoved") {
    val (_, cfg0) = freshDirs()
    val cfg = cfg0.copy(resolver = FailingResolver)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](EtlJob.runCycle(spark, cfg))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    assert(Cursor(cfg.cursorDir).read().isEmpty)
    assert(!new java.io.File(s"${cfg.sinkDir}/marketplace").exists)
  }

  test("a failed load fails the cycle after all four settle; the next cycle replays the range") {
    val (_, cfg) = freshDirs()
    // a plain file where the marketplace reject sink's directory goes
    val blocker = Paths.get(s"${cfg.sinkDir}/rejects/marketplace")
    Files.createDirectories(blocker.getParent)
    Files.write(blocker, "not a directory".getBytes("UTF-8"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](EtlJob.runCycle(spark, cfg))
    assert(Cursor(cfg.cursorDir).read().isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith("graft-etl-load-")))
    // the throw waited for the other loads: their writes committed
    for (sink <- Seq("marketplace", "dshop"))
      assert(new java.io.File(s"${cfg.sinkDir}/$sink/_SUCCESS").exists, sink)

    Files.delete(blocker)
    val head = ChainFixture.Epoch + ChainFixture.Span - 1
    val stats = EtlJob.runCycle(spark, cfg)
    assert(stats.startBlock == ChainFixture.Epoch && stats.endBlock == head - 4)
    val (expValid, expBad) = ChainFixture.expectedMarketplace(head - 4)
    assert(stats.marketplaceRows == expValid && stats.rejectRows == expBad)
    assert(Cursor(cfg.cursorDir).read().contains(head - 4))
    assert(EtlJob.dedupView(spark, s"${cfg.sinkDir}/marketplace", Schemas.marketplaceKey)
      .count() == expValid)
    assert(spark.read.parquet(blocker.toString).count() == expBad)
  }

  test("reject channel captures REQUIRED violations with full rows") {
    val (_, cfg) = freshDirs()
    EtlJob.runCycle(spark, cfg)
    val rejects = spark.read.parquet(s"${cfg.sinkDir}/rejects/marketplace")
    assert(rejects.filter(col("listing_id").isNull).count() == rejects.count())
    assert(rejects.count() > 0)
  }

  test("range scan splits into <=batchSize-block partitions (P4)") {
    val (_, cfg) = freshDirs()
    val src = new ChainSource(spark, cfg.chainDir)
    val df = src.scan(ChainFixture.Epoch, ChainFixture.Epoch + 2495, 1000)
    assert(df.rdd.getNumPartitions == 3) // ceil(2496/1000)
  }

  test("one cycle's Spark jobs are pinned") {
    val (_, cfg) = freshDirs()
    val (stats, jobs) = SparkTestSession.jobsIn(EtlJob.runCycle(spark, cfg))
    assert(stats.ran && stats.marketplaceRows > 0)
    // 12 while the scan read the JSON source and range-shuffled the rows
    assert(jobs == 10)
  }

  test("loop counts errors and leaves cursor unmoved on failure") {
    val (root, cfg) = freshDirs()
    val broken = cfg.copy(chainDir = root.resolve("nope").toString)
    val loop = new EtlLoop(spark, broken, intervalSec = 0)
    assert(loop.tick().isEmpty)
    assert(loop.stats("errors") == "1")
    assert(Cursor(cfg.cursorDir).read().isEmpty)
    // fix the config -> next tick succeeds
    val loop2 = new EtlLoop(spark, cfg, intervalSec = 0)
    assert(loop2.tick().isDefined)
    assert(loop2.stats("errors") == "0")
  }

  test("stats HTTP endpoint serves counters as JSON; 500 on handler error (P17)") {
    val (_, cfg) = freshDirs()
    val loop = new EtlLoop(spark, cfg, intervalSec = 0)
    loop.tick()
    val srv = loop.serveStats(port = 0)
    try {
      val url = java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}/").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("application/json"))
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(body.contains("\"cycles\":\"1\""))
      assert(body.contains("\"uptime_sec\""))
      assert(body.contains("\"errors\":\"0\""))
      val (_, expBad) = ChainFixture.expectedMarketplace(ChainFixture.Epoch + ChainFixture.Span - 5)
      assert(body.contains(s""""reject_rows":"$expBad""""))
      for (k <- Seq("last_extract_s", "last_load_s", "last_commit_s"))
        assert(raw""""$k":"\d+\.\d{3}"""".r.findFirstIn(body).isDefined, k)
      assert(loop.stats("last_load_s").toDouble > 0)
    } finally srv.stop()
    // reference main.py:268-274: handler errors surface as HTTP 500
    val broken = new StatsServer(() => throw new RuntimeException("boom"), port = 0).start()
    try {
      val url = java.net.URI.create(s"http://127.0.0.1:${broken.boundPort}/").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 500)
    } finally broken.stop()
  }

  test("shutdown hook stops the loop (P18)") {
    val (_, cfg) = freshDirs()
    val loop = new EtlLoop(spark, cfg, intervalSec = 3600)
    val hook = loop.installShutdownHook()
    try {
      hook.run() // simulate JVM shutdown delivering the hook
      // alive=false => run() returns without sleeping the interval
      val t0 = System.nanoTime()
      loop.run(maxCycles = 5)
      assert((System.nanoTime() - t0) / 1e9 < 5.0)
      assert(loop.stats("cycles") == "0")
    } finally Runtime.getRuntime.removeShutdownHook(hook)
  }
}
