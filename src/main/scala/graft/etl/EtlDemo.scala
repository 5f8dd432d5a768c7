package graft.etl

import java.nio.file.{Files, Path, Paths}

import org.apache.commons.io.FileUtils

/** Runnable end-to-end demo of the pipeline layer, and the check for
  * BASELINE.md §2's pipeline criterion: one ~1000-block batch through
  * scan -> filter -> enrich -> flatten/explode -> enforce -> append ->
  * cursor commit in <= 15 s (one reference cycle, main.py:26,35).
  * The record's `value` is that first cycle in a cold JVM; `warm_value`
  * replays the same range into a fresh sink and cursor once the demo's
  * other work has warmed the JVM, so it moves with the cycle itself.
  *
  * Usage: runMain graft.etl.EtlDemo [workDir] (default: a temp dir it
  * deletes on exit); env: SPARK_GRAFT_CPUS, SPARK_GRAFT_CONF.
  */
object EtlDemo {
  def main(args: Array[String]): Unit = {
    val given = args.headOption.map(Paths.get(_))
    val root = given.getOrElse(Files.createTempDirectory("etl_demo"))
    // a work dir the demo made is its own to delete; a given one stays
    val ok = try run(root)
      finally if (given.isEmpty) FileUtils.deleteDirectory(root.toFile)
    if (!ok) sys.exit(1)
  }

  private def run(root: Path): Boolean = {
    // the SQL front door: the catalog names the landed tables
    val spark = graft.Graft.localSession(
      "spark.sql.catalog.graft" -> classOf[GraftCatalog].getName,
      "spark.sql.catalog.graft.warehouse" -> root.resolve("lake").toString)

    val chain = root.resolve("chain")
    ChainFixture.write(chain, headBlock = ChainFixture.Epoch + 1003) // 1000 confirmed
    val cfg = EtlJob.Config(
      chainDir = chain.toString,
      sinkDir = root.resolve("sink").toString,
      cursorDir = root.resolve("cursor").toString)

    val t0 = System.nanoTime()
    val s1 = EtlJob.runCycle(spark, cfg)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[etl-demo] cycle1: blocks [${s1.startBlock},${s1.endBlock}] " +
      f"marketplace=${s1.marketplaceRows} dshop=${s1.dshopRows} " +
      f"rejects=${s1.rejectRows} in $sec%.2f s (budget 15 s)")

    // advance the head, run an incremental cycle + an empty cycle
    ChainFixture.setHead(chain, ChainFixture.Epoch + ChainFixture.Span - 1)
    val s2 = EtlJob.runCycle(spark, cfg)
    println(s"[etl-demo] cycle2 (incremental): blocks [${s2.startBlock},${s2.endBlock}] " +
      s"marketplace=${s2.marketplaceRows} dshop=${s2.dshopRows}")
    val s3 = EtlJob.runCycle(spark, cfg)
    println(s"[etl-demo] cycle3 (no new blocks): ran=${s3.ran}")

    val dedupDf = EtlJob.dedupView(spark, s"${cfg.sinkDir}/marketplace",
      Schemas.marketplaceKey)
    val dedup = dedupDf.count()
    println(s"[etl-demo] dedup view rows=$dedup " +
      s"(raw=${spark.read.parquet(s"${cfg.sinkDir}/marketplace").count()})")
    println(s"[etl-demo] cursor=${Cursor(cfg.cursorDir).read()}")

    // The reference's end state is "tables loaded so SQL can run over
    // them" (BigQuery load + downstream queries). Same story through
    // this engine's SQL surface: publish the deduped landing table as
    // a catalog snapshot table, query it with plain SQL, and tail it
    // as a stream — all three against the SAME manifest history.
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.etl")
    dedupDf.createOrReplaceTempView("marketplace_dedup")
    spark.sql(
      "CREATE TABLE graft.etl.marketplace AS SELECT * FROM marketplace_dedup")
    val sqlRows = spark.sql(
      "SELECT count(*) AS n FROM graft.etl.marketplace").head.getLong(0)
    val topBucket = spark.sql(
      """SELECT block_bucket, count(*) AS n FROM graft.etl.marketplace
        |GROUP BY block_bucket ORDER BY n DESC, block_bucket LIMIT 1"""
        .stripMargin).head
    println(s"[etl-demo] sql over catalog table: rows=$sqlRows " +
      s"top_bucket=${topBucket.get(0)} (n=${topBucket.getLong(1)})")
    val tailQ = spark.readStream.format("graft-snapshot")
      .option("startingVersion", 0)
      .load(root.resolve("lake/etl/marketplace").toString)
      .writeStream.format("parquet")
      .option("path", root.resolve("tail_sink").toString)
      .option("checkpointLocation", root.resolve("tail_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    tailQ.awaitTermination(120000)
    val tailed = spark.read.parquet(root.resolve("tail_sink").toString).count()
    println(s"[etl-demo] snapshot stream tail rows=$tailed (== sql=$sqlRows)")

    // DSv2 streaming form of the same source: offsets in the checkpoint
    // log play the etl_cursor role (graft.etl.ChainStreamSource).
    val q = spark.readStream.format("graft.etl.ChainStreamSource")
      .option("chainDir", chain.toString)
      .option("startBlock", ChainFixture.Epoch)
      .option("blockLag", 4).option("batchSize", 1000)
      .load()
      .writeStream.format("parquet")
      .option("path", root.resolve("stream_sink").toString)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(root.resolve("stream_sink").toString)
    val streamedMax = streamed.agg(org.apache.spark.sql.functions
      .max("block_number")).head().getLong(0)
    println(s"[etl-demo] dsv2 stream: rows=${streamed.count()} maxBlock=$streamedMax " +
      s"(head=${ChainFixture.Epoch + ChainFixture.Span - 1}, lag 4 held=" +
      s"${streamedMax <= ChainFixture.Epoch + ChainFixture.Span - 5})")

    // the first cycle's range again, warm, into its own sink and cursor
    ChainFixture.setHead(chain, ChainFixture.Epoch + 1003)
    val warmCfg = cfg.copy(sinkDir = root.resolve("warm_sink").toString,
      cursorDir = root.resolve("warm_cursor").toString)
    val w0 = System.nanoTime()
    val w = EtlJob.runCycle(spark, warmCfg)
    val warmSec = (System.nanoTime() - w0) / 1e9
    println(f"[etl-demo] warm replay of cycle1: blocks [${w.startBlock},${w.endBlock}] " +
      f"in $warmSec%.2f s (extract ${w.extractS}%.2f, load ${w.loadS}%.2f, " +
      f"commit ${w.commitS}%.3f)")

    val ok = sec <= 15.0 && s1.ran && s2.ran && !s3.ran &&
      streamedMax <= ChainFixture.Epoch + ChainFixture.Span - 5 &&
      sqlRows == dedup && tailed == dedup &&
      w.endBlock == s1.endBlock && w.marketplaceRows == s1.marketplaceRows &&
      w.dshopRows == s1.dshopRows && w.rejectRows == s1.rejectRows
    println(s"[etl-demo] PASS=$ok")
    // record the pipeline-layer baseline row (BASELINE.md §2: one
    // 1,000-block cycle <= 15 s) where tools/results.py picks it up
    try Files.write(Paths.get("bench/etl_last.json"),
      (f"""{"metric":"etl_cycle_1000_blocks","value":$sec%.3f,""" +
        f""""warm_value":$warmSec%.3f,"unit":"sec","budget":15.0,"pass":$ok}""" +
        "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () } // reporting must not fail the demo
    spark.stop()
    ok
  }
}
