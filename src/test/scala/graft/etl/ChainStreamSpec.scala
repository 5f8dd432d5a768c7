package graft.etl

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** DSv2 chain micro-batch source: confirmation lag, batch splitting,
  * checkpointed restart-resume (the streaming form of the etl_cursor),
  * rows equal to the JSON-source oracle (`ChainOracle`).
  */
class ChainStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def read(chainDir: String) =
    spark.readStream.format("graft.etl.ChainStreamSource")
      .option("chainDir", chainDir)
      .option("startBlock", ChainFixture.Epoch)
      .option("blockLag", 4)
      .option("batchSize", 1000)
      .load()

  test("streams the fixture with confirmation lag; resumes from checkpoint") {
    val root = Files.createTempDirectory("chainstream")
    val chain = root.resolve("chain")
    val head0 = ChainFixture.Epoch + 1200
    ChainFixture.write(chain, headBlock = head0)
    val ckpt = root.resolve("ckpt").toString
    val sink = root.resolve("sink").toString

    def runOnce(): Unit = {
      val q = read(chain.toString).writeStream
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    val got = spark.read.parquet(sink)
    val maxB = got.agg(max("block_number")).head.getLong(0)
    assert(maxB <= head0 - 4, "confirmation lag must hold")
    val n1 = got.count()

    // advance the head; a NEW query instance resumes from the checkpoint
    ChainFixture.setHead(chain, head0 + 500)
    runOnce()
    val got2 = spark.read.parquet(sink)
    assert(got2.agg(max("block_number")).head.getLong(0) <= head0 + 496)
    // no duplicates: every (block, log_index) appears once
    assert(got2.count() == got2.select("block_number", "log_index").distinct().count())
    assert(got2.count() > n1, "new confirmed blocks must be ingested")
  }

  test("micro-batch planned as <=1000-block input partitions") {
    val ranges = new ChainMicroBatchStream("/tmp/nope", 0L, 4L, 1000L)
      .planInputPartitions(BlockOffset(-1L), BlockOffset(2495L))
      .map(_.asInstanceOf[BlockRangePartition])
    assert(ranges.length == 3)
    assert(ranges.forall(r => r.to - r.from < 1000))
    assert(ranges.head.from == 0 && ranges.last.to == 2495)
  }

  test("streamed rows equal the batch ChainSource scan") {
    val root = Files.createTempDirectory("chainstream2")
    val chain = root.resolve("chain")
    ChainFixture.write(chain)
    val head = ChainFixture.Epoch + ChainFixture.Span - 1
    val q = read(chain.toString).writeStream
      .format("parquet").option("path", root.resolve("s2").toString)
      .option("checkpointLocation", root.resolve("c2").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(root.resolve("s2").toString)
    // the batch scan reads through the same reader, so both compare to
    // the JSON-source oracle
    val oracle = ChainOracle(spark, chain.toString, ChainFixture.Epoch, head - 4)
    val batch = new ChainSource(spark, chain.toString).scan(ChainFixture.Epoch, head - 4)
    assert(streamed.count() == oracle.count())
    assert(streamed.exceptAll(oracle).isEmpty && oracle.exceptAll(streamed).isEmpty)
    assert(batch.exceptAll(oracle).isEmpty && oracle.exceptAll(batch).isEmpty)
  }

  test("batch and streaming readers agree on escaped payloads (newline, backslash, quote)") {
    val root = Files.createTempDirectory("chainesc")
    val chain = root.resolve("chain")
    Files.createDirectories(chain)
    // raw payload exercising every escape the fixture's jesc emits,
    // including the \\n trap (literal backslash + 'n', NOT a newline)
    val raw = "line1\nline2 \"quoted\" back\\slash literal:\\n end"
    def jesc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    }
    val b = ChainFixture.Epoch
    val line =
      s"""{"block_number": $b, "log_index": 0, "address": "${EtlJob.MarketplaceAddr}", "topic0": "${EtlJob.MarketplaceTopic}", "payload": "${jesc(raw)}"}"""
    Files.write(chain.resolve("blocks.ndjson"), (line + "\n").getBytes("UTF-8"))
    val split = new ChainMicroBatchStream(chain.toString, b, 4L, 1000L)
      .planInputPartitions(BlockOffset(b - 1), BlockOffset(b)).head
    val rdr = ChainReaderFactory.createReader(split)
    assert(rdr.next())
    val viaStream = rdr.get().getUTF8String(4).toString
    rdr.close()
    val viaBatch = new ChainSource(spark, chain.toString)
      .scan(b, b).select("payload").head.getString(0)
    val viaOracle = ChainOracle(spark, chain.toString, b, b).select("payload").head.getString(0)
    assert(viaOracle == raw)
    assert(viaStream == raw)
    assert(viaBatch == raw)
  }

  test("a malformed head fails the stream's head probe") {
    val chain = Files.createTempDirectory("chainhead").resolve("chain")
    ChainFixture.write(chain)
    Files.write(chain.resolve("head.json"), "{}".getBytes("UTF-8"))
    val stream = new ChainMicroBatchStream(chain.toString, ChainFixture.Epoch, 4L, 1000L)
    intercept[IllegalStateException](stream.latestOffset())
  }
}
