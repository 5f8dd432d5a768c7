package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The simulated chain: head probe + bounded range scan over the
  * fixture's NDJSON event-log (FIXTURES.md §3). Mirrors the invocation
  * surface of the reference's ExportOriginJob (main.py:147-156):
  *
  *  - P1 head probe: latestBlock() reads head.json (the fixture's
  *    web3.eth.getBlock('latest') stand-in, main.py:200-201).
  *  - P3 range scan: scan(from,to) returns only the rows of [from,to],
  *    but the JSON source has no row-level pushdown: it parses the whole
  *    file and only then filters rows on block_number, so every scan
  *    reads the full chain file. (EtlJob persists what it resolves from
  *    one scan, so a cycle's four loads do not read the file again.)
  *  - P4 batching: the range is split into ceil(range/batchSize)
  *    partitions of <=batchSize blocks (JOB_BLOCK_BATCH_SIZE=1000,
  *    main.py:34-35), so extraction parallelism is per-batch exactly
  *    like the reference's 5-worker pool — but sized by the cluster.
  *
  * In production this would be a DSv2 MicroBatchStream doing
  * eth_getLogs RPCs per input partition; the fixture keeps the same
  * operator shape without the network.
  */
final class ChainSource(spark: SparkSession, chainDir: String) {

  /** P1: end-of-stream marker. */
  def latestBlock(): Long = {
    import scala.io.Source
    val src = Source.fromFile(s"$chainDir/head.json")
    try """"latest_block"\s*:\s*(\d+)""".r
      .findFirstMatchIn(src.mkString).map(_.group(1).toLong)
      .getOrElse(sys.error(s"malformed $chainDir/head.json"))
    finally src.close()
  }

  /** P3+P4: bounded, batched range scan of raw event logs. */
  def scan(fromBlock: Long, toBlock: Long, batchSize: Int = 1000): DataFrame = {
    require(fromBlock <= toBlock, s"empty range [$fromBlock,$toBlock]")
    val nBatches = math.max(1, ((toBlock - fromBlock) / batchSize + 1).toInt)
    spark.read.schema(Schemas.chainLog)
      .json(s"$chainDir/blocks.ndjson")
      .filter(col("block_number").between(fromBlock, toBlock))
      .repartitionByRange(nBatches, col("block_number"))
  }
}
