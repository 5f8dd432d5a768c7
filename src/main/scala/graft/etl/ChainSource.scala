package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The simulated chain: head probe + bounded range scan over the
  * fixture's NDJSON event-log (FIXTURES.md §3). Mirrors the invocation
  * surface of the reference's ExportOriginJob (main.py:147-156):
  *
  *  - P1 head probe: latestBlock() reads head.json (the fixture's
  *    web3.eth.getBlock('latest') stand-in, main.py:200-201); a malformed
  *    head throws, so the cycle fails with its cursor unmoved.
  *  - P3 range scan: scan(from,to) is a batch read of the DSv2 chain
  *    source (`ChainStreamSource`) with the range pushed into it. Each
  *    split seeks to the byte spans a sparse block index of the file
  *    gives for its blocks, so a scan reads about its range's bytes, not
  *    the whole file. (EtlJob persists what it resolves from one scan, so
  *    a cycle's four loads do not read the file again.)
  *  - P4 batching: the range is split into ceil(range/batchSize)
  *    partitions of <=batchSize blocks (JOB_BLOCK_BATCH_SIZE=1000,
  *    main.py:34-35), so extraction parallelism is per-batch exactly
  *    like the reference's 5-worker pool — but sized by the cluster.
  */
final class ChainSource(spark: SparkSession, chainDir: String) {

  /** P1: end-of-stream marker. */
  def latestBlock(): Long = ChainFile.latestBlock(chainDir)

  /** P3+P4: bounded, batched range scan of raw event logs. */
  def scan(fromBlock: Long, toBlock: Long, batchSize: Int = 1000): DataFrame = {
    require(fromBlock <= toBlock, s"empty range [$fromBlock,$toBlock]")
    spark.read.format(classOf[ChainStreamSource].getName)
      .option("chainDir", chainDir).option("batchSize", batchSize.toLong)
      .load()
      .filter(col("block_number").between(fromBlock, toBlock))
  }
}
