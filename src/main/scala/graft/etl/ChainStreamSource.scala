package graft.etl

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, IsNotNull, LessThanOrEqual}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 source over the chain fixture — the production shape of
  * reference P1-P4 (SURVEY §4.2 "Block-range micro-batch source"). A
  * block range is planned as ceil(range/1000) input partitions of <=1000
  * blocks (P4, JOB_BLOCK_BATCH_SIZE — "Alchemy's limit", main.py:34-35),
  * so extraction parallelism scales with the cluster instead of the
  * reference's fixed 5 threads. In production a partition's reader is an
  * eth_getLogs RPC per split; here it reads only the byte spans of the
  * fixture NDJSON that can hold its blocks (`ChainFile`).
  *
  * Micro-batch read: offsets are block numbers and `latestOffset` applies
  * the 4-block confirmation lag (P2).
  *   spark.readStream.format("graft.etl.ChainStreamSource")
  *     .option("chainDir", dir).option("startBlock", epoch)
  *     .option("blockLag", 4).option("batchSize", 1000).load()
  * Checkpointed offsets make restart-resume exact: Spark persists the
  * last committed block (the etl_cursor analog) in the checkpoint log.
  *
  * Batch read (`ChainSource.scan`): the same options, one batch over
  * [startBlock, head - blockLag]; `block_number` >= and <= filters are
  * pushed into the scan and narrow that range.
  *   spark.read.format("graft.etl.ChainStreamSource")
  *     .option("chainDir", dir).load().filter(col("block_number").between(a, b))
  */
class ChainStreamSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChainFile.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ChainTable(new CaseInsensitiveStringMap(properties))
}

final class ChainTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"chain(${options.get("chainDir")})"
  override def schema(): StructType = ChainFile.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ChainScanBuilder(opts)
}

/** Takes the block range of a batch read from its pushed filters. */
final class ChainScanBuilder(opts: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters {
  private var lo, hi = Option.empty[Long]
  private var pushed = Array.empty[Filter]

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (range, rest) = filters.partition {
      case GreaterThanOrEqual("block_number", v: Long) => lo = Some(lo.fold(v)(math.max(_, v))); true
      case LessThanOrEqual("block_number", v: Long) => hi = Some(hi.fold(v)(math.min(_, v))); true
      case IsNotNull("block_number") => true // every row has one
      case _ => false
    }
    pushed = range
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new ChainScan(opts, lo, hi)
}

final class ChainScan(opts: CaseInsensitiveStringMap, lo: Option[Long], hi: Option[Long])
    extends Scan with Batch {
  private val chainDir = opts.get("chainDir")
  private val startBlock = opts.getLong("startBlock", 10014455L)
  private val blockLag = opts.getLong("blockLag", 4L)
  private val batchSize = opts.getLong("batchSize", 1000L)

  override def readSchema(): StructType = ChainFile.schema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    ChainFile.splits(chainDir, lo.getOrElse(startBlock),
      hi.getOrElse(ChainFile.latestBlock(chainDir) - blockLag), batchSize)

  override def createReaderFactory(): PartitionReaderFactory = ChainReaderFactory

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChainMicroBatchStream(chainDir, startBlock, blockLag, batchSize)
}

final case class BlockOffset(block: Long) extends Offset {
  override def json(): String = block.toString
}

/** Blocks [from, to], and the byte spans of the chain file to read them from. */
final case class BlockRangePartition(from: Long, to: Long, chainDir: String,
    spans: Seq[(Long, Long)]) extends InputPartition

final class ChainMicroBatchStream(
    chainDir: String, startBlock: Long, blockLag: Long, batchSize: Long)
    extends MicroBatchStream {

  /** P1+P2: head probe capped by the confirmation lag. */
  override def latestOffset(): Offset =
    BlockOffset(math.max(startBlock - 1, ChainFile.latestBlock(chainDir) - blockLag))

  override def initialOffset(): Offset = BlockOffset(startBlock - 1)

  override def deserializeOffset(json: String): Offset = BlockOffset(json.toLong)

  /** P4: split the micro-batch range into <=batchSize-block partitions. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    ChainFile.splits(chainDir, start.asInstanceOf[BlockOffset].block + 1,
      end.asInstanceOf[BlockOffset].block, batchSize)

  override def createReaderFactory(): PartitionReaderFactory = ChainReaderFactory

  override def commit(end: Offset): Unit = () // checkpoint log is the cursor
  override def stop(): Unit = ()
}

object ChainReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ChainPartitionReader(partition.asInstanceOf[BlockRangePartition])
}

/** Reads one block-range split. Production: one bounded eth_getLogs
  * call per split; fixture: the rows of the split's spans in its range.
  */
final class ChainPartitionReader(p: BlockRangePartition)
    extends PartitionReader[InternalRow] {
  private val lines = new ChainFile.Lines(ChainFile.blocks(p.chainDir), p.spans)
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (lines.next()) {
      val row = ChainFile.parse(lines.line.getBytes, lines.line.getLength)
      if (row != null && row.getLong(0) >= p.from && row.getLong(0) <= p.to) {
        current = row
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
