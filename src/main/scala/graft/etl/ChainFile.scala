package graft.etl

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonParser, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, NoSuchFileException, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import scala.collection.mutable.ArrayBuffer

/** The chain fixture's two files (FIXTURES.md §3), read the one way both
  * the batch and the micro-batch chain source read them:
  *
  *  - `latestBlock`: the head probe (P1), `head.json`'s `latest_block`.
  *    A head without one throws, as the reference's failed
  *    `getBlock('latest')` fails its cycle (main.py:200-220).
  *  - `parse`: one `blocks.ndjson` line to a `schema` row, by field name
  *    as Spark's JSON source reads it: unknown keys are skipped, missing
  *    or null fields are null, and a non-string value of a string field
  *    keeps its JSON text as written. Blank and malformed lines, lines
  *    that are not one object, and rows without a block number are
  *    dropped.
  *  - `splits`: a block range as input partitions of <=batchSize blocks
  *    (P4), each carrying the byte spans of `blocks.ndjson` that can hold
  *    its blocks.
  *
  * The spans come from a sparse index built on the driver in one pass of
  * the file: the min and max block of each chunk, where a chunk ends at
  * the first line that starts `ChunkBytes` or more past its start. One
  * index is kept per path and reused while the file's size and
  * nanosecond mtime are unchanged. On an unordered file the index prunes
  * less; a reader keeps only its range's rows, so results stay exact.
  * Reads go through Hadoop's `FileSystem`, so Spark's task input metrics
  * count the bytes a reader reads.
  */
object ChainFile {
  val ChunkBytes = 256 * 1024

  /** `Schemas.chainLog` read from JSON: every field nullable, as Spark's
    * file sources read a user schema.
    */
  val schema: StructType = StructType(Schemas.chainLog.map(_.copy(nullable = true)))

  def blocks(chainDir: String): String = s"$chainDir/blocks.ndjson"

  // Spark's JSON source defaults that differ from Jackson's.
  private val json = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()

  private lazy val fs = FileSystem.getLocal(new Configuration()).getRaw

  /** Walks the object `p` starts, calling `f` with each top-level field
    * name and `p` on the field's value; false if `p` holds no object.
    */
  private def eachField(p: JsonParser)(f: String => Unit): Boolean =
    p.nextToken() == JsonToken.START_OBJECT && {
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val name = p.currentName()
        p.nextToken()
        f(name)
        p.skipChildren()
      }
      true
    }

  /** P1: the chain head. */
  def latestBlock(chainDir: String): Long = {
    val file = s"$chainDir/head.json"
    val p = json.createParser(Files.readAllBytes(Paths.get(file)))
    try {
      var head: Option[Long] = None
      eachField(p) { name =>
        if (name == "latest_block" && p.currentToken == JsonToken.VALUE_NUMBER_INT)
          head = Some(p.getLongValue)
      }
      head.getOrElse(throw new IllegalStateException(s"malformed $file: no latest_block"))
    } catch {
      case e: JsonProcessingException => throw new IllegalStateException(s"malformed $file", e)
    } finally p.close()
  }

  private def long(p: JsonParser): Any =
    if (p.currentToken == JsonToken.VALUE_NUMBER_INT) p.getLongValue else null

  private def string(p: JsonParser, line: Array[Byte]): Any = p.currentToken match {
    case JsonToken.VALUE_NULL => null
    case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
    case _ =>
      val start = p.currentTokenLocation().getByteOffset.toInt
      p.skipChildren()
      UTF8String.fromBytes(java.util.Arrays.copyOfRange(line, start, p.currentLocation().getByteOffset.toInt))
  }

  /** One line to a row, or null if it holds none. */
  def parse(line: Array[Byte], len: Int): InternalRow = {
    val p = json.createParser(line, 0, len)
    try {
      val row = new Array[Any](5)
      val isObject = eachField(p) {
        case "block_number" => row(0) = long(p)
        case "log_index" => row(1) = long(p)
        case "address" => row(2) = string(p, line)
        case "topic0" => row(3) = string(p, line)
        case "payload" => row(4) = string(p, line)
        case _ =>
      }
      if (isObject && row(0) != null) new GenericInternalRow(row) else null
    } catch {
      case _: JsonProcessingException => null
    } finally p.close()
  }

  /** The lines of `file` that start inside `spans`, in order. Opening a
    * missing file throws.
    */
  final class Lines(file: String, spans: Seq[(Long, Long)]) extends java.io.Closeable {
    private val in = fs.open(new Path(file))
    private val rest = spans.iterator
    private var reader: LineReader = _
    private var pos, end = 0L
    /** The current line, without its line terminator. */
    val line = new Text()
    /** The current line's byte offset in the file. */
    var offset = 0L

    def next(): Boolean = {
      while (pos >= end) {
        if (!rest.hasNext) return false
        val (s, e) = rest.next()
        in.seek(s)
        reader = new LineReader(in)
        pos = s
        end = e
      }
      val n = reader.readLine(line)
      if (n == 0) { end = pos; next() } // end of file inside the span
      else { offset = pos; pos += n; true }
    }

    override def close(): Unit = in.close()
  }

  private final class Index(val size: Long, val mtimeNs: Long,
      val starts: Array[Long], val mins: Array[Long], val maxs: Array[Long])

  private val indexes = new ConcurrentHashMap[String, Index]()

  private def build(file: String, size: Long, mtimeNs: Long): Index = {
    val starts, mins, maxs = ArrayBuffer[Long]()
    val lines = new Lines(file, Seq(0L -> Long.MaxValue))
    try while (lines.next()) {
      if (starts.isEmpty || lines.offset - starts.last >= ChunkBytes) {
        starts += lines.offset; mins += Long.MaxValue; maxs += Long.MinValue
      }
      val row = parse(lines.line.getBytes, lines.line.getLength)
      if (row != null) {
        val i = starts.length - 1
        mins(i) = math.min(mins(i), row.getLong(0))
        maxs(i) = math.max(maxs(i), row.getLong(0))
      }
    } finally lines.close()
    new Index(size, mtimeNs, starts.toArray, mins.toArray, maxs.toArray)
  }

  /** The index of `file`, rebuilt when its size or mtime changed; None if
    * the file does not exist.
    */
  private def index(file: String): Option[Index] = {
    val attrs =
      try Some(Files.readAttributes(Paths.get(file), classOf[BasicFileAttributes]))
      catch { case _: NoSuchFileException => None }
    attrs.map { a =>
      val (size, mtimeNs) = (a.size, a.lastModifiedTime.to(TimeUnit.NANOSECONDS))
      val cached = indexes.get(file)
      if (cached != null && cached.size == size && cached.mtimeNs == mtimeNs) cached
      else {
        val built = build(file, size, mtimeNs)
        indexes.put(file, built)
        built
      }
    }
  }

  /** Byte spans of `file` whose chunks can hold a block in [lo, hi],
    * adjacent chunks merged. A missing file gets one span over all of it,
    * so the reader's open fails loudly instead of reading nothing.
    */
  def spans(file: String, lo: Long, hi: Long): Seq[(Long, Long)] = index(file) match {
    case None => Seq(0L -> Long.MaxValue)
    case Some(ix) =>
      val out = ArrayBuffer[(Long, Long)]()
      for (i <- ix.starts.indices if ix.mins(i) <= hi && ix.maxs(i) >= lo) {
        val end = if (i + 1 < ix.starts.length) ix.starts(i + 1) else Long.MaxValue
        if (out.nonEmpty && out.last._2 == ix.starts(i)) out(out.length - 1) = out.last._1 -> end
        else out += ix.starts(i) -> end
      }
      out.toSeq
  }

  /** P4: [from, to] as input partitions of <=batchSize blocks. */
  def splits(chainDir: String, from: Long, to: Long, batchSize: Long): Array[InputPartition] =
    (from to to by batchSize).map { lo =>
      val hi = math.min(lo + batchSize - 1, to)
      BlockRangePartition(lo, hi, chainDir, spans(blocks(chainDir), lo, hi)): InputPartition
    }.toArray
}
