package graft.etl

import graft.SparkTestSession
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** The test oracle for chain reads: Spark's JSON source over the whole
  * file, filtered to the range.
  */
object ChainOracle {
  def apply(spark: SparkSession, chainDir: String, from: Long, to: Long): DataFrame =
    spark.read.schema(Schemas.chainLog).json(ChainFile.blocks(chainDir))
      .filter(col("block_number").between(from, to))

  def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(0), String.valueOf(r.get(1)), String.valueOf(r.get(4))))

  /** A chain file of `blocks` blocks from Epoch, several index chunks
    * long, holding every kind of line the reader must read as the oracle
    * does: escapes (\" \\ \n, the literal \\n trap, \uXXXX, \t \/ \r),
    * raw UTF-8, null and empty payloads, reordered keys, extra
    * whitespace, unknown keys, non-string values of string fields, a
    * mistyped log_index, CRLF, and blank and malformed lines. Lines are
    * shuffled when `shuffled`, so blocks are out of order.
    */
  def write(dir: Path, blocks: Int, shuffled: Boolean): Unit = {
    Files.createDirectories(dir)
    val rnd = new scala.util.Random(7)
    def pad() = rnd.alphanumeric.take(100 + rnd.nextInt(400)).mkString
    def jesc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    }
    val addr = EtlJob.MarketplaceAddr
    val lines = (0 until blocks).flatMap { i =>
      val b = ChainFixture.Epoch + i
      val logs = (0 to i % 3).map { li =>
        (i * 7 + li) % 10 match {
          case 0 =>
            val raw = s"line1\nline2 \"quoted\" back\\slash literal:\\n end ${pad()}"
            s"""{"block_number": $b, "log_index": $li, "address": "$addr", "topic0": "T", "payload": "${jesc(raw)}"}"""
          case 1 =>
            s"""{ "payload" :"${pad()}" ,	"topic0":"T",  "log_index" : $li , "address":"$addr","block_number"  :$b }  """
          case 2 => s"""{"block_number": $b, "log_index": $li, "address": "$addr", "topic0": "T", "payload": null}"""
          case 3 => s"""{"block_number": $b, "log_index": $li, "address": "$addr", "topic0": "T", "payload": ""}"""
          case 4 =>
            s"""{"block_number": $b, "log_index": $li, "address": "$addr", "topic0": "T", "payload": "caf\\u00e9 \\u20ac \\ud83d\\ude00 \\u005c \\u0022 raw:é€ ${pad()}"}"""
          case 5 =>
            s"""{"block_number": $b, "extra": {"k": [1, {"z": null}]}, "log_index": $li, "address": "$addr", "topic0": "T", "payload": {"a": [1, 2.5, "x"]}}"""
          case 6 => s"""{"block_number": $b, "log_index": $li, "address": 42, "topic0": true, "payload": "${pad()}"}"""
          case 7 => s"""{"block_number": $b, "log_index": "x$li", "address": "$addr", "topic0": "T", "payload": "p"}"""
          case 8 =>
            s"""{"block_number": $b, "log_index": $li, "address": "$addr", "topic0": "T", "payload": "tab\\t slash\\/ cr\\r ${pad()}"}"""
          case _ =>
            s"""{"block_number": $b, "log_index": $li, "address": "$addr", "topic0": "T", "payload": "${pad()}"}""" + "\r"
        }
      }
      val junk = i % 17 match {
        case 0 => Seq("")
        case 5 => Seq("   \t")
        case 9 => Seq("not json")
        case 11 => Seq(s"""{"block_number": $b, "log_index": 9, "address": "$addr", "topic0": """)
        case 13 => Seq("""{"block_number": }""", "42")
        case _ => Nil
      }
      logs ++ junk
    }
    val ordered = if (shuffled) rnd.shuffle(lines) else lines
    Files.write(dir.resolve("blocks.ndjson"), ordered.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    ChainFixture.setHead(dir, ChainFixture.Epoch + blocks - 1)
  }
}

/** The batch chain scan (`ChainSource.scan` over the DSv2 source) against
  * the oracle, the sparse index that prunes its reads, and the head probe.
  */
class ChainSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Blocks = 3000

  private def assertMatchesOracle(chain: String, from: Long, to: Long, batch: Int): Unit = {
    val got = ChainOracle.rows(new ChainSource(spark, chain).scan(from, to, batch))
    val want = ChainOracle.rows(ChainOracle(spark, chain, from, to))
    def short(rs: Seq[Row]) = rs.take(3).map(_.toString.take(160)).mkString("; ")
    if (got != want) fail(s"[$from, $to]: ${got.size} rows vs ${want.size}; " +
      s"only scanned: ${short(got.diff(want))}; only in oracle: ${short(want.diff(got))}")
  }

  /** First block of each index chunk after the first: the block of the
    * first parseable line at or past each chunk start.
    */
  private def chunkBoundaryBlocks(chain: String): Seq[Long] = {
    val lines = new ChainFile.Lines(ChainFile.blocks(chain), Seq(0L -> Long.MaxValue))
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var start = 0L
    var open = false
    try while (lines.next()) {
      if (lines.offset - start >= ChainFile.ChunkBytes) { start = lines.offset; open = true }
      val row = ChainFile.parse(lines.line.getBytes, lines.line.getLength)
      if (open && row != null) { out += row.getLong(0); open = false }
    } finally lines.close()
    out.toSeq
  }

  test("scan equals the JSON-source oracle on every line kind, at chunk boundaries") {
    val chain = Files.createTempDirectory("chainoracle").resolve("chain")
    ChainOracle.write(chain, Blocks, shuffled = false)
    val file = ChainFile.blocks(chain.toString)
    assert(Files.size(chain.resolve("blocks.ndjson")) > 4L * ChainFile.ChunkBytes)
    val last = ChainFixture.Epoch + Blocks - 1
    assertMatchesOracle(chain.toString, ChainFixture.Epoch, last, 700)
    val bounds = chunkBoundaryBlocks(chain.toString)
    assert(bounds.size >= 4)
    for (b <- bounds.take(3)) {
      assertMatchesOracle(chain.toString, b, b, 1000)
      assertMatchesOracle(chain.toString, b - 1, b, 1000)
      assertMatchesOracle(chain.toString, ChainFixture.Epoch, b - 1, 1000)
      assertMatchesOracle(chain.toString, b, b + 150, 100)
    }
    // an ordered file: a short range reads a few chunks, not the file
    val b = bounds(1)
    val read = ChainFile.spans(file, b, b + 10)
      .map { case (s, e) => math.min(e, Files.size(chain.resolve("blocks.ndjson"))) - s }.sum
    assert(read <= 3L * ChainFile.ChunkBytes, s"read $read bytes")
  }

  test("an out-of-order file prunes less and stays exact") {
    val chain = Files.createTempDirectory("chainshuffled").resolve("chain")
    ChainOracle.write(chain, Blocks, shuffled = true)
    val e = ChainFixture.Epoch
    for ((from, to) <- Seq((e, e + Blocks - 1), (e + 10, e + 10), (e + 500, e + 1700)))
      assertMatchesOracle(chain.toString, from, to, 400)
  }

  test("rewriting the chain file in place with the same length shows the new rows") {
    val chain = Files.createTempDirectory("chainrewrite").resolve("chain")
    ChainFixture.write(chain)
    val src = new ChainSource(spark, chain.toString)
    val (from, to) = (ChainFixture.Epoch, ChainFixture.Epoch + ChainFixture.Span - 1)
    val before = src.scan(from, to).count()
    assert(before > 0)
    // every block number moves up by Span: same digits, so same length
    val file = chain.resolve("blocks.ndjson")
    val old = new String(Files.readAllBytes(file), StandardCharsets.UTF_8)
    val moved = """"block_number": (\d+)""".r.replaceAllIn(old,
      m => s""""block_number": ${m.group(1).toLong + ChainFixture.Span}""")
    assert(moved.length == old.length)
    Files.write(file, moved.getBytes(StandardCharsets.UTF_8))
    assert(src.scan(from, to).count() == 0)
    assert(src.scan(from + ChainFixture.Span, to + ChainFixture.Span).count() == before)
    assertMatchesOracle(chain.toString, from + ChainFixture.Span, to + ChainFixture.Span, 1000)
  }

  test("a missing blocks.ndjson fails the scan loudly") {
    val chain = Files.createTempDirectory("chainmissing").resolve("chain")
    ChainFixture.write(chain)
    Files.delete(chain.resolve("blocks.ndjson"))
    val e = intercept[Exception] {
      new ChainSource(spark, chain.toString).scan(ChainFixture.Epoch, ChainFixture.Epoch + 10).count()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]), e)
  }

  test("a malformed head fails the batch head probe and the cycle, cursor unmoved") {
    val root = Files.createTempDirectory("chainhead")
    val chain = root.resolve("chain")
    ChainFixture.write(chain)
    Files.write(chain.resolve("head.json"), """{"latest": 10016954}""".getBytes(StandardCharsets.UTF_8))
    intercept[IllegalStateException](new ChainSource(spark, chain.toString).latestBlock())
    val cfg = EtlJob.Config(chain.toString, root.resolve("sink").toString, root.resolve("cursor").toString)
    intercept[IllegalStateException](EtlJob.runCycle(spark, cfg))
    assert(Cursor(cfg.cursorDir).read().isEmpty)
    Files.write(chain.resolve("head.json"), """{"latest_block": 1001""".getBytes(StandardCharsets.UTF_8))
    intercept[IllegalStateException](new ChainSource(spark, chain.toString).latestBlock())
  }
}
