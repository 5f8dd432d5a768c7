package graft.operators

import java.nio.file.{Files, Paths}

import graft.SparkTestSession
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The production hybrid (BM25 lexical arm + ANN-index dense arm,
  * rrfFuse) must (1) emit well-formed fused rank lists whose RRF
  * value recomputes from the emitted ranks — xs8's own invariants —
  * over the correct query/corpus split, and (2) keep the dense arm's
  * executed cell scan PARTITION-PRUNED to the batch's probed cells:
  * the property that makes this form runnable where xs8's brute-force
  * crossJoin arm is not.
  */
class HybridRetrievalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def parquetFilesUnder(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Nil
    val out = Seq.newBuilder[String]
    Files.walk(root).forEach { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".parquet") && !n.startsWith("_")) out += p.toString
    }
    out.result()
  }

  test("fused output: xs8 invariants hold on the ANN-armed hybrid") {
    val rows = HybridRetrieval.withCorpusIndex(spark, sf) { idx =>
      graft.queries.Det.reap {
        HybridRetrieval.rrfAnn(spark, sf, idx)
      }.collect()
    }
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 20 == 0, "qid must be in the query split")
      assert(r.getLong(1) % 20 != 0, "doc must be in the corpus split")
      val lex = if (r.isNullAt(2)) None else Some(r.getInt(2))
      val vec = if (r.isNullAt(3)) None else Some(r.getInt(3))
      assert(lex.nonEmpty || vec.nonEmpty)
      val exp = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        vec.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(math.abs(r.getDouble(4) - exp) < 1e-6)
    }
    rows.groupBy(_.getLong(0)).foreach { case (_, g) => assert(g.size <= 5) }
  }

  test("dense arm: executed scan reads only the probed cells' files") {
    HybridRetrieval.withCorpusIndex(spark, sf) { idx =>
      val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      // a SMALL batch (3 queries) so the probed-cell union stays well
      // under Cells and pruning is observable; a whole-corpus batch may
      // legitimately touch every cell while each query still joins only
      // its own cells on cid
      val q = emb.filter(col("vec_id") % 20 === 0)
        .orderBy(col("vec_id").asc).limit(3)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val nprobe = 3
      val probed = q.select(col("query_id"), col("embedding").cast("array<double>"))
        .collect()
        .flatMap(r => AnnIndex.probedCells(spark, idx,
          r.getSeq[Double](1).toArray, nprobe))
        .distinct
      val res = AnnIndex.probeBatch(spark, idx, q, k = 5, nprobe = nprobe)
      res.collect()
      // the probe plan is AQE-wrapped (it has a window exchange): scans
      // hide inside AdaptiveSparkPlanExec / materialized query stages,
      // which expose their subtrees via executedPlan/plan, not children
      def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansIn(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansIn(qs.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(scansIn)
      }
      // count only the CELL-table scans: since the probe's routing became
      // a scan-stage projection (no checkpoint), the query batch's own
      // embeddings.parquet scan is part of this plan too — pruning is a
      // property of the cells read, not of reading the 3-row query batch
      val scans = scansIn(res.queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths
          .exists(_.toString.contains("/cells")))
      assert(scans.nonEmpty, "expected a cells parquet scan in the probe plan")
      val planned = scans.map(_.metrics("numFiles").value).sum
      val probedFiles =
        probed.flatMap(c => parquetFilesUnder(s"$idx/cells/epoch=0/cid=$c")).length
      val allFiles = parquetFilesUnder(s"$idx/cells").size
      assert(planned == probedFiles.toLong,
        s"planned $planned files, probed dirs hold $probedFiles")
      assert(planned < allFiles.toLong,
        "pruning must beat a full scan on a multi-cell index")
    }
  }

  test("xr8 deletes its index directory once its result is checkpointed") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def indexDirs(): Set[String] = {
      val ls = Files.list(tmp)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("hybrididx")).toSet
      finally ls.close()
    }
    val before = indexDirs()
    // a session of its own on the shared context: whatever other
    // suites ran before, this run builds an index of its own
    val rows = graft.queries.Recall.xr8.fn(spark.newSession(), sf).collect()
    assert(rows.length == 1, "xr8 emits one certification row")
    val left = indexDirs() -- before
    assert(left.isEmpty, s"xr8 left index dirs behind: $left")
  }
}
