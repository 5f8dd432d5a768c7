package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Metadata-only counts over catalog snapshot tables
  * (GraftReadRule.metadataAggregate + GraftSnapshotTable
  * .metadataCounts): an ungrouped, unfiltered SQL `count(*)` /
  * `count(col)` is answered from the manifest's per-file row/null
  * stats as a LocalRelation — zero files planned — while every
  * non-provable shape (WHERE, GROUP BY, DISTINCT, deletion vectors)
  * falls back to the ordinary scan with the identical answer.
  */
class MetaCountSpec extends AnyFunSuite {

  private val wh = Files.createTempDirectory("graftmeta").toString

  private lazy val spark: SparkSession = {
    graft.SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.Graft.localSession(graft.SparkTestSession.pinned ++ Seq(
      "spark.sql.catalog.graft" -> classOf[GraftCatalog].getName,
      "spark.sql.catalog.graft.warehouse" -> wh): _*)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    s
  }

  private def isMetadataAnswered(df: org.apache.spark.sql.DataFrame): Boolean = {
    val local = df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.nonEmpty
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    local && scans.isEmpty
  }

  private def scansFiles(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case l: LocalRelation => l
    }.isEmpty

  test("count(*) and count(col) answer from the manifest with zero scans") {
    import spark.implicits._
    val path = s"$wh/db/mc"
    Snapshot.commitOverwrite(
      Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
        .toDF("id", "v"), path)
    Snapshot.commitAppend(
      Seq((4L, Some("d")), (5L, None)).toDF("id", "v"), path)

    val star = spark.sql("SELECT count(*) AS n FROM graft.db.mc")
    assert(isMetadataAnswered(star))
    assert(star.collect()(0).getLong(0) === 5L)

    // count(col) subtracts the stats-recorded null count per file
    val nn = spark.sql("SELECT count(v) AS n, count(*) AS m FROM graft.db.mc")
    assert(isMetadataAnswered(nn))
    val r = nn.collect()(0)
    assert(r.getLong(0) === 3L)
    assert(r.getLong(1) === 5L)

    // time travel pins the metadata answer to the version's manifest
    val v1 = spark.sql(
      "SELECT count(*) AS n FROM graft.db.mc VERSION AS OF 1")
    assert(isMetadataAnswered(v1))
    assert(v1.collect()(0).getLong(0) === 3L)
  }

  test("min/max answer from the manifest envelopes; NaN and all-null " +
      "columns behave") {
    import spark.implicits._
    val path = s"$wh/db/mm"
    Snapshot.commitOverwrite(
      Seq((3L, Option("banana"), Option(2.5)),
        (1L, Option.empty[String], Option(0.5))).toDF("id", "v", "d"), path)
    Snapshot.commitAppend(
      Seq((9L, Option("apple"), Option.empty[Double]))
        .toDF("id", "v", "d"), path)

    val q = spark.sql(
      "SELECT min(id) AS a, max(id) AS b, min(v) AS c, max(v) AS e, " +
        "count(d) AS f, count(*) AS n FROM graft.db.mm")
    assert(isMetadataAnswered(q))
    val r = q.collect()(0)
    assert(r.getLong(0) === 1L)
    assert(r.getLong(1) === 9L)
    assert(r.getString(2) === "apple") // min ignores the null v
    assert(r.getString(3) === "banana")
    assert(r.getLong(4) === 2L)
    assert(r.getLong(5) === 3L)

    // double extrema are categorically NOT provable from envelopes
    // (parquet writers omit NaN from min/max, so finite stats can't
    // prove NaN's absence) — whole-statement fallback, same answer
    val dq = spark.sql("SELECT min(d) AS f, max(d) AS g FROM graft.db.mm")
    assert(scansFiles(dq))
    val dr = dq.collect()(0)
    assert(dr.getDouble(0) === 0.5)
    assert(dr.getDouble(1) === 2.5)

    // timestamps: the freshness probe min(ts)/max(ts)
    val ts = s"$wh/db/mmts"
    Snapshot.commitOverwrite(
      Seq(java.sql.Timestamp.valueOf("2026-01-02 03:04:05.678"),
        java.sql.Timestamp.valueOf("2026-06-07 08:09:10.111"))
        .toDF("t"), ts)
    val tq = spark.sql(
      "SELECT min(t) AS lo, max(t) AS hi FROM graft.db.mmts")
    assert(isMetadataAnswered(tq))
    val tr = tq.collect()(0)
    assert(tr.getTimestamp(0) ===
      java.sql.Timestamp.valueOf("2026-01-02 03:04:05.678"))
    assert(tr.getTimestamp(1) ===
      java.sql.Timestamp.valueOf("2026-06-07 08:09:10.111"))

    // an all-null column's extrema are NULL — still metadata-answered
    val nul = s"$wh/db/mmnull"
    Snapshot.commitOverwrite(
      Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
        .toDF("id", "v"), nul)
    val nq = spark.sql("SELECT min(v) AS a, max(v) AS b, count(v) AS n " +
      "FROM graft.db.mmnull")
    assert(isMetadataAnswered(nq))
    val nr = nq.collect()(0)
    assert(nr.isNullAt(0) && nr.isNullAt(1))
    assert(nr.getLong(2) === 0L)

    // the NaN trap the double exclusion exists for: a file holding
    // {1.5, NaN} can carry a finite envelope that says max=1.5, but
    // Spark's NaN-is-greatest answer is NaN — only the scan knows
    val nan = s"$wh/db/mmnan"
    Snapshot.commitOverwrite(
      Seq((1L, 1.5), (2L, Double.NaN)).toDF("id", "d"), nan)
    val xq = spark.sql("SELECT max(d) AS m FROM graft.db.mmnan")
    assert(scansFiles(xq))
    assert(xq.collect()(0).getDouble(0).isNaN)

    // sum/avg have no envelope — whole-statement fallback, same answer
    val sq = spark.sql("SELECT sum(id) AS s, min(id) AS m FROM graft.db.mm")
    assert(scansFiles(sq))
    assert(sq.collect()(0).getLong(0) === 13L)
  }

  test("non-provable shapes fall back to the scan, same answers") {
    val path = s"$wh/db/mc"

    val where = spark.sql(
      "SELECT count(*) AS n FROM graft.db.mc WHERE id > 2")
    assert(scansFiles(where))
    assert(where.collect()(0).getLong(0) === 3L)

    val grouped = spark.sql(
      "SELECT v, count(*) AS n FROM graft.db.mc GROUP BY v")
    assert(scansFiles(grouped))
    assert(grouped.collect().map(_.getLong(1)).sum === 5L)

    val distinct = spark.sql(
      "SELECT count(DISTINCT v) AS n FROM graft.db.mc")
    assert(scansFiles(distinct))
    assert(distinct.collect()(0).getLong(0) === 3L)

    // a merge-on-read delete leaves the manifest's per-file rows
    // overcounting — the rewrite must refuse and the scan must agree
    // with the DV-filtered truth
    Snapshot.deleteWhereMergeOnRead(spark, path, col("id") === lit(2L))
    val afterDv = spark.sql("SELECT count(*) AS n FROM graft.db.mc")
    assert(scansFiles(afterDv))
    assert(afterDv.collect()(0).getLong(0) === 4L)

    // the pre-delete version still answers from metadata
    val pinned = spark.sql(
      "SELECT count(*) AS n FROM graft.db.mc VERSION AS OF 2")
    assert(isMetadataAnswered(pinned))
    assert(pinned.collect()(0).getLong(0) === 5L)

    // a copy-on-write delete rewrites only the files its predicate
    // touches — untouched files CARRY their DVs, so the fallback must
    // hold (a rewrite keyed on "some delete happened" would be wrong)
    Snapshot.deleteWhere(spark, path, col("id") === lit(4L))
    val afterCow = spark.sql("SELECT count(*) AS n FROM graft.db.mc")
    assert(scansFiles(afterCow))
    assert(afterCow.collect()(0).getLong(0) === 3L)

    // OPTIMIZE republishes the DV-applied content as plain files with
    // fresh stats — the metadata path resumes, post-delete count
    Snapshot.optimize(spark, path, targetFiles = 1)
    val afterOpt = spark.sql("SELECT count(*) AS n FROM graft.db.mc")
    assert(isMetadataAnswered(afterOpt))
    assert(afterOpt.collect()(0).getLong(0) === 3L)
  }
}
