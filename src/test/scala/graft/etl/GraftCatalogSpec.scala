package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TableCheck

/** The DSv2 catalog front door (GraftCatalog + GraftSqlRules):
  * SQL-standard names, `VERSION AS OF` time travel, CREATE/CTAS/
  * INSERT, and DELETE/UPDATE/MERGE routed to the manifest DML triad —
  * each asserted equal to the Scala API it rides on, with the
  * manifest-stats file pruning witness ported from SnapshotSourceSpec.
  */
class GraftCatalogSpec extends AnyFunSuite {

  private val wh = Files.createTempDirectory("graftcat").toString

  // catalog session: the shared context is materialized first, then a
  // fresh session with the catalog registered
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

  private def fp(df: org.apache.spark.sql.DataFrame) =
    TableCheck.checksum(df, df.columns.toIndexedSeq).collect()(0)

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val inner = plan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
    }
    (if (inner.nonEmpty) inner else Seq(plan)).flatMap(_.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numFiles").value
    }).sum
  }

  test("catalog SQL reads equal Snapshot.read at two versions; " +
      "VERSION AS OF time travel works") {
    import spark.implicits._
    val path = s"$wh/db/tt"
    Snapshot.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    Snapshot.commitAppend(Seq((3L, "c")).toDF("id", "v"), path)

    val cur = spark.sql("SELECT * FROM graft.db.tt")
    assert(fp(cur) == fp(Snapshot.read(spark, path)))
    assert(cur.count() == 3)

    val v1 = spark.sql("SELECT * FROM graft.db.tt VERSION AS OF 1")
    assert(fp(v1) == fp(Snapshot.read(spark, path, Some(1L))))
    assert(v1.count() == 2)
    // time-travelled tables are read-only
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graft.db.tt VERSION AS OF 1 WHERE id = 1")
    }
    assert(e.getMessage != null)
  }

  test("TIMESTAMP AS OF resolves through '#ts=' commit stamps") {
    import spark.implicits._
    val path = s"$wh/db/ts"
    Snapshot.commitOverwrite(Seq((1L, "a")).toDF("id", "v"), path)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(50) // distinct millisecond stamps across the commits
    Snapshot.commitAppend(Seq((2L, "b")).toDF("id", "v"), path)

    val t1 = Snapshot.commitTime(path, 1L)
    val t2 = Snapshot.commitTime(path, 2L)
    assert(t1.isDefined && t1.get <= afterV1)
    assert(t2.isDefined && t2.get > afterV1)
    assert(Snapshot.versionAt(path, afterV1).contains(1L))
    assert(Snapshot.versionAt(path, t2.get).contains(2L))
    assert(Snapshot.versionAt(path, t1.get - 1).isEmpty)

    def asOf(ms: Long) = {
      val lit = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms))
      spark.sql(s"SELECT * FROM graft.db.ts TIMESTAMP AS OF '$lit'")
    }
    assert(asOf(afterV1).collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(asOf(System.currentTimeMillis()).count() == 2)
    val e = intercept[Exception] { asOf(t1.get - 1000).collect() }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(messages.contains("no version committed at or before"))
  }

  test("ALTER TABLE ADD COLUMNS / RENAME COLUMN / ALTER COLUMN TYPE " +
      "are header-only evolution commits") {
    val t = "graft.db.alt"
    spark.sql(s"CREATE TABLE $t (id INT, v STRING)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    val dataFiles = () => {
      val d = new java.io.File(s"$wh/db/alt/data")
      if (d.exists) d.listFiles.count(_.isDirectory) else 0
    }
    val before = dataFiles()

    spark.sql(s"ALTER TABLE $t ADD COLUMNS (w BIGINT)")
    // existing rows read the added column as NULL ...
    assert(spark.sql(s"SELECT w FROM $t").collect().forall(_.isNullAt(0)))
    // ... new rows carry it, and aggregation sees only real values
    spark.sql(s"INSERT INTO $t VALUES (3, 'c', 30)")
    assert(spark.sql(s"SELECT sum(w) AS s FROM $t")
      .collect()(0).getLong(0) == 30L)
    assert(spark.sql(s"SELECT count(w) AS n FROM $t")
      .collect()(0).getLong(0) == 1L)
    // time travel to the pre-add version shows the old shape
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 2")
      .columns.toSeq == Seq("id", "v"))

    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO label")
    assert(spark.sql(s"SELECT label FROM $t").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("a", "b", "c"))

    spark.sql(s"ALTER TABLE $t ALTER COLUMN id TYPE BIGINT")
    assert(spark.sql(s"SELECT sum(id) AS s FROM $t")
      .collect()(0).getLong(0) == 6L)
    assert(spark.sql(s"SELECT * FROM $t").schema("id").dataType ==
      org.apache.spark.sql.types.LongType)

    // the three ALTERs published versions but wrote ZERO data files
    // beyond the two INSERTs' commits
    assert(dataFiles() == before + 1)
    assert(Snapshot.versions(s"$wh/db/alt") == (1L to 6L))

    // refused shapes stay loud
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t DROP COLUMN label")
    }
    assert(e1.getMessage.contains("not supported"))
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t ALTER COLUMN label TYPE INT")
    }
    assert(e2.getMessage != null) // narrow-or-incompatible widen refused
  }

  test("metadata tables: graft.db.t.history and graft.db.t.files") {
    import spark.implicits._
    val path = s"$wh/db/meta"
    Snapshot.commitOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), path)
    Snapshot.commitAppend(Seq((3L, "c")).toDF("id", "v").coalesce(1), path)
    Snapshot.deleteWhereMergeOnRead(spark, path, col("id") === lit(1L))

    val h = spark.sql(
      "SELECT * FROM graft.db.meta.history ORDER BY version").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(h.forall(r => r.getTimestamp(1) != null)) // '#ts=' stamps
    assert(h.map(_.getInt(2)).toSeq == Seq(1, 2, 2)) // n_files
    assert(h.map(_.getInt(3)).toSeq == Seq(1, 1, 0)) // n_added
    assert(h.map(_.getInt(4)).toSeq == Seq(0, 0, 0)) // n_removed
    assert(h.map(_.getInt(5)).toSeq == Seq(0, 0, 1)) // n_dv_files
    assert(h.forall(r => r.getString(6).contains("id")))

    val f = spark.sql("SELECT * FROM graft.db.meta.files").collect()
    assert(f.length == 2)
    assert(f.forall(_.getBoolean(2))) // every live file stats-covered
    assert(f.map(_.getLong(1)).sum == 3L) // manifest rows (pre-DV)
    assert(f.forall(_.getString(0).endsWith(".parquet")))

    // equals the Scala API
    assert(fp(spark.sql("SELECT * FROM graft.db.meta.history")) ==
      fp(Snapshot.history(spark, path)))
    // an unknown suffix is still a loud missing table
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.meta.nope").collect()
    }
    assert(e.getMessage != null)
  }

  test("SQL WHERE prunes planned files through manifest stats " +
      "(SnapshotSourceSpec's witness, catalog edition)") {
    import spark.implicits._
    val path = s"$wh/db/pr"
    Snapshot.commitOverwrite(
      (1L to 100L).map(i => (i, s"r$i")).toDF("id", "v")
        .repartitionByRange(2, col("id")), path)
    val q = spark.sql("SELECT id, v FROM graft.db.pr WHERE id <= 10")
    assert(q.count() == 10)
    assert(plannedFiles(q) == 1,
      "expected the catalog read to plan through the manifest-stats " +
        "FileIndex and prune to 1 file")
    assert(plannedFiles(spark.sql("SELECT * FROM graft.db.pr")) == 2)
  }

  test("CREATE TABLE + INSERT INTO + INSERT OVERWRITE + CTAS") {
    val t = "graft.db.ins"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v STRING)")
    assert(spark.sql(s"SELECT * FROM $t").count() == 0)
    spark.sql(s"INSERT INTO $t VALUES (1, 'a'), (2, 'b')")
    assert(spark.sql(s"SELECT * FROM $t").count() == 2)
    spark.sql(s"INSERT INTO $t VALUES (3, 'c')")
    assert(Snapshot.versions(s"$wh/db/ins") == Seq(1L, 2L, 3L))
    spark.sql(s"INSERT OVERWRITE $t VALUES (9, 'z')")
    assert(spark.sql(s"SELECT * FROM $t").collect().map(_.getLong(0)).toSeq
      == Seq(9L))
    // the Scala API sees the same table (shared manifests, no metastore)
    assert(Snapshot.read(spark, s"$wh/db/ins").count() == 1)

    spark.sql(s"CREATE TABLE graft.db.ctas AS SELECT * FROM $t")
    assert(fp(spark.sql("SELECT * FROM graft.db.ctas")) ==
      fp(spark.sql(s"SELECT * FROM $t")))
  }

  test("SQL DELETE equals Snapshot.deleteWhere (same surgery, twin " +
      "tables)") {
    import spark.implicits._
    val rows = (1L to 100L).map(i => (i, s"r$i")).toDF("id", "v")
      .repartitionByRange(2, col("id"))
    val sqlPath = s"$wh/db/delsql"
    val scalaPath = s"$wh/db/delapi"
    Snapshot.commitOverwrite(rows, sqlPath)
    Snapshot.commitOverwrite(rows, scalaPath)

    spark.sql("DELETE FROM graft.db.delsql WHERE id <= 10")
    val r = Snapshot.deleteWhere(spark, scalaPath, col("id") <= 10L)

    assert(fp(Snapshot.read(spark, sqlPath)) ==
      fp(Snapshot.read(spark, scalaPath)))
    assert(spark.sql("SELECT * FROM graft.db.delsql").count() == 90)
    // same manifest surgery: both rewrote the one touched file and
    // carried the other, publishing version 2
    assert(r.rewrittenFiles == 1 && r.carriedFiles == 1)
    assert(Snapshot.versions(sqlPath) == Seq(1L, 2L))
    val entriesOf = (p: String) => {
      val m = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$p/manifests/v000002")), "UTF-8")
      m.split("\n").filterNot(_.startsWith("#")).length
    }
    assert(entriesOf(sqlPath) == entriesOf(scalaPath))
  }

  test("SQL UPDATE equals Snapshot.updateWhere (twin tables)") {
    import spark.implicits._
    val rows = (1L to 50L).map(i => (i, i * 10L, s"r$i"))
      .toDF("id", "score", "v")
    val sqlPath = s"$wh/db/updsql"
    val scalaPath = s"$wh/db/updapi"
    Snapshot.commitOverwrite(rows, sqlPath)
    Snapshot.commitOverwrite(rows, scalaPath)

    spark.sql(
      "UPDATE graft.db.updsql SET score = score + 5, v = upper(v) " +
        "WHERE id <= 7")
    Snapshot.updateWhere(spark, scalaPath, col("id") <= 7L,
      Map("score" -> (col("score") + lit(5L)),
        "v" -> upper(col("v"))))

    assert(fp(Snapshot.read(spark, sqlPath)) ==
      fp(Snapshot.read(spark, scalaPath)))
    assert(spark.sql(
      "SELECT v FROM graft.db.updsql WHERE id = 3").head.getString(0)
      == "R3")
    assert(Snapshot.versions(sqlPath) == Seq(1L, 2L))
  }

  test("SQL MERGE INTO equals Upsert.merge semantics on a keyed " +
      "fixture; Snapshot.mergeInto prunes untouched files") {
    import spark.implicits._
    val target = Seq((1L, "a", 1L), (2L, "b", 0L), (3L, "c", 1L))
      .toDF("k", "v", "p")
    val source = Seq((2L, "B", 0L), (4L, "D", 0L)).toDF("k", "v", "p")
    val path = s"$wh/db/mrg"
    Snapshot.commitOverwrite(target, path)
    source.createOrReplaceTempView("mrg_src")

    spark.sql(
      """MERGE INTO graft.db.mrg t USING mrg_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

    // Upsert.merge (the lake-layer keyed merge) on an equivalent
    // partitioned fixture — same SCD-1 contract, same result rows
    val lake = s"${Files.createTempDirectory("mrglake")}/t"
    target.write.partitionBy("p").parquet(lake)
    Upsert.merge(spark, lake, source, Seq("k"), "p")

    val got = spark.sql("SELECT k, v, p FROM graft.db.mrg")
    assert(fp(got) == fp(spark.read.parquet(lake).select("k", "v", "p")))
    assert(got.count() == 4)
    assert(got.filter(col("k") === 2L).head.getString(1) == "B")
    assert(got.filter(col("k") === 4L).head.getString(1) == "D")

    // pruning witness: two range-disjoint files (odd keys 1-49 and
    // 51-99); the source's key bounds [5, 6] touch only the first, so
    // min/max stats pruning must carry the second untouched
    val path2 = s"$wh/db/mrg2"
    Snapshot.commitOverwrite(
      (1L to 99L by 2).map(i => (i, s"r$i")).toDF("k", "v")
        .repartitionByRange(2, col("k")), path2)
    val r = Snapshot.mergeInto(spark, path2,
      Seq((5L, "X"), (6L, "NEW")).toDF("k", "v"), Seq("k"))
    assert(r.rewrittenFiles == 1 && r.carriedFiles == 1,
      s"expected min/max key pruning to carry the untouched file, got $r")
    assert(r.updated == 1 && r.inserted == 1)
    val t2 = Snapshot.read(spark, path2)
    assert(t2.count() == 51)
    assert(t2.filter(col("k") === 5L).head.getString(1) == "X")
    assert(t2.filter(col("k") === 6L).head.getString(1) == "NEW")
  }

  test("non-keyed or partial merges are refused loudly") {
    import spark.implicits._
    val path = s"$wh/db/mrgbad"
    Snapshot.commitOverwrite(Seq((1L, "a")).toDF("k", "v"), path)
    Seq((1L, "A")).toDF("k", "v").createOrReplaceTempView("mrgbad_src")
    val e = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.db.mrgbad t USING mrgbad_src s ON t.k < s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e.getMessage.contains("equi-condition"),
      s"wanted the equi-key contract error, got: ${e.getMessage}")
    val e2 = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.db.mrgbad t USING mrgbad_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = 'fixed'""".stripMargin)
    }
    assert(e2.getMessage.contains("full-row") ||
      e2.getMessage.contains("INSERT"),
      s"wanted the full-row contract error, got: ${e2.getMessage}")
  }

  test("catalog surface: listTables, dropTable, rename, time-travel " +
      "version must exist") {
    import spark.implicits._
    Snapshot.commitOverwrite(Seq((1L, "a")).toDF("id", "v"), s"$wh/db/lt1")
    val names = spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).toSet
    assert(names.contains("lt1"))
    // RENAME TO names the new table WITHIN the catalog (SQL rule)
    spark.sql("ALTER TABLE graft.db.lt1 RENAME TO db.lt2")
    assert(Snapshot.versions(s"$wh/db/lt2") == Seq(1L))
    spark.sql("DROP TABLE graft.db.lt2")
    assert(Snapshot.versions(s"$wh/db/lt2").isEmpty)
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.tt VERSION AS OF 99").collect()
    }
  }

  test("ETL landing published through the catalog: SQL query + " +
      "streaming tail equal the dedup view (EtlDemo's front-door path)") {
    import spark.implicits._
    val root = Files.createTempDirectory("etlsql")
    val chain = root.resolve("chain")
    ChainFixture.write(chain)
    val cfg = EtlJob.Config(
      chainDir = chain.toString,
      sinkDir = root.resolve("sink").toString,
      cursorDir = root.resolve("cursor").toString)
    assert(EtlJob.runCycle(spark, cfg).ran)
    val dedup = EtlJob.dedupView(spark, s"${cfg.sinkDir}/marketplace",
      Schemas.marketplaceKey)
    dedup.createOrReplaceTempView("etlsql_dedup")
    spark.sql(
      "CREATE TABLE graft.db.etlmkt AS SELECT * FROM etlsql_dedup")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.etlmkt")
      .head.getLong(0) == dedup.count())
    assert(fp(spark.sql("SELECT * FROM graft.db.etlmkt")
        .select(dedup.columns.map(col).toIndexedSeq: _*)) ==
      fp(dedup.select(dedup.columns.map(col).toIndexedSeq: _*)))
    // streaming tail over the published snapshot history
    val q = spark.readStream.format("graft-snapshot")
      .option("startingVersion", 0).load(s"$wh/db/etlmkt")
      .writeStream.format("parquet")
      .option("path", root.resolve("tail").toString)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.read.parquet(root.resolve("tail").toString).count() ==
      dedup.count())
  }

  test("reads work WITHOUT the extensions (V1Scan fallback)") {
    import spark.implicits._
    val plain = graft.SparkTestSession.spark
    SparkSession.setActiveSession(plain)
    try {
      plain.conf.set("spark.sql.catalog.gcat", classOf[GraftCatalog].getName)
      plain.conf.set("spark.sql.catalog.gcat.warehouse", wh)
      val path = s"$wh/db/fb"
      Snapshot.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
        path)
      val got = plain.sql("SELECT * FROM gcat.db.fb ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == Seq((1L, "a"), (2L, "b")))
      assert(plain.sql("SELECT id FROM gcat.db.fb VERSION AS OF 1")
        .count() == 2)
    } finally SparkSession.setActiveSession(spark)
  }
}
