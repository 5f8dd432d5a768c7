package graft
import java.nio.file.{Files, Paths}
import graft.queries.Registry
/** Driver-run correctness dump: each registry query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Env:
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_CONF (`Graft.localSession`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional third arg: comma-separated focus list for local
    // iteration — full names or the short ids Bench reports (q44, xv1)
    val selected = Registry.select(args.drop(2).headOption)
    // result files keep Spark's INT96 timestamps: DuckDB reads them as
    // TIMESTAMP, as the oracles' CAST(ts AS TIMESTAMP) gives, but reads
    // the builder's TIMESTAMP_MICROS (UTC-adjusted) as TIMESTAMPTZ
    val spark = Graft.localSession(
      "spark.sql.parquet.outputTimestampType" -> "INT96")
    new java.io.File(outDir).mkdirs()
    selected.foreach { q =>
      try q.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      // queries persist() multi-consumer subplans; release between
      // queries so a 65-query run doesn't accumulate cache entries;
      // reap's localCheckpoint blocks are RDD-level (not in the
      // catalog cache) — drop them too
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
