package graft

import org.apache.spark.sql.SparkSession

/** Library front door — the one call a user adds to an existing Spark
  * application to get the whole graft surface:
  *
  * {{{
  * val spark = SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  *   .getOrCreate()
  * graft.Graft.init(spark)                    // SQL functions
  * spark.sql("SELECT tokenize(text) FROM docs")
  * graft.queries.Registry.byName("xt14_vocab_drift").fn(spark, dir)
  * }}}
  *
  * `init` registers every custom SQL function (idempotent, per
  * session): the codegen'd text kernels (`tokenize`, `term_counts`,
  * `bigram_counts`, `shingle_hash`), the vector kernels (`vec_dot`,
  * `vec_dot_i8`), the sorted-set kernel (`sorted_intersect_count`),
  * the hash helpers (`md5_60`), and the SimHash vote kernels
  * (`simhash_sig`, `simhash_md5_sig`). The optimizer rules
  * (RewriteDotProduct) install via the standard
  * `spark.sql.extensions` mechanism, which must be set BEFORE the
  * session is built — init cannot retrofit them, so it warns-by-doc
  * rather than silently half-installing.
  *
  * `localSession` is the one session builder of every main and the
  * test session.
  *
  * Everything else is plain API: `queries.Registry` (the full
  * declared query surface — DocSyncSpec pins the count), `etl.*`
  * (the pipeline layer and the Snapshot lake), `operators.*`
  * (TableCheck/TableDiff/ZOrder/BloomPrune/Salting and the
  * AnnIndex/Bm25Index/PqIndex serving layouts with their
  * IndexManifest atomic publish), `streaming.StreamingOps` (the
  * stateful streaming family).
  */
object Graft {

  /** Register all graft SQL functions on `spark`. Idempotent. */
  def init(spark: SparkSession): Unit = {
    functions.TextOps.register(spark)
    functions.VectorOps.register(spark)
    functions.ArrayOps.register(spark)
    functions.Md5Hash60.register(spark)
    functions.SimHashSig.register(spark)
    functions.SimHashMd5Sig.register(spark)
  }

  /** The local session of every main and the test session: `local[n]`
    * and n shuffle partitions (n = SPARK_GRAFT_CPUS, else the available
    * processors), UTC, no UI, `GraftExtensions`, and three confs the
    * engine would otherwise set mid-session (`Ctx.events`' nanosAsLong,
    * `Snapshot`'s field-id reads and TIMESTAMP_MICROS writes), so no
    * query changes them. Then `conf` (master, warehouse, catalog paths)
    * and SPARK_GRAFT_CONF=k=v[,k=v], at build time so static confs work.
    */
  def localSession(conf: (String, String)*): SparkSession = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val env = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(","))
      .filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"bad SPARK_GRAFT_CONF entry: $kv")
        kv.take(i) -> kv.drop(i + 1)
      }
    val spark = (Seq(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.fieldId.read.enabled" -> "true",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    ) ++ conf ++ env).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
