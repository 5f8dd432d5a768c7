package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one closed-loop client driving one workload in
  * this JVM, with the engine at local[cores].
  *
  *   perfbench.Harness <workload> <work_dir> <sf_or_chain_dir> <seed> <seconds> <trace 0|1> <out.json>
  *
  * Writes one JSON object to `out.json`: attempted/failed ops, the
  * failures, the metrics (end-to-end with trace 0, per-layer with
  * trace 1), long-named aliases and the run environment. run.py turns
  * it into the benchmark's result line.
  */
object Harness {
  /** Engine task slots: half the 4-core host, so the driver, JIT and GC
    * threads have cores of their own.
    */
  val Cores = 2
  /** Session set-ups per run; `setup_s` is their median. */
  val SetUps = 9

  final case class Args(
      workload: String, work: Path, input: String, seed: Long,
      seconds: Double, trace: Boolean, out: Path)

  /** Shared run state: metrics, failures and the op counter. */
  final class Run(val args: Args) {
    val metrics = mutable.LinkedHashMap[String, Double]()
    val info = mutable.LinkedHashMap[String, Double]()
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    def fail(what: String): Unit = { failures += what; log(s"FAIL $what") }
    private val t0 = System.nanoTime()
    /** Progress line on stderr, stamped with seconds since the run started. */
    def log(msg: String): Unit =
      System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")
  }

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session set-up, repeated `times` times (stopping all but the last
    * session); returns the kept session and the median set-up seconds.
    */
  def setUp(work: Path, cores: Int, times: Int)(touch: SparkSession => Unit): (SparkSession, Double) = {
    val secs = (1 to times).map { i =>
      val t0 = System.nanoTime()
      val s = session(work, cores)
      touch(s)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < times) s.stop()
      dt
    }
    System.err.println(secs.map(t => f"$t%.3f").mkString("[perfbench] set-ups: ", " ", " s"))
    (SparkSession.active, Stats.median(secs))
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length == 7, "usage: Harness <workload> <work> <input> <seed> <seconds> <trace> <out>")
    val args = Args(argv(0), Paths.get(argv(1)).toAbsolutePath, argv(2), argv(3).toLong,
      argv(4).toDouble, argv(5) == "1", Paths.get(argv(6)).toAbsolutePath)
    val run = new Run(args)
    val env = mutable.LinkedHashMap[String, String](
      "workload" -> args.workload,
      "master" -> s"local[$Cores]",
      "jvm_processors" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "java" -> System.getProperty("java.version"))
    val tracer = new Tracer(s"${args.workload}-${args.seed}", args.trace)
    args.workload match {
      case "etl_catchup" => Etl.run(run, tracer, env)
      case "board" => Boards.run(run, tracer, env)
      case "survey" => Boards.run(run, tracer, env, survey = true)
      case w => sys.error(s"unknown workload $w")
    }
    tracer.writeSpans(args.work.getParent.resolve(s"spans-${args.workload}-${args.seed}.jsonl"))
    Files.write(args.out, Json.result(run, env).getBytes(StandardCharsets.UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(run: Harness.Run, env: collection.Map[String, String]): String = obj(Seq(
    "attempted" -> run.attempted.toString,
    "failed" -> run.failed.toString,
    "failures" -> run.failures.map(str).mkString("[", ", ", "]"),
    "metrics" -> obj(run.metrics.map { case (k, v) => k -> num(v) }),
    "info" -> obj(run.info.map { case (k, v) => k -> num(v) }),
    "env" -> obj(env.map { case (k, v) => k -> str(v) })))
}
