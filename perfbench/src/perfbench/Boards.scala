package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Memos
import graft.queries._

/** The query board: one registry query per relational module and one
  * heavy operator query, each the query nearest its module's (or the
  * heavy set's) median warm time in perfbench/survey.py's traced survey
  * of the whole registry at sf0.01. Each query runs through its registry
  * `fn` and executes into the noop sink (Bench's protocol); an observed,
  * order-insensitive digest of its rows rides on the same execution and
  * must not change between passes. Untimed warm-up passes run first; the
  * first writes each oracle-declared result as parquet for run.py's
  * DuckDB comparison.
  */
object Boards {
  final case class Entry(group: String, q: GQuery)

  val relationalModules: Seq[(String, Seq[GQuery])] = Seq(
    "Scans" -> Scans.queries, "Aggregates" -> Aggregates.queries,
    "Joins" -> Joins.queries, "Windows" -> Windows.queries,
    "SetOps" -> SetOps.queries, "Scalars" -> Scalars.queries,
    "Reshape" -> Reshape.queries, "Sql" -> Sql.queries)

  /** The heavy operator query nearest the heavy set's median time
    * (survey, seeds 1 and 2): hybrid BM25/ANN rank fusion.
    */
  val heavyIds: Seq[String] = Seq("xs8")

  /** The heavy operator queries the survey measures. */
  val surveyHeavyIds: Seq[String] = Seq("xd10", "xd1b", "xd5", "xd6", "xd7", "qx2", "xs7",
    "xs7b", "xs8", "xs2", "xs4", "xt16", "xp2", "xr8")

  def shortId(q: GQuery): String = q.name.takeWhile(_ != '_')

  /** Per module, the query nearest the module's median time (survey,
    * seeds 1 and 2).
    */
  val relationalPicks: Seq[String] = Seq("xv1_table_checksum", "xi1_incremental_agg",
    "q07_join_topk", "q16c_interval_range", "q19_union_all", "q25_conditional", "q36_pivot",
    "q57_sql_tpch22")

  def relational: Seq[Entry] = relationalModules.zip(relationalPicks).map { case ((m, qs), name) =>
    Entry(m, qs.find(_.name == name).getOrElse(sys.error(s"no $m query $name")))
  }

  def heavy(ids: Seq[String]): Seq[Entry] = {
    val byId = Registry.all.map(q => shortId(q) -> q).toMap
    ids.map(id => Entry(id, byId.getOrElse(id, sys.error(s"no registry query $id"))))
  }

  /** Untimed warm-up passes, then timed passes per untraced run. */
  val WarmPasses = 5
  val Passes = 7

  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Digest aggregates: row count, xor and a high-bits sum of the row hashes. */
  private def digestCols(df: DataFrame) = {
    val h = xxhash64(df.columns.toIndexedSeq.map(c => df.col("`" + c + "`")): _*)
    Seq(count(lit(1)).as("n"), bit_xor(h).as("x"), sum(shiftrightunsigned(h, 40)).as("s"))
  }

  /** Execute one query; returns (seconds, digest). `sink` consumes the
    * frame. The `query.build` span covers building the frame: its eager
    * analysis and any driver actions the query runs before its result.
    */
  private def execute(spark: SparkSession, q: GQuery, dir: String, tracer: Tracer)(
      sink: DataFrame => Unit): (Double, String) = {
    val obs = Observation()
    val t0 = System.nanoTime()
    val df = tracer("query.build")(q.fn(spark, dir))
    val digest = digestCols(df)
    sink(df.observe(obs, digest.head, digest.tail: _*))
    val secs = (System.nanoTime() - t0) / 1e9
    val row = obs.get
    (secs, Seq("n", "x", "s").map(k => String.valueOf(row.getOrElse(k, null))).mkString(":"))
  }

  /** Untimed cleanup after every query, as Bench does between runs: result
    * memos, cached frames, and a GC when residue is large (the
    * ContextCleaner frees blocks on GC).
    */
  private def cleanUp(spark: SparkSession): Unit = {
    Memos.clearAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    if (Jvm.blockStoreMb(spark.sparkContext) > 256) System.gc()
  }

  /** With `survey`, every relational registry query and the 14 heavy
    * ones run traced (one warm-up pass, two timed passes) and each
    * query's layer mix is written to `survey-<seed>.tsv` beside the work
    * directory; perfbench/survey.py chooses the board from that file.
    */
  def run(run: Harness.Run, tracer: Tracer, env: mutable.Map[String, String],
      survey: Boolean = false): Unit = {
    val args = run.args
    val dir = args.input
    val rel = if (survey) relationalModules.flatMap { case (m, qs) => qs.map(q => Entry(m, q)) }
      else relational
    val heavyEntries = heavy(if (survey) surveyHeavyIds else heavyIds)
    val board = rel ++ heavyEntries
    env("scale_dir") = new java.io.File(dir).getName
    env("queries") = board.size.toString
    val (spark, setupS) = Harness.setUp(args.work, Harness.Cores, Harness.SetUps) { s =>
      tables.foreach(t => Ctx(s, dir).table(t))
    }
    tracer.attach(spark)
    run.log(f"set-up median $setupS%.2fs")

    val digests = mutable.Map[String, String]()
    val failedQueries = mutable.LinkedHashSet[String]()
    def record(e: Entry, pass: Int, digest: String): Unit =
      digests.get(e.q.name) match {
        case None => digests(e.q.name) = digest
        case Some(d) if d != digest =>
          failedQueries += e.q.name
          run.fail(s"${e.q.name}: digest changed in pass $pass ($d -> $digest)")
        case _ =>
      }
    def guarded(e: Entry, pass: Int, sampleLive: Boolean = false)(
        body: => (Double, String)): Option[Double] =
      try {
        val (secs, digest) = body
        record(e, pass, digest)
        run.log(f"pass $pass ${e.q.name} $secs%.3fs")
        Some(secs)
      } catch {
        case t: Throwable =>
          failedQueries += e.q.name
          run.fail(s"${e.q.name}: threw in pass $pass: ${t.toString.linesIterator.next()}")
          None
      } finally {
        if (sampleLive) run.log(f"live heap after ${e.q.name}: ${Jvm.sampleLiveHeap()}%.1f MB")
        cleanUp(spark)
      }

    val off = new Tracer("warm", false)
    // Warm-up pass (untimed): JIT and codegen warm, oracle results written.
    val resultsDir = args.work.resolve("results")
    val oracles = mutable.LinkedHashMap[String, String]()
    board.foreach { e =>
      guarded(e, 0) {
        e.q.oracle.filterNot(_ => survey) match {
          case Some(sql) =>
            oracles(e.q.name) = sql
            execute(spark, e.q, dir, off)(_.coalesce(1).write.mode("overwrite")
              .parquet(resultsDir.resolve(e.q.name).toString))
          case None =>
            execute(spark, e.q, dir, off)(_.write.format("noop").mode("overwrite").save())
        }
      }
    }
    Files.write(args.work.resolve("oracle_sql.json"),
      Json.obj(oracles.map { case (k, v) => k -> Json.str(v) }).getBytes(StandardCharsets.UTF_8))

    // More untimed passes: after one, the JIT is still far from steady.
    // The last one samples the live heap after each query, with the
    // query's memos and persisted data still held.
    val warmPasses = if (survey) 1 else WarmPasses
    (2 to warmPasses).foreach { p =>
      board.foreach(e => guarded(e, 0, sampleLive = p == warmPasses)(execute(spark, e.q, dir, off)(
        _.write.format("noop").mode("overwrite").save())))
    }
    run.log(f"warm-up passes done, JIT settled in ${Jvm.jitSettle()}%.2fs")
    // Timed passes, each in a seed-shuffled order: a fixed number, or one
    // when traced, so every run does the same work.
    val samples = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val (gc0, jit0, cg0) = (Jvm.gcMs, Jvm.jitMs, Jvm.codegenCompiles)
    var residueMb = 0.0
    val t0 = System.nanoTime()
    val passes = if (survey) 2 else if (args.trace) 1 else Passes
    (1 to passes).foreach { pass =>
      val order = new scala.util.Random(args.seed * 1000 + pass).shuffle(board)
      tracer("pass") {
        order.foreach { e =>
          guarded(e, pass) {
            tracer(s"query.${e.q.name}") {
              val cg = Jvm.codegenCompiles
              val r = execute(spark, e.q, dir, tracer)(_.write.format("noop").mode("overwrite").save())
              tracer.count(s"codegen.${e.q.name}", Jvm.codegenCompiles - cg)
              residueMb = math.max(residueMb, Jvm.blockStoreMb(spark.sparkContext))
              r
            }
          }.foreach(s => samples.getOrElseUpdate(e.q.name, mutable.ArrayBuffer()) += s)
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    run.log(f"$passes timed pass(es) in $wall%.2fs")
    run.attempted = board.size
    run.failed = failedQueries.size

    val perQuery = board.map(e => e -> Stats.median(samples.getOrElse(e.q.name, Nil).toSeq))
    val pooled = samples.values.flatten.toSeq
    val boardS = perQuery.map(_._2).sum
    def part(entries: Seq[Entry]) = {
      val names = entries.map(_.q.name).toSet
      (perQuery.filter(p => names(p._1.q.name)).map(_._2).sum,
        samples.filter(p => names(p._1)).values.flatten.toSeq)
    }
    val (relS, relSamples) = part(rel)
    val (llmS, llmSamples) = part(heavyEntries)
    run.info ++= Seq(
      "setup_s" -> setupS, "rss_peak_mb" -> Jvm.rssPeakMb,
      "heap_live_peak_mb" -> Jvm.heapLivePeakMb,
      "board_s" -> boardS, "query_p50_s" -> Stats.median(pooled),
      "rel_board_s" -> relS, "rel_query_p50_s" -> Stats.median(relSamples),
      "rel_query_p90_s" -> Stats.quantile(relSamples, 0.9),
      "llm_board_s" -> llmS, "llm_query_p50_s" -> Stats.median(llmSamples),
      "samples" -> pooled.size.toDouble, "passes" -> passes.toDouble,
      "ops_failed_ratio" -> run.failed.toDouble / run.attempted)

    if (survey) {
      tracer.drain()
      writeSurvey(tracer, perQuery, heavyEntries.toSet,
        args.work.getParent.resolve(s"survey-${args.seed}.tsv"))
    } else if (!args.trace) {
      run.metrics ++= Seq(
        "setup_s" -> setupS,
        "heap_live_peak_mb" -> Jvm.heapLivePeakMb,
        "op_p50_s" -> Stats.median(pooled),
        "work_per_s" -> board.size / boardS)
    } else {
      tracer.drain()
      val passSpan = tracer.named("pass").head
      run.metrics("trace.op_p50_s") = Stats.median(pooled)
      perQuery.foreach { case (e, s) =>
        run.metrics(if (heavyIds.contains(e.group)) s"llm.${e.group}_s" else s"rel.${e.group}_s") = s
      }
      Layers.spark(run, tracer, Seq(passSpan), wall)
      Layers.planning(run, tracer, Seq(passSpan), Jvm.codegenCompileS(Jvm.codegenCompiles - cg0))
      Layers.jvm(run, Jvm.gcMs - gc0, Jvm.jitMs - jit0, residueMb)
    }
  }

  /** One line per query: its module (or "heavy"), name, median wall
    * seconds, and the medians over its timed executions of frame build
    * seconds (the `query.build` span), planning seconds of the executions
    * the listener saw (analysis + optimization + physical planning),
    * estimated codegen compile seconds, executor run
    * seconds, slot utilization (executor run / (wall x cores)), jobs,
    * tasks and shuffle bytes (read + written).
    */
  private def writeSurvey(tracer: Tracer, perQuery: Seq[(Entry, Double)], heavySet: Set[Entry],
      path: java.nio.file.Path): Unit = {
    val lines = perQuery.map { case (e, secs) =>
      val spans = tracer.named(s"query.${e.q.name}")
      def med(f: Span => Double) = Stats.median(spans.map(f))
      def work(s: Span) = tracer.workUnder(s)
      val planS = med(s => tracer.plansUnder(Seq(s))
        .map(p => p.analysisMs + p.optimizationMs + p.planningMs).sum / 1e3)
      val runS = med(work(_).runMs / 1e3)
      val buildS = med(s => tracer.children(s).filter(_.name == "query.build").map(_.ns).sum / 1e9)
      val codegenS = Jvm.codegenCompileS(Stats.median(
        tracer.counts(s"codegen.${e.q.name}").map(_.toDouble)).round)
      Seq(if (heavySet(e)) "heavy" else e.group, e.q.name, f"$secs%.4f", f"$buildS%.4f", f"$planS%.4f",
        f"$codegenS%.4f", f"$runS%.4f",
        f"${med(s => work(s).runMs / 1e3 / (s.ns / 1e9 * Harness.Cores))}%.4f",
        f"${med(work(_).jobs.toDouble)}%.0f", f"${med(work(_).tasks.toDouble)}%.0f",
        f"${med(s => (work(s).shuffleRead + work(s).shuffleWrite).toDouble)}%.0f").mkString("\t")
    }
    val header = "group\tquery\tsecs\tbuild_s\tplan_s\tcodegen_s\texec_run_s\tslot_util\tjobs\ttasks\tshuffle_bytes"
    Files.write(path, (header +: lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
