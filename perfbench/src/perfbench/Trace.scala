package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call into one program layer. `parent` is the enclosing
  * span's id (-1 at the top); all spans of one benchmark run share
  * the tracer's run id.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long) {
  var endNs: Long = startNs
  def ns: Long = endNs - startNs
}

/** Spark work attributed to one span: the jobs its actions started,
  * their stages and tasks, and the task metrics those tasks reported.
  */
final class SparkWork {
  var jobs, stages, tasks = 0L
  var inputBytes, inputRecords, shuffleRead, shuffleWrite, spill = 0L
  var runMs, cpuNs = 0L
  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; runMs += o.runMs; cpuNs += o.cpuNs
  }
}

/** One finished query execution, as the QueryExecutionListener saw it;
  * `qeId` is the QueryExecution's id, resolved to a span after a drain.
  */
final case class PlanEvent(
    qeId: Long, durationNs: Long,
    analysisMs: Long, optimizationMs: Long, planningMs: Long,
    isWrite: Boolean, writeFiles: Long, writeBytes: Long, scanFiles: Long)

/** In-memory span recorder plus the two Spark listeners that attribute
  * engine work to spans. Spans open and close on the driver thread; the
  * innermost open span id rides on every job as a local property, so
  * task metrics and query executions land on the span that caused them.
  * Nothing is written until [[writeSpans]] at the end of the run. With
  * `on = false` every call is a plain pass-through and no listener is
  * registered.
  */
final class Tracer(val runId: String, val on: Boolean) {
  import Tracer.Prop

  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private var sc: SparkContext = _
  private val work = new ConcurrentHashMap[Int, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val qeExec = new ConcurrentHashMap[Long, Long]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanEvent]()
  private val counters = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Long]]()

  /** Record a count measured at a span boundary (rows, bytes, ...). */
  def count(name: String, v: Long): Unit =
    if (on) counters.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def counts(name: String): Seq[Long] = counters.get(name).map(_.toSeq).getOrElse(Nil)

  private def workOf(span: Int): SparkWork =
    work.computeIfAbsent(span, _ => new SparkWork)

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(stageSpan.put(_, span))
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execSpan.putIfAbsent(id.toLong, span))
      workOf(span).synchronized(workOf(span).jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val w = workOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
      w.synchronized(w.stages += 1)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.PerfbenchSql.queryExecutionId(end).foreach(qeExec.put(_, end.executionId))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val w = workOf(stageSpan.getOrDefault(e.stageId, -1))
      Option(e.taskMetrics).foreach { m =>
        w.synchronized {
          w.tasks += 1
          w.inputBytes += m.inputMetrics.bytesRead
          w.inputRecords += m.inputMetrics.recordsRead
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.diskBytesSpilled + m.memoryBytesSpilled
          w.runMs += m.executorRunTime
          w.cpuNs += m.executorCpuTime
        }
      }
    }
  }

  private object Plans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val plan = qe.executedPlan
      val writes = collectWithSubqueries(plan) {
        case w: DataWritingCommandExec => w.cmd.metrics
      }
      def wsum(k: String) = writes.flatMap(_.get(k)).map(_.value).sum
      val scanFiles = collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      plans.add(PlanEvent(qe.id, durationNs,
        ms("analysis"), ms("optimization"), ms("planning"),
        writes.nonEmpty, wsum("numFiles"), wsum("numOutputBytes"), scanFiles))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Attach to a fresh session's context (a no-op when tracing is off). */
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
  }

  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, System.nanoTime())
      spans += s
      open = s :: open
      if (sc != null) sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        if (sc != null) sc.setLocalProperty(Prop, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait for every queued listener event; call before reading counters. */
  def drain(): Unit = if (on && sc != null) PerfbenchBus.drain(sc)

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  /** Span time minus the part of it covered by its child spans. */
  def selfNs(s: Span): Long = s.ns - children(s).map(_.ns).sum
  def descendants(s: Span): Seq[Span] =
    children(s).flatMap(c => c +: descendants(c))

  /** Spark work of a span and everything beneath it. */
  def workUnder(s: Span): SparkWork = {
    val total = new SparkWork
    (s +: descendants(s)).foreach(d => Option(work.get(d.id)).foreach(total.add))
    total
  }
  /** Query executions of these spans and their descendants (after a drain). */
  def plansUnder(roots: Seq[Span]): Seq[PlanEvent] = {
    val ids = roots.flatMap(s => s +: descendants(s)).map(_.id).toSet
    plans.asScala.filter { p =>
      Option(qeExec.get(p.qeId)).exists(x => ids.contains(execSpan.getOrDefault(x, -1)))
    }.toSeq
  }
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def writeSpans(path: java.nio.file.Path): Unit = if (on) {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      f"""{"run": "$runId", "id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        f""""start_s": ${(s.startNs - t0) / 1e9}%.6f, "end_s": ${(s.endNs - t0) / 1e9}%.6f, """ +
        f""""self_s": ${selfNs(s) / 1e9}%.6f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** JVM-wide probes read around a measured window. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jitBean = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
  private val codeHeaps = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap"))

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process (all threads) so far, in ns. */
  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
  def jitMs: Long = jitBean.map(_.getTotalCompilationTime).getOrElse(0L)
  def codeCacheMb: Double =
    codeHeaps.map(p => Option(p.getUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
  def blockStoreMb(sc: SparkContext): Double =
    sc.statusTracker.getExecutorInfos
      .map(e => e.usedOnHeapStorageMemory + e.usedOffHeapStorageMemory).sum / 1048576.0

  private def compileHist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  /** Generated-code compilations so far. */
  def codegenCompiles: Long = compileHist.getCount
  /** Estimated compile seconds of `n` compilations: n x the histogram's
    * (recency-weighted) mean compile time.
    */
  def codegenCompileS(n: Long): Double = n * compileHist.getSnapshot.getMean / 1000.0

  /** Wait (at most `maxMs`) until the JIT compiler queue goes quiet, so
    * compilations triggered by a warm-up do not compete with measured
    * work. Returns the seconds waited.
    */
  def jitSettle(maxMs: Int = 5000): Double = {
    val t0 = System.nanoTime()
    var last = jitMs
    Thread.sleep(250)
    while ((System.nanoTime() - t0) / 1e6 < maxMs && jitMs - last > 50) {
      last = jitMs
      Thread.sleep(250)
    }
    (System.nanoTime() - t0) / 1e9
  }

  @volatile private var liveMaxBytes = 0L
  /** Force full collections and record the heap still in use, the
    * program's live data at this point; returns it in MB. Call only
    * outside timed work.
    */
  def sampleLiveHeap(): Double = {
    // The second collection catches what Spark's ContextCleaner released
    // in reaction to the first.
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    liveMaxBytes = math.max(liveMaxBytes, used)
    used / 1048576.0
  }
  /** Largest live heap [[sampleLiveHeap]] saw, in MB. */
  def heapLivePeakMb: Double = liveMaxBytes / 1048576.0

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Per-layer metrics shared by every workload's traced run. */
object Layers {
  def spark(run: Harness.Run, tracer: Tracer, spans: Seq[Span], wallS: Double): Unit = {
    val w = new SparkWork
    spans.foreach(s => w.add(tracer.workUnder(s)))
    run.metrics ++= Seq(
      "spark.jobs" -> w.jobs.toDouble, "spark.stages" -> w.stages.toDouble,
      "spark.tasks" -> w.tasks.toDouble, "spark.input_bytes" -> w.inputBytes.toDouble,
      "spark.shuffle_read_bytes" -> w.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> w.shuffleWrite.toDouble,
      "spark.spill_bytes" -> w.spill.toDouble,
      "spark.executor_run_s" -> w.runMs / 1e3,
      "spark.executor_cpu_s" -> w.cpuNs / 1e9,
      "spark.slot_utilization" -> w.runMs / 1e3 / (wallS * Harness.Cores))
  }

  def planning(run: Harness.Run, tracer: Tracer, spans: Seq[Span], codegenS: Double): Unit = {
    val ps = tracer.plansUnder(spans)
    run.metrics ++= Seq(
      "plan.analysis_s" -> ps.map(_.analysisMs).sum / 1e3,
      "plan.optimization_s" -> ps.map(_.optimizationMs).sum / 1e3,
      "plan.planning_s" -> ps.map(_.planningMs).sum / 1e3,
      "codegen.compile_s" -> codegenS)
  }

  def jvm(run: Harness.Run, gcMs: Long, jitMs: Long, residueMb: Double): Unit =
    run.metrics ++= Seq(
      "jvm.gc_s" -> gcMs / 1e3, "jvm.jit_s" -> jitMs / 1e3,
      "jvm.codecache_mb" -> Jvm.codeCacheMb, "blockstore.residue_mb" -> residueMb)
}
