package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Task totals accumulated from listener events. */
final case class Totals(
    taskMs: Long = 0, tasks: Long = 0, stages: Long = 0, jobs: Long = 0,
    exchanges: Long = 0, shuffleWriteB: Long = 0, shuffleReadB: Long = 0,
    spillB: Long = 0, outputB: Long = 0, inputB: Long = 0, inputRows: Long = 0,
    planMs: Long = 0) {
  def -(o: Totals): Totals = Totals(taskMs - o.taskMs, tasks - o.tasks,
    stages - o.stages, jobs - o.jobs, exchanges - o.exchanges,
    shuffleWriteB - o.shuffleWriteB, shuffleReadB - o.shuffleReadB,
    spillB - o.spillB, outputB - o.outputB, inputB - o.inputB,
    inputRows - o.inputRows, planMs - o.planMs)
}

/** One checkpoint write seen by the query-execution listener: the
  * pipeline stage it belongs to is the output directory's name (the full
  * output path until the unit ends). */
final case class WriteEvent(execId: Long, path: String, startMs: Long,
    seconds: Double, rowsOut: Long, taskMs: Long = 0, inRows: Long = 0, inBytes: Long = 0)

/** Everything measured about one timed unit (a pipeline run, a query). */
final case class UnitStats(name: String, wallS: Double, totals: Totals,
    peakExecB: Long, stageUnionS: Double, writes: Seq[WriteEvent],
    gcS: Double, jitS: Double) {
  def gapS: Double = math.max(0.0, wallS - stageUnionS)
}

final case class Span(id: Long, parent: Long, name: String, startMs: Long,
    endMs: Long, attrs: Map[String, Any])

/** Listener-side instrumentation. Totals are always collected (they are
  * cheap aggregates); spans and per-execution attribution are kept only
  * when `traced` is set, in memory, and written out at the end. */
final class Probe(spark: SparkSession, runId: String) {
  private val sc = spark.sparkContext
  /** Whether spans and per-execution numbers are being recorded; switched
    * between iterations, never inside one. */
  @volatile var traced: Boolean = false

  private val taskMs, tasks, stages, jobs, exchanges = new LongAdder
  private val shufW, shufR, spill, outB, inB, inRows, planMs = new LongAdder
  private val peakExec = new AtomicLong
  private val stageWindows = new ConcurrentLinkedQueue[(Long, Long)]
  private val writes = new ConcurrentLinkedQueue[WriteEvent]
  private val execStartMs = TrieMap.empty[Long, Long]
  // plan text of SQL executions that write files, until a write claims them
  private val writePlans = TrieMap.empty[Long, String]

  // traced-only state
  private val spans = new ConcurrentLinkedQueue[Span]
  private val nextSpan = new AtomicLong(1)
  @volatile private var current: Long = 0L
  private val stageExec = TrieMap.empty[Int, Long]
  private val stageJob = TrieMap.empty[Int, Long]
  private val jobOpen = TrieMap.empty[Int, (Long, Long, Long, Long)] // jobId -> (spanId, parent, start, exec)
  // per SQL execution: task ms, input rows, input bytes
  private val execAgg = TrieMap.empty[Long, Array[LongAdder]]

  private def execOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
      .orElse(Option(p.getProperty("spark.sql.execution.id"))))
      .map(_.toLong).getOrElse(-1L)

  sc.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        taskMs.add(m.executorRunTime); tasks.increment()
        shufW.add(m.shuffleWriteMetrics.bytesWritten)
        shufR.add(m.shuffleReadMetrics.totalBytesRead)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        outB.add(m.outputMetrics.bytesWritten)
        inB.add(m.inputMetrics.bytesRead); inRows.add(m.inputMetrics.recordsRead)
        peakExec.accumulateAndGet(m.peakExecutionMemory, math.max)
        if (traced) stageExec.get(e.stageId).foreach { x =>
          val a = execAgg.getOrElseUpdate(x, Array.fill(3)(new LongAdder))
          a(0).add(m.executorRunTime); a(1).add(m.inputMetrics.recordsRead)
          a(2).add(m.inputMetrics.bytesRead)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stages.increment()
      if (Internals.isExchange(si)) exchanges.increment()
      for (s <- si.submissionTime; c <- si.completionTime) stageWindows.add((s, c))
      if (traced) {
        val m = si.taskMetrics
        spans.add(Span(nextSpan.getAndIncrement(), stageJob.getOrElse(si.stageId, current),
          s"spark.stage.${si.stageId}", si.submissionTime.getOrElse(0L),
          si.completionTime.getOrElse(0L),
          Map("tasks" -> si.numTasks, "task_ms" -> m.executorRunTime,
            "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
            "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
            "peak_exec_b" -> m.peakExecutionMemory,
            "exchange" -> Internals.isExchange(si),
            "call_site" -> si.name.takeWhile(_ != '\n').take(80))))
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.increment()
      if (traced) {
        val exec = execOf(e.properties)
        val id = nextSpan.getAndIncrement()
        jobOpen.put(e.jobId, (id, current, e.time, exec))
        e.stageIds.foreach { s => stageExec.put(s, exec); stageJob.put(s, id) }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (traced) jobOpen.remove(e.jobId).foreach { case (id, parent, start, exec) =>
        spans.add(Span(id, parent, s"spark.job.${e.jobId}", start, e.time,
          Map("execution_id" -> exec, "ok" -> (e.jobResult == JobSucceeded))))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execStartMs.put(s.executionId, s.time)
        if (s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"))
          writePlans.put(s.executionId, s.physicalPlanDescription)
      case _ =>
    }
  })

  spark.listenerManager.register(new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
      // a write with exchanges runs under adaptive execution; the helper
      // looks inside it
      val cmds = collect(qe.executedPlan) { case d: DataWritingCommandExec => d.cmd }
      cmds.collectFirst { case i: InsertIntoHadoopFsRelationCommand => i }.foreach { i =>
        val rows = i.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
        val end = System.currentTimeMillis()
        writes.add(WriteEvent(-1L, i.outputPath.toString, end - durationNs / 1000000L,
          durationNs / 1e9, rows))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  def drain(): Unit = Internals.drain(sc)

  def totals(): Totals = Totals(taskMs.sum(), tasks.sum(), stages.sum(),
    jobs.sum(), exchanges.sum(), shufW.sum(), shufR.sum(), spill.sum(),
    outB.sum(), inB.sum(), inRows.sum(), planMs.sum())

  /** Opens a bench-side span; spans opened inside become its children. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextSpan.getAndIncrement()
      val parent = current
      val start = System.currentTimeMillis()
      current = id
      try body
      finally {
        current = parent
        spans.add(Span(id, parent, name, start, System.currentTimeMillis(), Map.empty))
      }
    }

  /** Times `body` as one unit and collects its task totals, checkpoint
    * writes, stage-active time and JVM deltas. */
  def unit[T](name: String)(body: => T): (T, UnitStats) = {
    drain()
    writes.clear(); stageWindows.clear(); peakExec.set(0L)
    val before = totals()
    val gc0 = Jvm.gcMs(); val jit0 = Jvm.jitMs()
    val startMs = System.currentTimeMillis()
    val t0 = Stats.now()
    val (r, unitSpan) = span(name)((body, current))
    val wall = Stats.secondsSince(t0)
    val gcS = (Jvm.gcMs() - gc0) / 1e3; val jitS = (Jvm.jitMs() - jit0) / 1e3
    val endMs = System.currentTimeMillis()
    drain()
    // a write's SQL execution is the latest one whose plan writes its path
    // (a later stage's plan also names it, as the location it reads)
    val ws = writes.asScala.toSeq.map { w =>
      val exec = writePlans.collect {
        case (id, plan) if plan.contains(s"Arguments: ${w.path},") ||
          plan.contains(s"InsertIntoHadoopFsRelationCommand ${w.path},") => id
      }.maxOption.getOrElse(-1L)
      writePlans.remove(exec)
      val attributed = w.copy(execId = exec, path = new org.apache.hadoop.fs.Path(w.path).getName,
        startMs = execStartMs.getOrElse(exec, w.startMs))
      execAgg.get(exec).fold(attributed)(a => attributed.copy(taskMs = a(0).sum(),
        inRows = a(1).sum(), inBytes = a(2).sum()))
    }.sortBy(_.startMs)
    if (traced) ws.foreach { w =>
      spans.add(Span(nextSpan.getAndIncrement(), unitSpan, s"plans.write.${w.path}",
        w.startMs, w.startMs + (w.seconds * 1000).toLong,
        Map("execution_id" -> w.execId, "rows_out" -> w.rowsOut, "task_ms" -> w.taskMs)))
    }
    (r, UnitStats(name, wall, totals() - before, peakExec.get(),
      unionSeconds(stageWindows.asScala.toSeq, startMs, endMs), ws, gcS, jitS))
  }

  private def unionSeconds(windows: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = windows.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  /** Writes the recorded spans as JSON lines. Job spans that ran inside
    * a checkpoint write are re-parented under that write's span. */
  def writeSpans(path: java.nio.file.Path): Int = {
    val all = spans.asScala.toSeq
    val writeSpanByExec = all.collect {
      case s if s.name.startsWith("plans.write.") && s.attrs("execution_id") != -1L =>
        s.attrs("execution_id").asInstanceOf[Long] -> s
    }.toMap
    val fixed = all.map {
      case s if s.name.startsWith("spark.job.") =>
        writeSpanByExec.get(s.attrs("execution_id").asInstanceOf[Long])
          .map(w => s.copy(parent = w.id)).getOrElse(s)
      case s => s
    }
    val w = java.nio.file.Files.newBufferedWriter(path)
    try fixed.sortBy(_.startMs).foreach { s =>
      w.write(Stats.json(Map("run_id" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs))
      w.newLine()
    } finally w.close()
    fixed.size
  }
}

/** JVM-wide readings for the noise stamp and the jvm.* metrics. */
object Jvm {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }
  def load1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** CPU time the host gave to other guests (Linux `steal`, summed over
    * CPUs), in seconds since boot; 0 where /proc/stat is absent. A run on
    * a shared host slows without any change of its own when this grows. */
  def stealS(): Double =
    try {
      val cpu = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      cpu.trim.split("\\s+")(8).toDouble / 100.0
    } catch { case scala.util.control.NonFatal(_) => 0.0 }

  /** Heap still in use after full collections, in MB. Spark's cleaner
    * frees blocks of collected RDDs and broadcasts only after a collection
    * finds them, so this collects until the reading stops moving. */
  def retainedHeapMb(): Double = {
    def collected(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = collected()
    var next = { Thread.sleep(150); collected() }
    var rounds = 0
    while (math.abs(next - last) > 0.5 && rounds < 6) {
      last = next; Thread.sleep(150); next = collected(); rounds += 1
    }
    next
  }

  def identity(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
    "collectors" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq,
    "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-X")).toSeq,
    "java_version" -> System.getProperty("java.version"),
    "spark_version" -> org.apache.spark.SPARK_VERSION)
}
