package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** What every workload gets: the session, the probe, its seed and size,
  * the self-test fault to inject (or "none"), a working directory for the
  * run, and a cache directory that outlives it. */
final case class Ctx(spark: SparkSession, probe: Probe, seed: Long, size: String,
    fault: String, work: Path, cache: Path, reference: Path) {
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var inputsS = 0.0
  /** Notes that set-up phase `name` ended, in seconds since the JVM started. */
  def phase(name: String): Unit =
    marks(name) = (System.currentTimeMillis() - jvmStartMs) / 1e3
  def phases: Map[String, Double] = marks.toMap + ("inputs_s" -> inputsS)
  /** Runs the benchmark's own input generation, which set-up time leaves out:
    * it is the same work whatever the engine does. */
  def inputs[T](body: => T): T = {
    val t0 = Stats.now()
    try body finally inputsS += Stats.secondsSince(t0)
  }
  def inputsSeconds: Double = inputsS
}

/** One measured iteration: samples keyed by metric name, plus how many
  * operations it attempted and how many failed or gave wrong output. */
final case class Iteration(index: Int, traced: Boolean, samples: Map[String, Double],
    attempted: Int, failed: Int, noise: Map[String, Double])

final case class Check(name: String, ok: Boolean, detail: String)

trait Workload {
  /** Generates the inputs and runs the warm-up units. */
  def setup(): Unit
  /** Runs one measured iteration. */
  def iterate(index: Int, traced: Boolean): Iteration
  /** Output checks, run after the timed loop. */
  def check(): Seq[Check]
  /** Ops the checks found wrong: (attempted, failed) over all iterations. */
  def judge(iterations: Seq[Iteration], checks: Seq[Check]): (Int, Int) = {
    val attempted = iterations.map(_.attempted).sum + checks.size
    val failedIter = iterations.map(_.failed).sum
    // every timed op reproduces the checked output, so a failed check
    // makes all of them wrong
    if (checks.forall(_.ok)) (attempted, failedIter)
    else (attempted, iterations.map(_.attempted).sum + checks.count(!_.ok))
  }
  /** End-to-end and per-layer values derived from more than a per-key median. */
  def derived(iterations: Seq[Iteration]): Map[String, Double] = Map.empty
}

object Workload {
  val MB = 1048576.0

  /** Order-independent fingerprint of a result: rows, and xor and
    * truncated sum of a per-row hash over every column. */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val aggs = fingerprintAggs(df)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    fingerprintOf(k => r.getAs[Any](k))
  }

  /** `df` with its [[fingerprint]] taken as an action on it runs, and a
    * reader for the fingerprint, valid once that action has ended. */
  def observeFingerprint(df: DataFrame): (DataFrame, () => (Long, Long, Long)) = {
    val obs = new Observation()
    val aggs = fingerprintAggs(df)
    (df.observe(obs, aggs.head, aggs.tail: _*), () => fingerprintOf(obs.get))
  }

  private def fingerprintAggs(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.columns.sorted.toIndexedSeq.map(c => col(s"`$c`")): _*)
    Seq(count(lit(1)).as("rows"), bit_xor(h).as("xor"), sum(h.bitwiseAND(0xFFFFFFFL)).as("sum"))
  }

  private def fingerprintOf(value: String => Any): (Long, Long, Long) = {
    def l(k: String) = Option(value(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    (l("rows"), l("xor"), l("sum"))
  }

  /** The samples every timed unit contributes. */
  def unitSamples(u: UnitStats): Map[String, Double] = {
    val t = u.totals
    Map(
      "task_s" -> t.taskMs / 1e3,
      // the bytes the unit's write commands wrote: checkpoints, on the harvests
      "bytes_written_mb" -> t.outputB / MB,
      "peak_exec_mem_mb" -> u.peakExecB / MB,
      "operators.shuffle_write_mb" -> t.shuffleWriteB / MB,
      "operators.shuffle_read_mb" -> t.shuffleReadB / MB,
      "operators.spill_mb" -> t.spillB / MB,
      "operators.peak_exec_mem_mb" -> u.peakExecB / MB,
      "driver.plan_s" -> t.planMs / 1e3,
      "driver.gap_s" -> u.gapS,
      "driver.jobs" -> t.jobs.toDouble,
      "driver.stages" -> t.stages.toDouble,
      "driver.tasks" -> t.tasks.toDouble,
      "driver.exchanges" -> t.exchanges.toDouble,
      "jvm.gc_s" -> u.gcS,
      "jvm.jit_s" -> u.jitS)
  }

  /** Sums the unit samples of several units (a query-mix pass). */
  def sumSamples(us: Seq[UnitStats]): Map[String, Double] = {
    val maxKeys = Set("peak_exec_mem_mb", "operators.peak_exec_mem_mb")
    us.map(unitSamples).reduce { (a, b) =>
      a.map { case (k, v) => k -> (if (maxKeys(k)) math.max(v, b(k)) else v + b(k)) }
    }
  }
}
