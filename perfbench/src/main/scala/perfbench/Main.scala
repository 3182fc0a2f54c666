package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its record as JSON.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --size full|tiny --fault none|fetcher|drop_row
  *     --work DIR --cache DIR --out FILE --reference FILE
  *
  * Set-up (session start and warm-up units, but not the benchmark's own
  * input generation) is timed from the JVM's start; then iterations run
  * until `seconds` have passed (at least one, and two whenever the first
  * ends sooner); then the output checks run. With `--trace 1`
  * iterations alternate untraced and traced, so the record carries the
  * tracing overhead and the per-layer numbers of the traced ones. */
object Main {
  val Cpus = 4

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // keep Spark's own monitoring store small, so the retained heap is
      // the engine's and not a history of every plan and task the run saw
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val runId = s"$workload-${args("seed")}-${System.currentTimeMillis()}"
      val probe = new Probe(spark, runId)
      val ctx = Ctx(spark, probe, args("seed").toLong, args.getOrElse("size", "full"),
        args.getOrElse("fault", "none"), work, Paths.get(args("cache")).toAbsolutePath,
        Paths.get(args("reference")))
      val wl: Workload = workload match {
        case "harvest_full" => new HarvestFull(ctx)
        case "harvest_delta" => new HarvestDelta(ctx)
        case "query_mix" => new QueryMix(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.phase("session")
      val record = measure(ctx, wl, seconds, trace, runId) ++
        Map("setup_phases" -> ctx.phases)
      Files.writeString(Paths.get(args("out")), Stats.json(record ++ Map(
        "workload" -> workload, "seed" -> ctx.seed, "size" -> ctx.size,
        "fault" -> ctx.fault, "trace" -> trace)))
    } finally spark.stop()
  }

  private def measure(ctx: Ctx, wl: Workload, seconds: Double, trace: Boolean,
      runId: String): Map[String, Any] = {
    val probe = ctx.probe
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = Jvm.load1()
    wl.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - ctx.inputsSeconds

    val its = ArrayBuffer.empty[Iteration]
    val t0 = Stats.now()
    // a traced run needs an untraced and a traced iteration at least
    val minIts = if (trace) 2 else 1
    def more: Boolean = {
      val elapsed = Stats.secondsSince(t0)
      // a second iteration whenever there is time left, so a median is not
      // the first iteration alone; after that, another only if it should end
      // near the deadline
      its.size < minIts || (elapsed < seconds &&
        (its.size < 2 || elapsed * (its.size + 1) / its.size <= seconds * 1.25))
    }
    while (more) {
      // traced runs alternate, traced first, so both halves see the same drift
      val traced = trace && its.size % 2 == 0
      probe.traced = traced
      val steal0 = Jvm.stealS()
      val it = wl.iterate(its.size, traced)
      its += it.copy(noise = it.noise + ("steal_s" -> (Jvm.stealS() - steal0)))
      probe.traced = false
    }
    val loopS = Stats.secondsSince(t0)
    val checks = wl.check()
    val (attempted, failed) = wl.judge(its.toSeq, checks)

    val plain = its.filter(!_.traced).toSeq
    val traced = its.filter(_.traced).toSeq
    def medians(xs: Seq[Iteration]): Map[String, Double] =
      if (xs.isEmpty) Map.empty
      else xs.flatMap(_.samples.keys).distinct.map { k =>
        k -> Stats.median(xs.flatMap(_.samples.get(k)))
      }.toMap
    val endToEnd = medians(plain) ++ wl.derived(plain) ++ Map(
      "setup_s" -> setupS,
      "failed_ratio" -> failed.toDouble / attempted)
    val perLayer = if (!trace) Map.empty[String, Double] else {
      medians(traced) ++ wl.derived(traced) ++ Map(
        "trace.overhead_ratio" -> Stats.median(traced.map(_.samples("run_s"))) /
          Stats.median(plain.map(_.samples("run_s"))))
    }
    val nproc = Runtime.getRuntime.availableProcessors()
    val iterations = its.map { it =>
      val run = it.samples("run_s")
      // JIT threads run beside the tasks; compiling for longer than twice
      // the unit's wall is a recompilation storm, not warm-up
      val flags = Seq(
        Option.when(it.noise("load1") > 1.5 * nproc)("load"),
        Option.when(it.noise("steal_s") > 0.1 * nproc * run)("steal"),
        Option.when(it.noise("gc_s") > 0.2 * run)("gc"),
        Option.when(it.noise("jit_s") > 2.0 * run)("jit"),
      ).flatten
      Map("index" -> it.index, "traced" -> it.traced, "run_s" -> it.samples("run_s"),
        "attempted" -> it.attempted, "failed" -> it.failed, "noise" -> it.noise,
        "noisy" -> flags, "samples" -> it.samples)
    }
    val spans = if (trace) {
      val p = ctx.work.resolve("spans.jsonl")
      Map("file" -> p.toString, "count" -> probe.writeSpans(p))
    } else Map("count" -> 0)
    Map(
      "setup_s" -> setupS, "loop_s" -> loopS, "load1_at_start" -> load0,
      "attempted" -> attempted, "failed" -> failed,
      "correct" -> (failed == 0 && checks.forall(_.ok)),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "end_to_end" -> endToEnd, "per_layer" -> perLayer,
      "iterations" -> iterations, "spans" -> spans, "jvm" -> Jvm.identity())
  }
}
