package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.OrientOps
import graft.plans.{HarvestPipeline, Incremental}
import graft.sources.HttpOps

/** Shared pieces of the two harvest workloads. */
abstract class HarvestBase(ctx: Ctx) extends Workload {
  import Workload._
  protected val spark = ctx.spark

  val Stages = Seq("candidates", "fetch", "pages", "orient", "group_doc", "writeback")
  val Crashed = Seq("03_orient", "04_group_doc", "05_writeback")
  val Output = "05_writeback"

  protected val fetcher: HttpOps.HttpFetcher =
    if (ctx.fault == "fetcher") Shims.FaultyFetcher else HttpOps.StubFetcher

  protected def run(input: DataFrame, root: Path, traced: Boolean): DataFrame =
    if (traced) HarvestPipeline.run(spark, input, root.toString,
      new Shims.CountingFetcher(fetcher),
      new Shims.CountingOcr(OrientOps.StubOcrAdapter),
      new Shims.CountingSpell(OrientOps.StubSpellAdapter))
    else HarvestPipeline.run(spark, input, root.toString, fetcher)

  protected def output(root: Path): DataFrame = spark.read.parquet(root.resolve(Output).toString)

  protected def crash(root: Path): Unit = Crashed.foreach(d => Stats.deleteTree(root.resolve(d)))

  protected def stageOf(write: WriteEvent): Option[String] =
    Stages.find(s => write.path.endsWith("_" + s))

  /** Per-layer samples of a pipeline run: each stage's write, and what
    * the adapter shims counted while it ran. */
  protected def stageSamples(u: UnitStats, traced: Boolean): Map[String, Double] = {
    val perStage = u.writes.flatMap { w =>
      stageOf(w).toSeq.flatMap { s =>
        Seq(s"plans.stage.$s.s" -> w.seconds, s"plans.stage.$s.rows_out" -> w.rowsOut.toDouble) ++
          (if (traced) Seq(s"plans.stage.$s.task_s" -> w.taskMs / 1e3) else Nil)
      }
    }
    val scan = u.writes.find(w => stageOf(w).contains("candidates")).filter(_ => traced).toSeq
      .flatMap(w => Seq("sources.scan.rows_read" -> w.inRows.toDouble,
        "sources.scan.bytes_read" -> w.inBytes.toDouble))
    val shims = if (!traced) Nil else {
      val (fc, fb) = Shims.fetch.snapshot; val (oc, ob) = Shims.ocr.snapshot
      val (sc, sb) = Shims.spell.snapshot
      Seq("sources.HttpOps.fetch_calls" -> fc.toDouble, "sources.HttpOps.fetch_busy_s" -> fb,
        "operators.OrientOps.ocr_calls" -> oc.toDouble, "operators.OrientOps.ocr_busy_s" -> ob,
        "operators.OrientOps.spell_calls" -> sc.toDouble, "operators.OrientOps.spell_busy_s" -> sb)
    }
    (perStage ++ scan ++ shims).toMap
  }

  /** Pages the pipeline oriented: the useful outcomes OCR attempts serve. */
  protected def pages(out: DataFrame): Long =
    out.filter(col("status") === 200).agg(sum("n_pages")).head().getLong(0)

  /** The harvest checks on one pipeline output:
    *   - every F1 candidate exactly once, nothing else;
    *   - every status equal to what the stub transport serves;
    *   - a 200 row's METS lists n_pages members, other rows have none. */
  protected def checkOutput(out0: DataFrame, expectedIds: DataFrame): Seq[Check] = {
    val out = if (ctx.fault == "drop_row")
      out0.filter(col("id") =!= out0.select(min("id")).head().getString(0)) else out0
    val ids = out.select("id")
    val exp = expectedIds.select("id")
    val (n, distinctN, expN) = (ids.count(), ids.distinct().count(), exp.count())
    val missing = exp.except(ids).count()
    val extra = ids.except(exp).count()
    val stub = udf((href: String) => HttpOps.StubFetcher.fetch(href)._1)
    val badStatus = out.filter(col("status").isNull || col("status") =!= stub(col("href"))).count()
    val members = size(split(coalesce(col("mets"), lit("")), "<file ")) - 1
    val badMets = out.filter(
      (col("status") === 200 && (col("n_pages") < 1 || members =!= col("n_pages"))) ||
        (col("status") =!= 200 && (col("n_pages") =!= 0 || col("mets").isNotNull))).count()
    Seq(
      Check("candidates_exactly_once", n == expN && distinctN == n && missing == 0 && extra == 0,
        s"rows=$n distinct=$distinctN expected=$expN missing=$missing extra=$extra"),
      Check("status_matches_stub", badStatus == 0, s"mismatched=$badStatus"),
      Check("mets_has_n_pages_members", badMets == 0, s"bad=$badMets"))
  }

  protected def iteration(index: Int, traced: Boolean, samples: Map[String, Double],
      attempted: Int, failed: Int): Iteration = {
    val noise = Map("load1" -> Jvm.load1(), "gc_s" -> samples("jvm.gc_s"),
      "jit_s" -> samples("jvm.jit_s"))
    Iteration(index, traced, samples, attempted, failed, noise)
  }
}

/** `harvest_full`: a cold pipeline run over the whole components table
  * into an empty checkpoint root, then a crash-resume: the last three
  * checkpoints deleted and the run repeated. */
final class HarvestFull(ctx: Ctx) extends HarvestBase(ctx) {
  import Workload._

  val rows: Long = if (ctx.size == "tiny") 2000L else 12000L
  private val dir = ctx.work.resolve("harvest_full")
  private var input: DataFrame = _
  private var expected: (Long, Long, Long) = _
  private val refRoot = dir.resolve("reference")

  def setup(): Unit = {
    ctx.inputs {
      Gen.components(spark, ctx.seed, rows, 4)
        .select(Gen.EngineColumns.filter(_ != "mtime").map(col): _*)
        .write.mode("overwrite").parquet(dir.resolve("components").toString)
      input = spark.read.parquet(dir.resolve("components").toString)
    }
    ctx.phase("inputs")
    // warm-up: the reference run the checks inspect, and its crash-resume
    run(input, refRoot, traced = false)
    expected = fingerprint(output(refRoot))
    crash(refRoot)
    run(input, refRoot, traced = false)
    ctx.phase("warmup")
  }

  def iterate(index: Int, traced: Boolean): Iteration = ctx.probe.span(s"iteration.$index") {
    val root = dir.resolve(s"iter-$index")
    Shims.resetAll()
    var failed = 0
    def same(): Boolean = fingerprint(output(root)) == expected
    val (_, full) = ctx.probe.unit("harvest_full.run")(run(input, root, traced))
    val layers = stageSamples(full, traced)
    val nPages = if (traced) pages(output(root)) else 0L
    if (!same()) failed += 1
    crash(root)
    val (_, resume) = ctx.probe.unit("harvest_full.resume")(run(input, root, traced))
    if (!same() || resume.writes.size != Crashed.size) failed += 1
    val ckptMb = Stats.treeBytes(root) / MB
    Stats.deleteTree(root)
    val heap = Jvm.retainedHeapMb()
    val samples = unitSamples(full) ++ layers ++ Map(
      "run_s" -> full.wallS,
      "resume_s" -> resume.wallS,
      "components_per_s" -> rows / full.wallS,
      "retained_heap_mb" -> heap,
      "plans.checkpoint_mb" -> ckptMb,
      "plans.stages_run" -> resume.writes.size.toDouble,
      "plans.stages_skipped" -> (Stages.size - resume.writes.size).toDouble) ++
      (if (traced) Map("operators.OrientOps.ocr_per_page" ->
        layers("operators.OrientOps.ocr_calls") / math.max(1L, nPages)) else Map.empty)
    iteration(index, traced, samples, 2, failed)
  }

  def check(): Seq[Check] =
    checkOutput(output(refRoot), Gen.candidates(input, ctx.seed)) :+
      Check("resumed_output_equals_full_run", fingerprint(output(refRoot)) == expected,
        "the warm-up run's output after its crash-resume")

  override def derived(its: Seq[Iteration]): Map[String, Double] =
    Map("query_geomean_s" -> Stats.geomean(Stages.map(s =>
      Stats.median(its.map(_.samples(s"plans.stage.$s.s"))))))
}

/** `harvest_delta`: the nightly batch. The full components table is on
  * disk with its mtime spread; each iteration selects the newest 1% with
  * [[Incremental.newerThan]], runs the pipeline into a fresh root and
  * re-runs it as a no-op, then crash-resumes it. */
final class HarvestDelta(ctx: Ctx) extends HarvestBase(ctx) {
  import Workload._

  val rows: Long = if (ctx.size == "tiny") 4000L else 10000L
  val fraction = 0.01
  private val dir = ctx.work.resolve("harvest_delta")
  private val table = dir.resolve("components").toString
  private val cutoff = Gen.mtimeCutoff(fraction)
  private var expected: (Long, Long, Long) = _
  private var selectedRows: Long = _
  private var selectedPages: Long = _
  private val warmRoot = dir.resolve("warm")

  private def selection(): DataFrame =
    Incremental.newerThan(spark.read.parquet(table), "mtime", cutoff).drop("mtime")

  /** The selected rows as the benchmark computes them, without the engine. */
  private def selectedTruth(): DataFrame =
    spark.read.parquet(table).filter(col("mtime") > lit(cutoff))

  def setup(): Unit = {
    // ten files in mtime order, as an append-only table would be
    ctx.inputs {
      Gen.components(spark, ctx.seed, rows, 10).select(Gen.EngineColumns.map(col): _*)
        .write.mode("overwrite").parquet(table)
    }
    ctx.phase("inputs")
    // warm-up: a delta run (its output is the one the checks inspect), its
    // crash-resume, and a second delta run
    run(selection(), warmRoot, traced = false)
    expected = fingerprint(output(warmRoot))
    selectedRows = selectedTruth().count()
    selectedPages = pages(output(warmRoot))
    crash(warmRoot)
    run(selection(), warmRoot, traced = false)
    val spare = dir.resolve("spare")
    run(selection(), spare, traced = false)
    Stats.deleteTree(spare)
    ctx.phase("warmup")
  }

  def iterate(index: Int, traced: Boolean): Iteration = ctx.probe.span(s"iteration.$index") {
    val root = dir.resolve(s"iter-$index")
    Shims.resetAll()
    var failed = 0
    var skipS = 0.0
    val (_, delta) = ctx.probe.unit("harvest_delta.run") {
      val sel = selection()
      run(sel, root, traced)
      val t0 = Stats.now()
      run(sel, root, traced)
      skipS = Stats.secondsSince(t0)
    }
    val layers = stageSamples(delta, traced)
    if (fingerprint(output(root)) != expected || delta.writes.size != Stages.size) failed += 1
    crash(root)
    val (_, resume) = ctx.probe.unit("harvest_delta.resume")(run(selection(), root, traced))
    if (fingerprint(output(root)) != expected || resume.writes.size != Crashed.size) failed += 1
    val ckptMb = Stats.treeBytes(root) / MB
    Stats.deleteTree(root)
    val heap = Jvm.retainedHeapMb()
    val samples = unitSamples(delta) ++ layers ++ Map(
      "run_s" -> delta.wallS,
      "resume_s" -> resume.wallS,
      "components_per_s" -> selectedRows / delta.wallS,
      "retained_heap_mb" -> heap,
      "plans.checkpoint_mb" -> ckptMb,
      "plans.stages_run" -> resume.writes.size.toDouble,
      "plans.stages_skipped" -> (Stages.size - resume.writes.size).toDouble,
      "plans.skip_s" -> skipS) ++
      (if (traced) Map(
        "sources.delta.selectivity" -> selectedRows / math.max(1.0, layers("sources.scan.rows_read")),
        "operators.OrientOps.ocr_per_page" ->
          layers("operators.OrientOps.ocr_calls") / math.max(1L, selectedPages))
      else Map.empty)
    iteration(index, traced, samples, 2, failed)
  }

  /** Runs the pipeline over the whole table, and compares its rows for the
    * selected ids with the delta output. */
  def check(): Seq[Check] = {
    val fullRoot = dir.resolve("full")
    run(spark.read.parquet(table).drop("mtime"), fullRoot, traced = false)
    val full = fingerprint(output(fullRoot).join(selectedTruth().select("id"), "id"))
    val out = output(warmRoot)
    checkOutput(out, Gen.candidates(selectedTruth(), ctx.seed)) :+
      Check("delta_equals_full_run_rows", full == expected,
        s"selected=$selectedRows delta=$expected full=$full") :+
      Check("resumed_delta_equals_delta", fingerprint(out) == expected,
        "the warm-up delta run's output after its crash-resume") :+
      Check("delta_selects_about_1pct", math.abs(selectedRows - rows * fraction) <= rows * fraction * 0.1,
        s"selected=$selectedRows of $rows")
  }

  override def derived(its: Seq[Iteration]): Map[String, Double] =
    Map("query_geomean_s" -> Stats.geomean(Stages.map(s =>
      Stats.median(its.map(_.samples(s"plans.stage.$s.s"))))))
}
