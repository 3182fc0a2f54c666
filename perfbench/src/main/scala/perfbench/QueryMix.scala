package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** `query_mix`: passes over eleven registry queries, read-only, each
  * written to the noop sink. The tables are generated once from a fixed
  * data seed (so their results can be checked against the reference kept
  * with the benchmark); the run's seed sets the query order. */
final class QueryMix(ctx: Ctx) extends Workload {
  import Workload._

  val Queries = Seq("q52_mets_full", "q122_dedup_funnel", "q175_neardup_fusion",
    "q125_ivfpq_adc", "q83_curation_report", "q112_bpe_encode", "q160_nlaf_langid",
    "q57_transitive_keepers", "q53_hll_distinct", "q154_audio_fp_neardup",
    "q130_stream_bottomk")

  /** A pass that dies after the first six queries (in this listing order)
    * resumes by re-running the remaining five: there are no checkpoints. */
  val AfterCrash: Seq[String] = Queries.drop(6)

  val DataSeed = 42L
  val scale: Double = if (ctx.size == "tiny") 0.01 else 0.03
  // the tables do not depend on the run's seed, so one copy per checkout
  // serves every run
  private val dir = ctx.cache.resolve(f"query_mix-$DataSeed-$scale%.3f").toString
  val order: Seq[String] = new scala.util.Random(ctx.seed).shuffle(Queries)

  /** Runs `q` to the noop sink with its result's fingerprint taken on the
    * way; returns a reader for the fingerprint. */
  private def runQuery(q: String): () => (Long, Long, Long) = {
    val df = SparkEntry.queries(q)(ctx.spark, dir)
    val (observed, fp) =
      observeFingerprint(if (ctx.fault == "drop_row") df.exceptAll(df.limit(1)) else df)
    observed.write.format("noop").mode("overwrite").save()
    fp
  }

  private val reference = Reference.read(ctx.reference, ctx.size)
  // every fingerprint each query's passes gave, warm-up included
  private val seen = scala.collection.mutable.Map.empty[String, Set[(Long, Long, Long)]]

  /** Notes what a pass of `q` gave; whether it equals the reference. */
  private def note(q: String, got: (Long, Long, Long)): Boolean = {
    seen(q) = seen.getOrElse(q, Set.empty) + got
    reference.get(q).contains(got)
  }

  def setup(): Unit = {
    ctx.inputs(Gen.cachedTables(ctx.spark, DataSeed, scale, Paths.get(dir)))
    ctx.phase("inputs")
    // warm-up: one pass down the same path as the timed ones
    order.foreach(q => note(q, runQuery(q)()))
    ctx.phase("warmup")
  }

  def iterate(index: Int, traced: Boolean): Iteration = ctx.probe.span(s"iteration.$index") {
    var failed = 0
    val units = order.map { q =>
      val (fp, u) = ctx.probe.unit(s"query.$q") {
        try Some(runQuery(q)) catch { case scala.util.control.NonFatal(_) => None }
      }
      // read outside the timer
      if (!fp.exists(read => note(q, read()))) failed += 1
      u
    }
    val pass = sumSamples(units)
    val runS = units.map(_.wallS).sum
    val rowsRead = units.map(_.totals.inputRows).sum
    val perQuery = units.flatMap { u =>
      val q = u.name.stripPrefix("query.")
      Seq(s"queries.$q.s" -> u.wallS, s"queries.$q.task_s" -> u.totals.taskMs / 1e3,
        s"queries.$q.shuffle_mb" -> u.totals.shuffleWriteB / MB,
        s"queries.$q.jobs" -> u.totals.jobs.toDouble)
    }
    val heap = Jvm.retainedHeapMb()
    val samples = pass ++ perQuery ++ Map(
      "run_s" -> runS,
      // the mix writes no checkpoints (its sink is noop); the bytes it
      // does write are shuffle files
      "bytes_written_mb" -> pass("operators.shuffle_write_mb"),
      "components_per_s" -> rowsRead / runS,
      "retained_heap_mb" -> heap,
      "sources.scan.rows_read" -> rowsRead.toDouble,
      "sources.scan.bytes_read" -> units.map(_.totals.inputB).sum.toDouble)
    Iteration(index, traced, samples, units.size, failed,
      Map("load1" -> Jvm.load1(), "gc_s" -> pass("jvm.gc_s"), "jit_s" -> pass("jvm.jit_s")))
  }

  /** Row count and order-independent hash of every query's result, taken
    * in every pass (the timed ones and the warm-up), against the reference
    * kept for this size. */
  def check(): Seq[Check] = Queries.map { q =>
    val got = seen.getOrElse(q, Set.empty)
    val exp = reference.get(q)
    Check(s"$q.rows_and_hash", exp.exists(e => got == Set(e)),
      s"got=${got.mkString(",")} expected=${exp.getOrElse("none")}")
  }

  override def derived(its: Seq[Iteration]): Map[String, Double] = {
    def med(q: String) = Stats.median(its.map(_.samples(s"queries.$q.s")))
    Map(
      "query_geomean_s" -> Stats.geomean(Queries.map(med)),
      "resume_s" -> AfterCrash.map(med).sum)
  }
}

/** The expected query_mix results, one entry per size, in a small JSON
  * file kept with the benchmark. */
object Reference {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def read(path: java.nio.file.Path, size: String): Map[String, (Long, Long, Long)] = {
    if (!Files.exists(path)) return Map.empty
    val node = mapper.readTree(path.toFile).path(size)
    node.fieldNames().asScala.map { q =>
      val e = node.get(q)
      q -> ((e.get("rows").asLong(), e.get("xor").asLong(), e.get("sum").asLong()))
    }.toMap
  }
}
