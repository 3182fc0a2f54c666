package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Staged, checkpointed, idempotent pipeline runner — the reference's
  * execution model (SURVEY §3.1): each stage reads the previous stage's
  * checkpoint, transforms, and writes its own, so a run "can stop and
  * start" at any boundary (`bin/main.py:659-708`; checkpoint file S3/S4 at
  * `bin/main.py:71-119`).
  *
  * Differences from the reference, by design:
  *   - checkpoints are Parquet directories (columnar, schema'd, splittable)
  *     instead of `%%`-delimited text — at 100 TB a checkpoint is a
  *     first-class distributed table;
  *   - idempotence is declarative: a stage is SKIPPED when its checkpoint
  *     is committed AND current, the F7 "skip work whose output exists"
  *     contract (`bin/main.py:184,232-234,282,368`) lifted from per-file
  *     checks to per-stage commit markers;
  *   - within a stage, per-row idempotence is an anti-join against the
  *     sink listing ([[Incremental.notYetDone]]).
  *
  * Skip rule. A committed stage directory holds Spark's `_SUCCESS` and a
  * `_RUN` token written after it: a fresh UUID for this commit plus the
  * token of the upstream stage it was computed from. Stage 0 is current
  * when both files exist; stage i > 0 is current when, in addition, its
  * recorded upstream token equals stage i−1's token in this run. So a
  * recomputed stage invalidates every stage below it, and a checkpoint
  * without a token (a crash between the commit and the token write, or
  * one written before tokens existed) counts as stale and is recomputed.
  * Both files start with `_`, which Spark's file listing skips.
  *
  * Checkpoint reads ([[read]]) take the schema from the footer of one
  * part file on the driver instead of letting Spark infer it, which
  * costs a one-task job per read. The result has exactly the schema
  * Spark's inference would give (all fields nullable, as every
  * file-source read); a directory without a part file or without Spark's
  * row metadata falls back to plain inference.
  */
object Pipeline {

  final case class Stage(name: String, transform: DataFrame => DataFrame)

  /** Footer key under which Spark's parquet writer stores the row schema
    * as JSON (`ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Name of the per-stage run token file (see the skip rule above). */
  val RunToken = "_RUN"

  /** True iff a committed checkpoint exists (directory with _SUCCESS). */
  def checkpointExists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, "_SUCCESS")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Read a checkpoint directory with its schema taken from a part-file
    * footer, so no schema-inference job runs. */
  def read(spark: SparkSession, dir: String): DataFrame =
    footerSchema(spark, dir) match {
      case Some(schema) => spark.read.schema(schema).parquet(dir)
      case None => spark.read.parquet(dir)
    }

  /** The Spark row schema stored in the footer of one part file of `dir`;
    * None when there is no part file, no row metadata, or it does not
    * parse. */
  private[graft] def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    val part = if (!fs.exists(path)) None else fs.listStatus(path).iterator
      .map(_.getPath)
      .find { p => val n = p.getName
        !n.startsWith("_") && !n.startsWith(".") && n.endsWith(".parquet") }
    part.flatMap { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(RowMetadataKey)
        finally reader.close()
      Option(json).flatMap(j => Try(DataType.fromJson(j)).toOption).collect {
        case s: StructType => s
      }
    }
  }

  /** The `_RUN` token of a committed checkpoint: (own, upstream). None
    * when the checkpoint is uncommitted or has no token. */
  private def runToken(spark: SparkSession, dir: String): Option[(String, String)] = {
    val p = new Path(dir, RunToken)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!checkpointExists(spark, dir) || !fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines = try new String(in.readAllBytes(), UTF_8).split("\n", -1)
        finally in.close()
      if (lines.length >= 2) Some((lines(0), lines(1))) else None
    }
  }

  /** Write a fresh `_RUN` token recording `upstream`; returns the token. */
  private def writeRunToken(spark: SparkSession, dir: String, upstream: String): String = {
    val token = UUID.randomUUID().toString
    val p = new Path(dir, RunToken)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(s"$token\n$upstream".getBytes(UTF_8)) finally out.close()
    token
  }

  /** Run `stages` sequentially from `input`, checkpointing each stage at
    * `<root>/<idx>_<name>`. Current stages (see the skip rule above) are
    * not re-executed; every stage below a recomputed one is. Checkpoints
    * are read with [[read]], and only when a later stage needs one.
    * Returns the final stage's checkpoint as a DataFrame. */
  def run(spark: SparkSession, input: DataFrame, root: String,
      stages: Seq[Stage]): DataFrame = {
    var upstream = ""
    var last: Option[String] = None
    def current: DataFrame = last.fold(input)(read(spark, _))
    stages.zipWithIndex.foreach { case (stage, i) =>
      val dir = f"$root/$i%02d_${stage.name}"
      upstream = runToken(spark, dir).collect { case (own, up) if up == upstream => own }
        .getOrElse {
          stage.transform(current).write.mode("overwrite").parquet(dir)
          writeRunToken(spark, dir, upstream)
        }
      last = Some(dir)
    }
    current
  }
}

/** Incrementality primitives (SURVEY §2.8): mtime-checkpoint scans and
  * anti-join work avoidance. */
object Incremental {

  /** Rows of `work` whose `keyCol` has no committed row in `done` —
    * the F7 idempotent re-run filter as a left-anti join. At scale the
    * `done` side is a sink listing; Spark broadcasts it when small. */
  def notYetDone(work: DataFrame, done: DataFrame, keyCol: String): DataFrame =
    work.join(done.select(keyCol).distinct(), Seq(keyCol), "left_anti")

  /** Mtime-incremental scan: rows strictly newer than the checkpoint —
    * `find -newer .last_run` (`bin/batch.sh:24-27`) as a pushdown-able
    * column predicate (parquet min/max pruning skips old files wholesale). */
  def newerThan(df: DataFrame, tsCol: String,
      checkpoint: java.sql.Timestamp): DataFrame =
    df.filter(col(tsCol) > lit(checkpoint))
}

/** Two-phase commit file sink (S17): write to a local staging root, then
  * promote to the final root without ever overwriting — the
  * `*_local_root` → `*_final_root` copy at `bin/main.py:543-588`,
  * `etc/main.conf:2-14`. Spark's FileOutputCommitter already gives
  * task-level two-phase semantics; this adds the reference's
  * never-overwrite promotion between stores. */
object TwoPhaseSink {

  /** Stage `df` under a UNIQUE dir in `localRoot`, then promote the
    * committed directory to `<finalRoot>/<name>` iff the target does not
    * exist (mode "ignore" semantics). Returns true when promoted, false
    * when the final target already existed (idempotent re-run).
    *
    * Promote protocol (both same-FS and cross-FS): write to a
    * UUID-suffixed staging dir, rename to a UUID temp sibling of the
    * target, then rename into place.
    *   - Uniqueness starts at the INITIAL staging write (round-2
    *     advice): two concurrent promoters of the same `name` sharing
    *     one `localRoot` never touch the same path at any phase, so
    *     neither in-flight parquet writes nor promote temps can clobber
    *     each other.
    *   - Hadoop `rename` onto an EXISTING directory does not refuse —
    *     it moves the source UNDER the destination — so after a
    *     successful rename we verify the temp did not nest inside a
    *     racing winner's output (the UUID name cannot legitimately
    *     occur there) and demote to "already existed" if it did.
    *   - A rename that fails with the target absent is a real error and
    *     throws; it is never conflated with the idempotent-re-run case.
    *   - A promoter that dies mid-flight leaves only `._stage_`/
    *     `._promote_` temps; every later call best-effort sweeps temps
    *     older than `staleTempMs` from both roots (round-2 advice), so
    *     orphans are bounded in age instead of accumulating forever.
    * Cross-FS (the documented local-staging → final-store case) differs
    * only in how the temp is produced: FileUtil.copy instead of a
    * same-FS rename, with the staged source deleted only after the
    * outcome is known. */
  def writeThenPromote(spark: SparkSession, df: DataFrame,
      localRoot: String, finalRoot: String, name: String,
      staleTempMs: Long = 24L * 60 * 60 * 1000): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fin = new Path(finalRoot, name)
    val local = new Path(localRoot,
      s".$name._stage_${java.util.UUID.randomUUID()}")
    val srcFs = local.getFileSystem(conf)
    val dstFs = fin.getFileSystem(conf)
    sweepStaleTemps(srcFs, new Path(localRoot), name, staleTempMs)
    sweepStaleTemps(dstFs, fin.getParent, name, staleTempMs)
    if (dstFs.exists(fin)) false
    else {
      df.write.mode("overwrite").parquet(local.toString)
      dstFs.mkdirs(fin.getParent)
      val sameFs = srcFs.getUri == dstFs.getUri
      val tmp = new Path(fin.getParent,
        s".${fin.getName}._promote_${java.util.UUID.randomUUID()}")
      if (sameFs) {
        if (!dstFs.rename(local, tmp)) throw new java.io.IOException(
          s"TwoPhaseSink: staging rename $local -> $tmp failed")
      } else {
        org.apache.hadoop.fs.FileUtil.copy(srcFs, local, dstFs, tmp,
          /* deleteSource = */ false, /* overwrite = */ false, conf)
      }
      val renamed = dstFs.rename(tmp, fin)
      val nested = new Path(fin, tmp.getName)
      if (renamed && !dstFs.exists(nested)) {
        if (!sameFs) srcFs.delete(local, true)
        true
      } else {
        // lost the promote race: rename either refused (fin appeared) or
        // moved the temp UNDER the winner's directory — undo the nesting
        if (renamed) dstFs.delete(nested, true) else dstFs.delete(tmp, true)
        if (dstFs.exists(fin)) {
          if (!sameFs) srcFs.delete(local, true)
          false
        } else throw new java.io.IOException(
          s"TwoPhaseSink: rename $tmp -> $fin failed (target absent)")
      }
    }
  }

  /** Best-effort janitor: delete `._stage_`/`._promote_` temps for
    * `name` older than `olderThanMs` in `dir`. Age-gated so a LIVE
    * concurrent promoter's temps are never touched; IO errors are
    * swallowed — cleanup must never fail the promote itself. */
  private def sweepStaleTemps(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, name: String, olderThanMs: Long): Unit =
    try {
      if (fs.exists(dir)) {
        val cutoff = System.currentTimeMillis() - olderThanMs
        fs.listStatus(dir).foreach { st =>
          val n = st.getPath.getName
          if ((n.startsWith(s".$name._promote_") || n.startsWith(s".$name._stage_"))
              && st.getModificationTime < cutoff)
            try fs.delete(st.getPath, true)
            catch { case _: java.io.IOException => () }
        }
      }
    } catch { case _: java.io.IOException => () }
}
