package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.plans.{Incremental, Pipeline, TwoPhaseSink}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def countingStages(executions: AtomicInteger) = Seq(
    Pipeline.Stage("double", df => { executions.incrementAndGet()
      df.withColumn("x", col("x") * 2) }),
    Pipeline.Stage("inc", df => { executions.incrementAndGet()
      df.withColumn("x", col("x") + 1) }))

  private def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))

  test("staged run checkpoints every stage and resumes without re-executing") {
    val root = tmpDir("pipe")
    val executions = new AtomicInteger(0)
    val stages = countingStages(executions)
    val in = Seq(1, 2, 3).toDF("x")

    val out1 = Pipeline.run(spark, in, root, stages)
    assert(out1.orderBy("x").as[Int].collect().toSeq === Seq(3, 5, 7))
    assert(executions.get() === 2)

    // re-run: both checkpoints exist → zero stage executions (F7 contract)
    val out2 = Pipeline.run(spark, in, root, stages)
    assert(out2.orderBy("x").as[Int].collect().toSeq === Seq(3, 5, 7))
    assert(executions.get() === 2)
  }

  test("a recomputed stage re-executes every stage below it") {
    val root = tmpDir("pipe_stale")
    val executions = new AtomicInteger(0)
    val stages = countingStages(executions)
    val in = Seq(1, 2, 3).toDF("x")
    Pipeline.run(spark, in, root, stages)
    assert(executions.get() === 2)

    // stage 0's checkpoint is lost: recomputing it makes stage 1's
    // checkpoint stale even though its _SUCCESS is still there
    deleteTree(s"$root/00_double")
    val out = Pipeline.run(spark, in, root, stages)
    assert(executions.get() === 4)
    assert(out.orderBy("x").as[Int].collect().toSeq === Seq(3, 5, 7))

    // and the freshly written tokens make the next run a no-op again
    Pipeline.run(spark, in, root, stages)
    assert(executions.get() === 4)
  }

  test("a checkpoint without its run token counts as stale") {
    val root = tmpDir("pipe_token")
    val executions = new AtomicInteger(0)
    val stages = countingStages(executions)
    val in = Seq(1, 2, 3).toDF("x")
    Pipeline.run(spark, in, root, stages)
    // a crash between stage 1's commit and its token write: stage 1 only
    assert(new java.io.File(s"$root/01_inc/${Pipeline.RunToken}").delete())
    Pipeline.run(spark, in, root, stages)
    assert(executions.get() === 3)
    // the same at stage 0: both stages re-execute
    assert(new java.io.File(s"$root/00_double/${Pipeline.RunToken}").delete())
    val out = Pipeline.run(spark, in, root, stages)
    assert(executions.get() === 5)
    assert(out.orderBy("x").as[Int].collect().toSeq === Seq(3, 5, 7))
  }

  test("Pipeline.read keeps the schema of a stage that outputs zero rows") {
    val root = tmpDir("pipe_empty")
    val in = Seq((1, "a"), (2, "b")).toDF("x", "s")
      .withColumn("tags", array(col("s")))
      .withColumn("m", struct(col("x").as("k"), lit(null: String).as("v")))
    val out = Pipeline.run(spark, in, root, Seq(
      Pipeline.Stage("none", df => df.filter(lit(false)))))
    assert(out.count() === 0L)
    assert(assertCheckpointSchemas(root) === Seq("00_none"))
    assert(out.schema === spark.read.parquet(s"$root/00_none").schema)
  }

  test("Pipeline.read falls back to inference without Spark's row metadata") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a parquet file from a non-Spark writer: no row-metadata footer key
    val dir = tmpDir("plain_parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int32 x; optional binary s (UTF8); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-00000.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1 -> "a", 2 -> "b").foreach { case (x, s) =>
      writer.write(rows.newGroup().append("x", x).append("s", s)) }
    finally writer.close()

    assert(Pipeline.footerSchema(spark, dir).isEmpty)
    val got = Pipeline.read(spark, dir)
    assert(got.schema === spark.read.parquet(dir).schema)
    assert(got.orderBy("x").as[(Int, String)].collect().toSeq === Seq(1 -> "a", 2 -> "b"))
    // a directory with no part file at all has no footer to read either
    assert(Pipeline.footerSchema(spark, tmpDir("no_parts")).isEmpty)
  }

  test("notYetDone anti-join filters already-committed work") {
    val work = Seq("a", "b", "c", "d").toDF("k")
    val done = Seq("b", "d", "d").toDF("k")
    val got = Incremental.notYetDone(work, done, "k")
      .orderBy("k").as[String].collect().toSeq
    assert(got === Seq("a", "c"))
  }

  test("newerThan keeps only rows past the checkpoint (S11)") {
    val df = Seq(
      ("old", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("new", java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))).toDF("k", "ts")
    val got = Incremental.newerThan(df, "ts",
      java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
    assert(got.select("k").as[String].collect().toSeq === Seq("new"))
  }

  test("two-phase sink promotes once and never overwrites (S17)") {
    val localRoot = tmpDir("local")
    val finalRoot = tmpDir("final")
    val first = Seq(1).toDF("x")
    val second = Seq(99).toDF("x")
    assert(TwoPhaseSink.writeThenPromote(spark, first, localRoot, finalRoot, "obj"))
    // second write to the same name must be a no-op, preserving the original
    assert(!TwoPhaseSink.writeThenPromote(spark, second, localRoot, finalRoot, "obj"))
    val kept = spark.read.parquet(s"$finalRoot/obj").as[Int].collect().toSeq
    assert(kept === Seq(1))
    // the promoted output is the data itself, not nested one level deep,
    // and no promotion temp survives (the cross-FS copy protocol's
    // invariants — same-FS rename path shares the naming)
    val finalDir = new java.io.File(finalRoot)
    assert(!finalDir.listFiles().exists(_.getName.contains("_promote_")))
    assert(new java.io.File(s"$finalRoot/obj").listFiles()
      .exists(_.getName.endsWith(".parquet")))
  }

  test("concurrent promoters of the same name: exactly one wins, no residue") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val finalRoot = tmpDir("race_final")
    val localRoot = tmpDir("race_local") // SHARED staging root (r2 advice):
    // uniqueness must start at the initial parquet write, not only at the
    // promote temp — both writers stage under the same root and the same
    // target name, and both may pass the exists() probe before either
    // promotes
    val dfs = Seq(Seq(1).toDF("x"), Seq(2).toDF("x"))
    val results = Await.result(Future.sequence(dfs.map { df =>
      Future(
        TwoPhaseSink.writeThenPromote(spark, df, localRoot, finalRoot, "obj"))
    }), 120.seconds)
    assert(results.count(identity) === 1,
      s"exactly one promoter must win, got $results")
    // the final directory is one coherent dataset: readable, single row,
    // value from one writer or the other, no temp residue, no nesting
    val kept = spark.read.parquet(s"$finalRoot/obj").as[Int].collect().toSeq
    assert(kept === Seq(1) || kept === Seq(2), s"corrupt promoted data: $kept")
    val files = new java.io.File(s"$finalRoot/obj").listFiles().map(_.getName)
    assert(!files.exists(_.contains("_promote_")), s"temp residue: ${files.toSeq}")
    assert(!files.contains("obj"), s"nested promotion: ${files.toSeq}")
  }

  test("stale promote/stage temps from crashed runs are swept on entry") {
    val localRoot = tmpDir("janitor_local")
    val finalRoot = tmpDir("janitor_final")
    // plant orphans as a crashed previous promoter would leave them
    val orphanStage = new java.io.File(localRoot, ".obj._stage_deadbeef")
    val orphanPromote = new java.io.File(finalRoot, ".obj._promote_deadbeef")
    assert(orphanStage.mkdirs() && orphanPromote.mkdirs())
    // unrelated names and FRESH temps must survive the sweep
    val otherName = new java.io.File(finalRoot, ".other._promote_cafe")
    assert(otherName.mkdirs())
    val old = System.currentTimeMillis() - 48L * 60 * 60 * 1000
    Seq(orphanStage, orphanPromote).foreach(f => assert(f.setLastModified(old)))
    assert(TwoPhaseSink.writeThenPromote(spark, Seq(7).toDF("x"),
      localRoot, finalRoot, "obj"))
    assert(!orphanStage.exists(), "stale stage temp not swept")
    assert(!orphanPromote.exists(), "stale promote temp not swept")
    assert(otherName.exists(), "sweep must be scoped to this name")
    assert(spark.read.parquet(s"$finalRoot/obj").as[Int].collect().toSeq === Seq(7))
  }
}
