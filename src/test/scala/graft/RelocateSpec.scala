package graft

import graft.plans.RelocatePipeline
import graft.sources.JdbcWorkQueue

/** §3.3 DB-driven relocation end-to-end: JDBC queue with pushed status
  * predicate, URL strip, extension filter, count-offset renumbering in
  * name order, %08d move plan — checkpoint-resumable. */
class RelocateSpec extends SparkSpec {
  import spark.implicits._

  private val url = JdbcWorkQueue.derbyMemUrl("graft_relocate")

  private def seed(): Unit =
    JdbcWorkQueue.seed(Seq(
      (1L, "http://findingaids.example/collections/MC001/c01", " "),
      (2L, "http://findingaids.example/collections/MC001/c02", " "),
      (3L, "http://findingaids.example/collections/MC001/c03", "done"))
      .toDF("id", "dir", "Note"), url, "ImageDirs")

  private def files = Seq(
    ("MC001/c01", "/in/MC001/c01/b.jp2", "b.jp2"),
    ("MC001/c01", "/in/MC001/c01/a.jp2", "a.jp2"),
    ("MC001/c01", "/in/MC001/c01/x.tif", "x.tif"),   // wrong ext → excluded
    ("MC001/c02", "/in/MC001/c02/p.jp2", "p.jp2"),
    ("MC001/c03", "/in/MC001/c03/q.jp2", "q.jp2"))   // claimed row → excluded
    .toDF("dir", "path", "name")

  private def target = Seq(
    ("MC001/c01", "00000001.jp2"),
    ("MC001/c01", "00000002.jp2"),
    ("MC001/c01", "00000009.tif")) // wrong ext → not counted
    .toDF("dir", "name")

  test("relocation plan continues numbering after existing files (A3/W2/F19)") {
    seed()
    val plan = RelocatePipeline.run(spark, url, "ImageDirs", files, target,
        ".jp2", tmpDir("relocate"))
      .orderBy("dir", "seq").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))

    assert(plan.toSeq === Seq(
      // c01 has 2 existing .jp2 → numbering continues at 3, name order a<b
      ("MC001/c01", "/in/MC001/c01/a.jp2", "MC001/c01/00000003.jp2", 3L),
      ("MC001/c01", "/in/MC001/c01/b.jp2", "MC001/c01/00000004.jp2", 4L),
      // c02 empty target → starts at 1; c03 claimed → absent entirely
      ("MC001/c02", "/in/MC001/c02/p.jp2", "MC001/c02/00000001.jp2", 1L)))
  }

  test("every relocate checkpoint reads back with its inferred schema") {
    seed()
    val root = tmpDir("relocate_schema")
    RelocatePipeline.run(spark, url, "ImageDirs", files, target, ".jp2", root)
    assert(assertCheckpointSchemas(root) === Seq("00_strip", "01_collect",
      "02_renumber", "03_plan_moves"))
  }
}
