package graft

import org.apache.spark.sql.functions._

import graft.plans.PublishPipeline

/** §3.2 publish flow end-to-end: F6 dot filter, F7 anti-join, title
  * lookup with quote stripping, page numbering in path order, grouped
  * METS, dao insertion attributes — and stage-checkpoint resume. */
class PublishSpec extends SparkSpec {
  import spark.implicits._

  private def components = Seq(
    ("MC001_c01", "c01"),
    ("MC001_c02", "c02"),
    ("MC001_c03", "c03"),        // already published → F7 excluded
    ("MC001_bad", "c04.tmp"))    // dotted name → F6 excluded
    .toDF("component_id", "name")

  private def existing = Seq(Tuple1("MC001_c03")).toDF("component_id")

  private def titles = Seq(
    ("MC001_c01", "Letters, \"personal\"", "1901"),
    ("MC001_c02", "Notebooks", "1902"))
    .toDF("component_id", "unittitle", "unitdate")

  private def pages = Seq(
    ("MC001_c01", "/s/MC001/c01/zz_last.tif"),
    ("MC001_c01", "/s/MC001/c01/aa_first.tif"),
    ("MC001_c02", "/s/MC001/c02/only.tif"))
    .toDF("component_id", "path")

  test("publish pipeline composes F6/F7/titles/METS/dao end-to-end and resumes") {
    val root = tmpDir("publish")
    val out = PublishPipeline.run(spark, components, existing, titles, pages, root)
      .orderBy("component_id").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("MC001_c01", "MC001_c02"))
    val byId = out.map(r => r.getString(0) -> r).toMap
    // F13 quote-strip + F14 concat
    assert(byId("MC001_c01").getAs[String]("title") === "Letters, personal, 1901")
    // W1 numbering follows lexicographic path order: aa_first → seq 1
    val mets01 = byId("MC001_c01").getAs[String]("mets")
    assert(mets01.indexOf("seq=\"1\"") < mets01.indexOf("seq=\"2\""))
    assert(byId("MC001_c01").getAs[Long]("n_pages") === 2L)
    // J3/F11 dao attributes
    assert(byId("MC001_c02").getAs[String]("dao_href")
      === "http://store/MC001/c02.pdf")
    assert(out.forall(_.getAs[String]("dao_show") === "new"))
    // resume: identical output, stages skipped
    val again = PublishPipeline.run(spark, components, existing, titles, pages, root)
      .orderBy("component_id").collect()
    assert(again.map(_.toString).toSeq === out.map(_.toString).toSeq)
  }

  test("every publish checkpoint reads back with its inferred schema") {
    val root = tmpDir("publish_schema")
    PublishPipeline.run(spark, components, existing, titles, pages, root)
    assert(assertCheckpointSchemas(root) === Seq("00_candidates", "01_pending",
      "02_titled", "03_mets", "04_dao_insert"))
  }

  test("publish last mile: page assembly + surgical EAD writeback compose") {
    import graft.operators.MultimodalOps
    import graft.sources.EadXml
    import java.nio.file.{Files, Paths}
    val root = tmpDir("publish_lastmile")
    val published = PublishPipeline.run(spark, components, existing, titles, pages, root)
    // A9 deliverable: the numbered pages of each published component
    // concat into one binary (the dirtopdf product)
    val pageBytes = pages
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("component_id").orderBy("path")).cast("long"))
      .select(col("component_id").as("folder"), col("pos"),
        sha1(col("path").cast("binary")).cast("binary").as("content"))
    val docs = MultimodalOps.assemblePages(pageBytes)
      .collect().map(d => d.folder -> d).toMap
    assert(docs("MC001_c01").n_pages === 2)
    // S16 writeback: the pipeline's dao attributes land in the EAD
    // document surgically — header prose intact, nesting intact
    val original =
      """<ead xmlns:xlink="http://www.w3.org/1999/xlink">
        |<eadheader><eadid>MC001</eadid></eadheader>
        |<archdesc><dsc>
        |  <c id="MC001_c01"><did><unittitle>Letters</unittitle></did></c>
        |  <c id="MC001_c02"><did><unittitle>Notebooks</unittitle></did></c>
        |  <c id="MC001_c03"><did><unittitle>Already done</unittitle></did></c>
        |</dsc></archdesc></ead>""".stripMargin
    val p = Paths.get(tmpDir("publish_ead"), "mc001.xml")
    Files.createDirectories(p.getParent)
    Files.writeString(p, original)
    val updated = EadXml.componentsTree(spark, p.toString)
      .join(published.select(col("component_id").as("id"),
        col("dao_href").as("new_href"), col("dao_show").as("new_show")),
        Seq("id"), "left")
      .withColumn("dao_href", coalesce(col("new_href"), col("dao_href")))
      .withColumn("dao_show", coalesce(col("new_show"), col("dao_show")))
      .drop("new_href", "new_show")
    val outXml = EadXml.updateDocument(original, updated)
    assert(outXml.contains("<eadid>MC001</eadid>"))
    assert(outXml.contains(
      """<dao xlink:href="http://store/MC001/c01.pdf" xlink:show="new"/>"""))
    // the unpublished component keeps no dao
    assert(!outXml.contains("c03.pdf"))
  }
}
