package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DocOps, OrientOps}
import graft.sources.{EadXml, HttpOps}

/** The flagship harvest dataflow (SURVEY §3.1) end-to-end: the
  * reference's `main.py` stages restated as one checkpointed Spark
  * pipeline over a components table.
  *
  *   candidates (F1) → fetch (S5, adapter) → status dispatch (F3) →
  *   page fan-out + renumber (W1/F19) → orientation vote
  *   (A4/A5/T1/T2, adapters) → grouped document (A1/J4) →
  *   METS render (S15), one aggregation → writeback status dispatch
  *   (J2/F3) — with a Parquet checkpoint at every boundary via
  *   [[Pipeline.run]], so a stopped run resumes at the first incomplete
  *   stage exactly like the reference's serialize/slurp loop
  *   (`bin/main.py:655-708`).
  *
  * Input: components(id, href, show, role, title). Output: one row per
  * component with harvest status, page count, rendered METS, and the
  * writeback attributes.
  */
object HarvestPipeline {

  def run(spark: SparkSession, components: DataFrame, checkpointRoot: String,
      fetcher: HttpOps.HttpFetcher = HttpOps.StubFetcher,
      ocr: OrientOps.OcrAdapter = OrientOps.StubOcrAdapter,
      spell: OrientOps.SpellAdapter = OrientOps.StubSpellAdapter): DataFrame = {

    val stages = Seq(
      Pipeline.Stage("candidates", df => EadXml.daoCandidates(df)),

      Pipeline.Stage("fetch", { df =>
        val results = HttpOps.fetchAll(df, "href", fetcher)
        df.join(results, df("href") === results("url"), "left")
          .drop("url")
          .withColumn("size", when(col("body").isNotNull, length(col("body")).cast("long")))
          .withColumn("checksum", when(col("body").isNotNull, sha1(col("body"))))
          .drop("body")
      }),

      Pipeline.Stage("pages", { df =>
        // deterministic page fan-out per fetched doc (the bitmap-extraction
        // analog: page count derived from the payload size), then W1/F19
        // sequence naming
        df.withColumn("n_pages",
            when(col("status") === 200, col("size") % 4L + 1L).otherwise(0L))
          .withColumn("page", explode_outer(expr(
            "CASE WHEN n_pages > 0 THEN sequence(1, CAST(n_pages AS INT)) ELSE NULL END")))
          .withColumn("page_name",
            when(col("page").isNotNull, format_string("%08d.tif", col("page"))))
      }),

      Pipeline.Stage("orient", { df =>
        // bin/orient_image.sh on each page (A4/A5/T1/T2): page bytes are
        // the stub bitmap-extraction analog (sliced deterministically
        // from the fetched payload's checksum + page name — a real
        // deployment feeds the pdfimages output bytes; same columns)
        val pages = df.filter(col("page").isNotNull)
          .withColumn("content",
            expr("CAST(concat(checksum, '/', page_name) AS BINARY)"))
        val winners = OrientOps.orientationVote(
            pages.select(col("id"), col("page_name"), col("content")),
            Seq("id", "page_name"), ocr, spell)
          .select(col("id"), col("page_name"),
            col("rotation").as("orientation"), col("misspelled"))
        df.join(winners, Seq("id", "page_name"), "left")
      }),

      Pipeline.Stage("group_doc", { df =>
        // one aggregation per component: the page count and the sorted
        // page members (null pages drop out of collect_list), so the
        // METS renders in the same pass; no members → no METS
        val member = struct(col("page").as("seq"), col("page_name"),
          col("checksum"), col("size"))
        val docs = df.groupBy("id", "href", "status").agg(
          max(col("n_pages")).as("n_pages"),
          sort_array(collect_list(when(col("page").isNotNull, member))).as("members"))
        DocOps.renderXml(docs, "id", "mets",
            """concat('<file seq="', m.seq, '" name="', m.page_name, '"/>')""")
          .withColumn("mets", when(size(col("members")) > 0, col("xml")))
          .drop("members", "xml")
      }),

      // group_doc leaves one row per component, so the writeback is the
      // status dispatch alone
      Pipeline.Stage("writeback", df => DocOps.dispatch(df, "status")))

    Pipeline.run(spark, components, checkpointRoot, stages)
  }
}
