package graft

import org.apache.spark.sql.functions._

import graft.operators.DocOps
import graft.plans.HarvestPipeline
import graft.sources.{EadXml, HttpOps}

/** Per-URL statuses and body sizes for the group_doc/writeback
  * differential: the page count is size % 4 + 1, so 7 bytes give four
  * pages, 5 give two, 4 give one; a 200 without a body gives none. */
private object MixFetcher extends HttpOps.HttpFetcher {
  def fetch(url: String): (Int, Array[Byte]) = url.split('/').last match {
    case "four.pdf" => (200, Array.fill(7)('a'.toByte))
    case "two.pdf" => (200, Array.fill(5)('b'.toByte))
    case "one.pdf" => (200, Array.fill(4)('c'.toByte))
    case "nobody.pdf" => (200, null)
    case "gone.pdf" => (404, null)
    case "locked.pdf" => (401, null)
    case _ => (500, null)
  }
}

class HarvestSpec extends SparkSpec {
  import spark.implicits._

  private def components = Seq(
    ("c001", "http://x/docs/a.pdf", null, null, "Folder A"),
    ("c002", "http://x/docs/b.pdf", null, null, "Folder B"),
    ("c003", "http://x/Accessions/c.pdf", null, null, "Accession"), // F1: excluded
    ("c004", "http://x/docs/d.jpg", null, null, "Not a pdf"),       // F1: excluded
    ("c005", "http://x/docs/e.pdf", "none", null, "Suppressed"),    // F1: excluded
    ("c006", "http://x/docs/f.pdf", null, "http://www.loc.gov/METS/", "Done")) // F1
    .toDF("id", "href", "show", "role", "title")

  test("dao candidate selection applies the full F1 predicate") {
    val got = EadXml.daoCandidates(components).select("id").as[String]
      .collect().sorted
    assert(got.toSeq === Seq("c001", "c002"))
  }

  test("harvest pipeline runs end-to-end and is resumable") {
    val root = tmpDir("harvest")
    val out = HarvestPipeline.run(spark, components, root)
    val rows = out.orderBy("id").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("c001", "c002"))
    // stub fetcher is deterministic: every fetched doc got a status
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("status"))))
    // 200-status rows carry METS with ordered file members
    rows.filter(r => r.getInt(r.fieldIndex("status")) == 200).foreach { r =>
      val mets = r.getString(r.fieldIndex("mets"))
      assert(mets.startsWith("<mets id=\"") && mets.endsWith("</mets>"))
      assert(mets.contains("seq=\"1\""))
    }
    // writeback dispatch: 200 → show="new"; 401/404 → show="none"
    rows.foreach { r =>
      val status = r.getInt(r.fieldIndex("status"))
      val show = r.getString(r.fieldIndex("show"))
      if (status == 200) assert(show === "new")
      if (status == 401 || status == 404) assert(show === "none")
    }
    // resume: same output, stages skipped (checkpoints exist)
    val again = HarvestPipeline.run(spark, components, root).orderBy("id").collect()
    assert(again.map(_.toString).toSeq === rows.map(_.toString).toSeq)
  }

  test("EAD XML round-trip: read components, transform, write, re-read (S1/S16)") {
    val dir = tmpDir("ead")
    val xml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<ead>
        |  <c id="MC001_c1"><did><unittitle>First folder</unittitle></did>
        |    <dao href="http://x/a.pdf" show="embed"/></c>
        |  <c id="MC001_c2"><did><unittitle>Second folder</unittitle></did>
        |    <dao href="http://x/b.pdf" show="none"/></c>
        |</ead>""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/test.xml"), xml)

    val comps = EadXml.read(spark, s"$dir/test.xml")
    assert(comps.count() === 2)
    // attributes surface with the '_' prefix; update show like the EAD writeback
    val updated = comps
      .withColumn("dao", expr("named_struct('_href', dao._href, '_show', 'none')"))
    EadXml.write(updated, s"$dir/out")
    val back = EadXml.read(spark, s"$dir/out")
    assert(back.count() === 2)
    assert(back.select("dao._show").as[String].collect().toSeq === Seq("none", "none"))
    val ids = back.select("_id").as[String].collect().sorted
    assert(ids.toSeq === Seq("MC001_c1", "MC001_c2"))
  }

  test("stub fetcher is deterministic and mixes statuses") {
    val urls = (1 to 200).map(i => s"http://x/doc$i.pdf")
    val s1 = urls.map(HttpOps.StubFetcher.fetch(_)._1)
    val s2 = urls.map(HttpOps.StubFetcher.fetch(_)._1)
    assert(s1 === s2)
    assert(s1.count(_ == 200) > 100 && s1.exists(_ != 200))
  }

  /** In-process loopback fixture (no egress needed): paths under /docs/
    * → 200 with a deterministic body, under /auth/ → 401, anything else
    * → 404 — the status surface main.py:172-196 dispatches on. */
  private def withLoopbackServer(f: String => Unit): Unit = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new com.sun.net.httpserver.HttpHandler {
      def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath
        val (status, body) =
          if (path.startsWith("/docs/")) (200, s"pdf-bytes:$path".getBytes("UTF-8"))
          else if (path.startsWith("/auth/")) (401, Array.empty[Byte])
          else (404, Array.empty[Byte])
        ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
        if (body.nonEmpty) ex.getResponseBody.write(body)
        ex.close()
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("REAL JDK transport: status dispatch + body write-if-absent against a loopback server") {
    withLoopbackServer { base =>
      val fetcher = new HttpOps.JdkHttpFetcher(timeoutMs = 5000)
      val work = Seq(s"$base/docs/a.pdf", s"$base/docs/b.pdf",
        s"$base/auth/c.pdf", s"$base/missing/d.pdf").toDF("href")
      val got = HttpOps.fetchAll(work, "href", fetcher)
        .collect().map(r => r.getString(0) ->
          (r.getInt(1), Option(r.getAs[Array[Byte]](2)).map(new String(_, "UTF-8"))))
        .toMap
      assert(got(s"$base/docs/a.pdf") === ((200, Some("pdf-bytes:/docs/a.pdf"))))
      assert(got(s"$base/docs/b.pdf") === ((200, Some("pdf-bytes:/docs/b.pdf"))))
      assert(got(s"$base/auth/c.pdf") === ((401, None)))
      assert(got(s"$base/missing/d.pdf") === ((404, None)))
      // a dead host is a dead-letter row (599), not a job abort
      val dead = fetcher.fetch("http://127.0.0.1:1/never.pdf")
      assert(dead === ((599, null)))
      // so is a MALFORMED href (URI.create throws IllegalArgumentException,
      // not IOException — hand-keyed EAD links contain spaces)
      assert(fetcher.fetch("http://x/a b.pdf") === ((599, null)))
      assert(fetcher.fetch("not a url at all") === ((599, null)))
      // write-if-absent (main.py:184-196): first run writes every 200
      // body, the re-run skips them all and overwrites nothing
      val dir = tmpDir("bodies")
      val results = HttpOps.fetchAll(work, "href", fetcher)
      assert(HttpOps.writeBodiesIfAbsent(results, dir) === ((2L, 0L)))
      val first = new java.io.File(dir).listFiles().map(f =>
        f.getName -> java.nio.file.Files.readString(f.toPath)).toMap
      assert(HttpOps.writeBodiesIfAbsent(results, dir) === ((0L, 2L)))
      val second = new java.io.File(dir).listFiles().map(f =>
        f.getName -> java.nio.file.Files.readString(f.toPath)).toMap
      assert(second === first && first.size === 2)
      assert(first.values.toSet === Set("pdf-bytes:/docs/a.pdf", "pdf-bytes:/docs/b.pdf"))
    }
  }

  test("harvest last mile: EAD document -> pipeline -> METS-dao writeback -> converged document") {
    import java.nio.file.{Files, Paths}
    // the full reference loop (main.py:122-140 select, :172-196 fetch,
    // :518-532 writeback): flatten a real document, select candidates
    // with the ARRAY-form F1, run the checkpointed pipeline, append the
    // METS dao for every 200, splice the document — and prove the
    // harvest CONVERGES: re-reading the written document yields no new
    // candidates, while failed fetches remain candidates for a retry.
    val original =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<ead xmlns:xlink="http://www.w3.org/1999/xlink">
        |<eadheader><eadid>LM001</eadid></eadheader>
        |<archdesc><dsc>
        |  <c id="lm1"><did><unittitle>Will fetch</unittitle>
        |    <dao xlink:href="http://x/docs/lm1.pdf" xlink:show="new"/></did></c>
        |  <c id="lm2"><did><unittitle>No dao</unittitle></did></c>
        |  <c id="lm3"><did><unittitle>Done before</unittitle>
        |    <dao xlink:href="http://x/docs/lm3.pdf"/>
        |    <dao xlink:href="http://x/docs/lm3.mets" xlink:role="http://www.loc.gov/METS/" xlink:title="METS: lm3"/></did></c>
        |</dsc></archdesc></ead>""".stripMargin
    val p = Paths.get(tmpDir("last_mile"), "lm.xml")
    Files.createDirectories(p.getParent)
    Files.writeString(p, original)
    val flat = EadXml.componentsTree(spark, p.toString)
    // array-form F1: lm1 only (lm2 has no dao, lm3 has the METS sibling)
    val cands = EadXml.daoCandidatesNested(flat)
    assert(cands.select("id").as[String].collect().toSeq === Seq("lm1"))
    // pipeline input: one row per candidate pdf dao
    val work = cands.select(col("id"), col("title"),
        explode(col("daos")).as("dao"))
      .filter(col("dao.href").contains(".pdf"))
      .select(col("id"), col("dao.href").as("href"),
        col("dao.show").as("show"), col("dao.role").as("role"),
        col("title"))
    val out = HarvestPipeline.run(spark, work, tmpDir("last_mile_ckpt"))
    // every 200 gets the METS dao appended; stub statuses are
    // deterministic, so dispatch on what the pipeline actually returned
    val harvested = out.filter(col("status") === 200)
      .select(col("id"),
        concat(regexp_replace(col("href"), "\\.pdf$", ""), lit(".mets")).as("metsHref"),
        concat(lit("METS: "), col("id")).as("metsTitle"))
    val nHarvested = harvested.count()
    val updated = EadXml.insertMetsDao(flat, harvested)
    val spliced = EadXml.updateDocument(original, updated)
    assert(spliced.contains("<eadid>LM001</eadid>")) // header untouched
    val p2 = Paths.get(tmpDir("last_mile2"), "lm2.xml")
    Files.createDirectories(p2.getParent)
    Files.writeString(p2, spliced)
    val back = EadXml.componentsTree(spark, p2.toString)
    // lm3's pre-existing pair survived verbatim
    val lm3 = back.filter(col("id") === "lm3").select("daos")
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(lm3.length === 2 && lm3(1).getString(3) === "METS: lm3")
    // harvested components now carry the inserted METS dao...
    val lm1 = back.filter(col("id") === "lm1").select("daos")
      .head.getSeq[org.apache.spark.sql.Row](0)
    if (nHarvested == 1L) {
      assert(lm1.length === 2)
      assert(lm1(1).getString(0) === "http://x/docs/lm1.mets")
      assert(lm1(1).getString(2) === EadXml.MetsRole)
      // ...and the document has CONVERGED: F1 finds nothing new
      assert(EadXml.daoCandidatesNested(back).isEmpty)
    } else {
      // stub returned a non-200 for lm1: it must still be a candidate
      // (the retry semantics), and the document must be unchanged there
      assert(lm1.length === 1)
      assert(EadXml.daoCandidatesNested(back).select("id")
        .as[String].collect().toSeq === Seq("lm1"))
    }
  }

  test("harvest pipeline end-to-end over the REAL transport (loopback)") {
    withLoopbackServer { base =>
      val comps = Seq(
        ("r001", s"$base/docs/a.pdf", null, null, "Folder A"),
        ("r002", s"$base/auth/b.pdf", null, null, "Locked"),
        ("r003", s"$base/missing/c.pdf", null, null, "Gone"))
        .toDF("id", "href", "show", "role", "title")
      val out = HarvestPipeline.run(spark, comps, tmpDir("harvest_real"),
        fetcher = new HttpOps.JdkHttpFetcher(timeoutMs = 5000))
      val byId = out.collect().map(r => r.getString(0) ->
        (r.getInt(r.fieldIndex("status")), r.getString(r.fieldIndex("show")))).toMap
      // the same F3 dispatch the stub path exercises, now on real HTTP
      assert(byId("r001")._1 === 200 && byId("r001")._2 === "new")
      assert(byId("r002")._1 === 401 && byId("r002")._2 === "none")
      assert(byId("r003")._1 === 404 && byId("r003")._2 === "none")
    }
  }

  test("a cold harvest launches at most 11 jobs and a no-op re-run none") {
    val root = tmpDir("harvest_jobs")
    val cold = countJobs(HarvestPipeline.run(spark, components, root))
    assert(cold <= 11, s"cold run launched $cold jobs")
    assert(countJobs(HarvestPipeline.run(spark, components, root)) === 0)
  }

  test("every harvest checkpoint reads back with its inferred schema") {
    val root = tmpDir("harvest_schema")
    HarvestPipeline.run(spark, components, root)
    assert(assertCheckpointSchemas(root) === Seq("00_candidates", "01_fetch",
      "02_pages", "03_orient", "04_group_doc", "05_writeback"))
  }

  test("one-pass group_doc and join-free writeback equal the two-aggregation formula") {
    val comps = Seq("four", "two", "one", "nobody", "gone", "locked", "broken")
      .zipWithIndex.map { case (name, i) =>
        (f"d$i%02d", s"http://x/docs/$name.pdf", null: String, null: String, name) }
      .toDF("id", "href", "show", "role", "title")
    val root = tmpDir("harvest_diff")
    val out = HarvestPipeline.run(spark, comps, root, fetcher = MixFetcher)

    // the formula the two stages replace, on the same orient checkpoint:
    // page members grouped by id, the per-component row grouped apart,
    // joined, then the writeback self-join on id
    val orient = spark.read.parquet(s"$root/03_orient")
    val members = orient.filter(col("page").isNotNull)
      .select(col("id"), col("page").as("seq"), col("page_name"),
        col("checksum"), col("size"))
    val docs = DocOps.groupToDoc(members, "id", Seq("page_name", "checksum", "size"),
      Seq("seq"))
    val mets = DocOps.renderXml(docs, "id", "mets",
      """concat('<file seq="', m.seq, '" name="', m.page_name, '"/>')""")
    val grouped = orient.groupBy("id", "href", "status").agg(max(col("n_pages")).as("n_pages"))
      .join(mets.select(col("id"), col("xml").as("mets")), Seq("id"), "left")
    val old = DocOps.writeback(grouped.select(col("id"), col("href")),
      grouped.select(col("id"), col("status"), col("n_pages"), col("mets")),
      "id", "status")

    assert(out.columns.toSeq === old.columns.toSeq)
    val got = out.orderBy("id").collect().toSeq
    assert(got === old.orderBy("id").collect().toSeq)
    // the fixture covers what the fused stages must get right
    val byName = got.map(r =>
      r.getAs[String]("href").split('/').last.stripSuffix(".pdf") -> r).toMap
    assert(byName("four").getAs[Long]("n_pages") === 4L)
    assert(byName("four").getAs[String]("mets").split("<file ").length === 5)
    assert(byName("nobody").isNullAt(byName("nobody").fieldIndex("mets")))
    Seq("gone" -> "none", "locked" -> "none", "broken" -> null).foreach { case (t, show) =>
      assert(byName(t).getAs[Long]("n_pages") === 0L)
      assert(byName(t).isNullAt(byName(t).fieldIndex("mets")))
      assert(byName(t).getAs[String]("show") === show)
    }
  }
}
