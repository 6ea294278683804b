package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.p6.Audit
import graft.sources.WorkbookSource

/** S1 xlsx ingest + CLI parity (parse-excel / audit-excel / download),
  * mirroring the reference's CLI E2E tests (tests/test_cli_parse_excel.py,
  * tests/test_cli_audit_excel.py, tests/test_preprocess.py).
  */
class CliSpec extends SparkSpec {

  /** Minimal OOXML writer: enough structure for WorkbookSource (and for
    * any standards-compliant reader) — workbook + rels + one sheet XML
    * per sheet, inline strings for text, bare <v> for numerics.
    */
  private def writeXlsx(path: Path, sheets: Seq[(String, Seq[Seq[String]])]): Unit = {
    val zip = new ZipOutputStream(Files.newOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(content.getBytes(StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val numeric = "^-?\\d+(\\.\\d+)?$".r
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook><sheets>""" +
        sheets.zipWithIndex.map { case ((n, _), i) =>
          s"""<sheet name="${esc(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString + "</sheets></workbook>")
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships>""" +
        sheets.indices.map(i =>
          s"""<Relationship Id="rId${i + 1}" Target="worksheets/sheet${i + 1}.xml"/>""")
          .mkString + "</Relationships>")
    sheets.zipWithIndex.foreach { case ((_, rows), i) =>
      val body = rows.map { row =>
        "<row>" + row.map {
          case v if v.isEmpty => "<c/>"
          case v if numeric.matches(v) => s"<c><v>$v</v></c>"
          case v => s"""<c t="inlineStr"><is><t>${esc(v)}</t></is></c>"""
        }.mkString + "</row>"
      }.mkString
      entry(s"xl/worksheets/sheet${i + 1}.xml",
        s"""<?xml version="1.0"?><worksheet><sheetData>$body</sheetData></worksheet>""")
    }
    zip.close()
  }

  private def writeHpoJson(path: Path): Unit = {
    val obo = "http://purl.obolibrary.org/obo"
    def node(id: String, lbl: String, deprecated: Boolean = false) =
      s"""{"id": "$obo/HP_$id", "lbl": "$lbl"""" +
        (if (deprecated)
          s""", "meta": {"deprecated": true, "basicPropertyValues": [
             |{"pred": "$obo/IAO_0100001", "val": "$obo/HP_0000510"}]}}""".stripMargin
        else "}")
    def edge(sub: String, obj: String) =
      s"""{"sub": "$obo/HP_$sub", "pred": "is_a", "obj": "$obo/HP_$obj"}"""
    Files.writeString(path,
      s"""{"graphs": [{
         |  "nodes": [${node("0000001", "All")}, ${node("0000118", "Phenotypic abnormality")},
         |            ${node("0000478", "Abnormality of the eye")}, ${node("0000510", "Rod-cone dystrophy")},
         |            ${node("0009999", "Old term", deprecated = true)}],
         |  "edges": [${edge("0000118", "0000001")}, ${edge("0000478", "0000118")},
         |            ${edge("0000510", "0000478")}]
         |}]}""".stripMargin)
  }

  private val genotypeRows = Seq(
    Seq("Patient ID", "Contact Email", "Phasing", "Chrom", "Start Position (bp)",
      "End Position (bp)", "Ref", "Alt", "Gene", "HGVSg", "HGVSc", "HGVSp",
      "Zygosity", "Inheritance"),
    Seq("P100", "user@example.com", "1", "chr16", "100", "100", "A", "G", "GENE1",
      "chr16:g.100A>G", "NM_000000.0:c.100A>G", "NP_000000.0:p.(Lys34Glu)",
      "het", "inherited"))

  private val phenotypeRows = Seq(
    Seq("Patient ID", "HPO: Term", "Timestamp", "Status"),
    Seq("P100", "Rod-cone dystrophy (HP:510)", "20200101", "1"),
    Seq("P100", "NAD", "T1", "1"))

  private def stdoutOf(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8")) { body }
    buf.toString("UTF-8")
  }

  test("xlsx round-trip: headers normalized, aliases applied, values preserved") {
    val dir = Files.createTempDirectory("xlsx")
    val f = dir.resolve("wb.xlsx")
    writeXlsx(f, Seq("Variants" -> genotypeRows, "HPO" -> phenotypeRows))
    val tables = WorkbookSource.readWorkbook(spark, f.toString)
    assert(tables.keySet == Set("Variants", "HPO"))
    val g = tables("Variants")
    assert(g.columns.toSeq == Seq("patient_id", "contact_email", "phasing",
      "chromosome", "start_position", "end_position", "reference", "alternate",
      "gene_symbol", "hgvsg", "hgvsc", "hgvsp", "zygosity", "inheritance"))
    val row = g.collect()(0)
    assert(row.getString(0) == "P100" && row.getString(4) == "100")
    val p = tables("HPO")
    assert(p.columns.toSeq == Seq("patient_id", "hpo_id", "date_of_observation", "status"))
  }

  test("audit-excel: classification entries and renderings (ref test_cli_audit_excel)") {
    val dir = Files.createTempDirectory("xlsx")
    val f = dir.resolve("wb.xlsx")
    writeXlsx(f, Seq("Variants" -> genotypeRows, "HPO" -> phenotypeRows,
      "Notes" -> Seq(Seq("id", "freeform"), Seq("1", "hello"))))
    val tables = WorkbookSource.readWorkbook(spark, f.toString).toSeq.sortBy(_._1)
    val entries = Audit.preprocess(tables)
    val byKey = entries.map(e => (e.step, e.sheet) -> e.message).toMap
    assert(byKey(("normalize-headers", "Variants")) == "13 cols")
    assert(byKey(("classify-sheet", "Variants")) == "genotype (raw+hgvs)")
    assert(byKey(("classify-sheet", "HPO")) == "phenotype (hgvs)") // ref quirk
    assert(byKey(("classify-sheet", "Notes")) == "skip (hgvs)")
    assert(!entries.exists(_.step == "variant-check")) // variant cols present
    val table = Audit.renderTable(entries)
    assert(table.startsWith("SHEET"))
    val json = Audit.renderJson(entries)
    assert(json.contains("\"step\": \"classify-sheet\""))
  }

  test("parse-excel end-to-end: packets written, stdout contract honored") {
    val dir = Files.createTempDirectory("cli")
    val wb = dir.resolve("wb.xlsx")
    val hpo = dir.resolve("hp.json")
    writeXlsx(wb, Seq("Variants" -> genotypeRows, "HPO" -> phenotypeRows))
    writeHpoJson(hpo)
    sys.props("graft.keep-session") = "1"
    sys.props("graft.cwd") = dir.toString
    val out = try stdoutOf {
      graft.cli.Main.parseExcel(Map(
        "--excel-path" -> wb.toString, "--custom-hpo" -> hpo.toString))
    } finally { sys.props -= "graft.cwd" }
    assert(out.contains("Wrote 1 phenopacket files to "))
    assert(out.contains("Created 1 Genotype objects"))
    assert(out.contains("Created 1 Phenotype objects"))
    assert(out.contains("Warnings found in mapping:"))
    assert(out.contains("'NAD' encountered"))
    val packets = Files.walk(dir.resolve("phenopacket_from_excel")).iterator()
    val jsons = scala.jdk.CollectionConverters.IteratorHasAsScala(packets).asScala
      .filter(_.toString.endsWith(".json")).toList
    assert(jsons.size == 1 && jsons.head.getFileName.toString == "1.json")
    val body = Files.readString(jsons.head)
    // golden document: exact GA4GH phenopacket shape for P100
    val golden = """{"id":"P100","subject":{"id":"P100"},""" +
      """"phenotypic_features":[{"type":{"id":"HP:0000510"},"excluded":false}],""" +
      """"interpretations":[{"id":"P100-interpretation-0",""" +
      """"progress_status":"COMPLETED","diagnosis":{"genomic_interpretations":""" +
      """[{"subject_or_biosample_id":"P100","interpretation_status":"CONTRIBUTORY",""" +
      """"variant_interpretation":{"variation_descriptor":{"expressions":""" +
      """[{"syntax":"hgvs","value":"16:g.100A>G"}],"allelic_state":""" +
      """{"id":"GENO:0000135","label":"heterozygous"},"gene_context":""" +
      """{"symbol":"GENE1"}}}}]}}],"diseases":[],"measurements":[],"biosamples":[]}"""
    assert(body == golden)
  }

  test("parse-excel: issues render is capped, remainder reported with exact count") {
    // 10 NAD rows -> 10 warning issues; with graft.maxRenderedIssues=3
    // the render must print exactly 3 messages plus an "and 7 more"
    // line — never collect the full issues DF onto the driver
    val dir = Files.createTempDirectory("clicap")
    val wb = dir.resolve("wb.xlsx")
    val hpo = dir.resolve("hp.json")
    val manyNad = Seq(Seq("Patient ID", "HPO: Term", "Timestamp", "Status")) ++
      (1 to 10).map(_ => Seq("P100", "NAD", "T1", "1"))
    writeXlsx(wb, Seq("Variants" -> genotypeRows, "HPO" -> manyNad))
    writeHpoJson(hpo)
    sys.props("graft.keep-session") = "1"
    sys.props("graft.cwd") = dir.toString
    sys.props("graft.maxRenderedIssues") = "3"
    val out = try stdoutOf {
      graft.cli.Main.parseExcel(Map(
        "--excel-path" -> wb.toString, "--custom-hpo" -> hpo.toString))
    } finally { sys.props -= "graft.cwd"; sys.props -= "graft.maxRenderedIssues" }
    assert(out.contains("Warnings found in mapping:"))
    val nadLines = out.linesIterator.count(_.contains("'NAD' encountered"))
    assert(nadLines == 3, s"expected 3 rendered NAD warnings, got $nadLines:\n$out")
    assert(out.contains("and 7 more warnings"), out)
  }

  test("parse-excel --legacy-names: files named by patient id, not 1.json..N.json") {
    val dir = Files.createTempDirectory("clilegacy")
    val wb = dir.resolve("wb.xlsx")
    val hpo = dir.resolve("hp.json")
    writeXlsx(wb, Seq("Variants" -> genotypeRows, "HPO" -> phenotypeRows))
    writeHpoJson(hpo)
    sys.props("graft.keep-session") = "1"
    sys.props("graft.cwd") = dir.toString
    val out = try stdoutOf {
      graft.cli.Main.parseExcel(Map(
        "--excel-path" -> wb.toString, "--custom-hpo" -> hpo.toString,
        "--legacy-names" -> "true"))
    } finally { sys.props -= "graft.cwd" }
    assert(out.contains("Wrote 1 phenopacket files to "))
    val packets = Files.walk(dir.resolve("phenopacket_from_excel")).iterator()
    val jsons = scala.jdk.CollectionConverters.IteratorHasAsScala(packets).asScala
      .filter(_.toString.endsWith(".json")).toList
    assert(jsons.size == 1 && jsons.head.getFileName.toString == "P100.json")
  }

  test("parse-excel: relative HPO path resolves against graft.cwd, not process cwd") {
    // hp.json exists ONLY under the overridden cwd — cwd-relative
    // resolution (the old behavior) would miss it and exit(1)
    val dir = Files.createTempDirectory("clicwd")
    val wb = dir.resolve("wb.xlsx")
    writeXlsx(wb, Seq("Variants" -> genotypeRows, "HPO" -> phenotypeRows))
    writeHpoJson(dir.resolve("hp.json"))
    sys.props("graft.keep-session") = "1"
    sys.props("graft.cwd") = dir.toString
    val out = try stdoutOf {
      graft.cli.Main.parseExcel(Map(
        "--excel-path" -> wb.toString, "--custom-hpo" -> "hp.json"))
    } finally { sys.props -= "graft.cwd" }
    assert(out.contains("Wrote 1 phenopacket files to "))
  }

  test("csv sheet-dir ingest: same pipeline as xlsx, RFC-4180 quoting honored") {
    val dir = Files.createTempDirectory("csvwb")
    def csv(rows: Seq[Seq[String]]): String = rows.map(_.map { f =>
      if (f.exists(c => c == ',' || c == '"')) "\"" + f.replace("\"", "\"\"") + "\""
      else f
    }.mkString(",")).mkString("\n")
    Files.writeString(dir.resolve("Variants.csv"), csv(genotypeRows))
    Files.writeString(dir.resolve("HPO.csv"), csv(phenotypeRows))
    Files.writeString(dir.resolve("Notes.tsv"), "id\tfreeform\n1\t\"a, \"\"b\"\"\"")
    val tables = WorkbookSource.readSheetDir(spark, dir.toString)
    assert(tables.keySet == Set("Variants", "HPO", "Notes"))
    assert(tables("Variants").columns.toSeq.take(2) == Seq("patient_id", "contact_email"))
    assert(tables("Variants").collect()(0).getString(0) == "P100")
    assert(tables("Notes").collect()(0).getString(1) == "a, \"b\"") // quoted tsv field

    // the CLI accepts the directory wherever an xlsx path goes
    val hpo = dir.resolve("hp.json")
    writeHpoJson(hpo)
    sys.props("graft.keep-session") = "1"
    sys.props("graft.cwd") = dir.toString
    val out = try stdoutOf {
      graft.cli.Main.parseExcel(Map(
        "--excel-path" -> dir.toString, "--custom-hpo" -> hpo.toString))
    } finally { sys.props -= "graft.cwd" }
    assert(out.contains("Wrote 1 phenopacket files to "))
    assert(out.contains("Created 1 Genotype objects"))
  }

  /** `dir/corpus` with two readable workbooks (patients P100 and P200)
    * and one corrupt file, plus `dir/allbad` holding only a corrupt file
    * and the ontology `dir/hp.json`.
    */
  private def writeCorpus(dir: Path): Path = {
    val corpus = Files.createDirectory(dir.resolve("corpus"))
    def patientRows(id: String) = (
      genotypeRows.head +: genotypeRows.tail.map(r => id +: r.tail),
      phenotypeRows.head +: phenotypeRows.tail.map(r => id +: r.tail))
    val (g1, p1) = patientRows("P100")
    val (g2, p2) = patientRows("P200")
    writeXlsx(corpus.resolve("a.xlsx"), Seq("Variants" -> g1, "HPO" -> p1))
    writeXlsx(corpus.resolve("b.xlsx"), Seq("Variants" -> g2, "HPO" -> p2))
    Files.write(corpus.resolve("broken.xlsx"),
      "definitely not a zip".getBytes(StandardCharsets.UTF_8))
    val allBad = Files.createDirectory(dir.resolve("allbad"))
    Files.write(allBad.resolve("junk.xlsx"),
      "also not a zip".getBytes(StandardCharsets.UTF_8))
    writeHpoJson(dir.resolve("hp.json"))
    corpus
  }

  /** In-process `parse-excel --dir <corpus>` with `dir/hp.json`, output under `dir`. */
  private def parseDir(dir: Path, corpus: Path): String = {
    sys.props("graft.keep-session") = "1"
    sys.props("graft.cwd") = dir.toString
    try stdoutOf {
      graft.cli.Main.parseExcel(Map(
        "--dir" -> corpus.toString, "--custom-hpo" -> dir.resolve("hp.json").toString))
    } finally { sys.props -= "graft.cwd" }
  }

  test("parse-excel --dir: multi-workbook corpus through the same pipeline; corrupt file -> error issue, not abort") {
    val dir = Files.createTempDirectory("cliCorpus")
    val corpus = writeCorpus(dir)
    val out = parseDir(dir, corpus)
    // both parseable workbooks mapped; the corrupt one degrades to a
    // rendered error NAMING the file, and the command still completes
    // (exit-0 policy: partial corruption never kills a corpus ingest)
    assert(out.contains("Wrote 2 phenopacket files to "))
    assert(out.contains("Created 2 Genotype objects"))
    assert(out.contains("Errors found in mapping:"))
    assert(out.contains("broken.xlsx"))
    assert(out.contains("not a readable xlsx"))

    // NOTHING readable -> nonzero exit (IllegalStateException stands in
    // for exit(1) under the in-process test drive)
    val e = intercept[IllegalStateException](parseDir(dir, dir.resolve("allbad")))
    assert(e.getMessage.contains("all 1 workbook files"))

    // and -e XOR --dir is enforced
    val e2 = intercept[IllegalStateException] {
      graft.cli.Main.parseExcel(Map.empty)
    }
    assert(e2.getMessage.contains("exactly one of"))

    // audit-excel --dir over the same corpus: per-kind classification
    // plus an ingest-workbook error entry naming the corrupt file
    val audit = stdoutOf {
      graft.cli.Main.auditExcel(Map("--dir" -> corpus.toString))
    }
    assert(audit.contains("ingest-workbook"))
    assert(audit.contains("broken.xlsx"))
    assert(audit.contains("classify-sheet"))
    assert(audit.contains("genotype (raw+hgvs)"))
    // provenance columns stripped from the header count: the Variants
    // sheets carry 13 data cols + index, like the single-file audit
    assert(audit.contains("13 cols"))

    // a --dir that is not a directory refuses with the usage exit
    val e3 = intercept[IllegalStateException] {
      graft.cli.Main.auditExcel(Map("--dir" -> corpus.resolve("a.xlsx").toString))
    }
    assert(e3.getMessage.contains("not a directory"))
  }

  test("parse-excel: a missing --custom-hpo refuses naming the path instead of exiting the JVM") {
    val dir = Files.createTempDirectory("clihpo")
    val wb = dir.resolve("wb.xlsx")
    writeXlsx(wb, Seq("Variants" -> genotypeRows, "HPO" -> phenotypeRows))
    val missing = dir.resolve("no-such-hp.json")
    sys.props("graft.keep-session") = "1"
    val e = intercept[IllegalStateException] {
      graft.cli.Main.parseExcel(Map(
        "--excel-path" -> wb.toString, "--custom-hpo" -> missing.toString))
    }
    assert(e.getMessage.contains(missing.toString), e.getMessage)
  }

  test("parse-excel / audit-excel --dir release every frame they persist, on success and on refusal") {
    val dir = Files.createTempDirectory("clirelease")
    val corpus = writeCorpus(dir)
    def leaked(body: => Any): Set[Int] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      body
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    assert(leaked(parseDir(dir, corpus)).isEmpty)
    assert(leaked(intercept[IllegalStateException](parseDir(dir, dir.resolve("allbad")))).isEmpty)
    assert(leaked(stdoutOf(graft.cli.Main.auditExcel(Map("--dir" -> corpus.toString)))).isEmpty)
  }

  test("parse-excel --dir evaluates its mapping once: job and broadcast-build ceilings") {
    // Without the persisted mapping each of the sink, stats, the issue
    // counts and the two issue renders re-ran the mapping plan, and the
    // last three rebuilt the ontology broadcasts. Jobs are counted by a
    // local property set on this thread (broadcast builds inherit it);
    // a broadcast build carries Spark's "broadcast exchange" job tag.
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = Files.createTempDirectory("clijobs")
    val corpus = writeCorpus(dir)
    val tag = "graft.test.cliJobs"
    val jobs, broadcasts = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null) {
          jobs.incrementAndGet()
          if (Option(e.properties.getProperty("spark.job.tags")).exists(
              _.split(",").exists(_.startsWith("broadcast exchange")))) broadcasts.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "1")
    val out = try parseDir(dir, corpus) finally {
      sc.setLocalProperty(tag, null)
      org.apache.spark.sql.graft.ListenerFlush.flush(spark)
      sc.removeSparkListener(listener)
    }
    assert(out.contains("Wrote 2 phenopacket files to "))
    // 35 jobs and 11 broadcast builds when every action re-ran the mapping
    assert(jobs.get <= 33 && broadcasts.get <= 6,
      s"parse-excel --dir ran ${jobs.get} jobs, ${broadcasts.get} broadcast builds")
  }

  test("fromObographs: deprecated flag + IAO:0100001 replacement ids (J2 alt_term_ids)") {
    val dir = Files.createTempDirectory("obo")
    val hpo = dir.resolve("hp.json")
    writeHpoJson(hpo)
    val ont = graft.p6.Ontology.fromObographs(spark, hpo.toString)
    val old = ont.terms.filter(org.apache.spark.sql.functions.col("term_id") === "HP:0009999")
      .collect()(0)
    assert(old.getAs[Boolean]("is_obsolete"))
    assert(old.getSeq[String](old.fieldIndex("alt_ids")) == Seq("HP:0000510"))
    // non-deprecated nodes carry no replacements
    val live = ont.terms.filter(org.apache.spark.sql.functions.col("term_id") === "HP:0000510")
      .collect()(0)
    assert(!live.getAs[Boolean]("is_obsolete"))
    assert(live.getSeq[String](live.fieldIndex("alt_ids")).isEmpty)
  }

  test("download: file:// base URL fetch (offline mirror of ref test_download_mock)") {
    val dir = Files.createTempDirectory("dl")
    val releases = dir.resolve("releases").resolve("v2024-04-26")
    Files.createDirectories(releases)
    Files.writeString(releases.resolve("hp.json"), """{"graphs": []}""")
    val outDir = dir.resolve("data")
    // GRAFT_HPO_BASE_URL is read from env; drive the same path via a
    // direct URL copy check instead: point base at the file:// tree.
    val out = stdoutOf {
      withEnv("GRAFT_HPO_BASE_URL", s"file://${dir.resolve("releases")}") {
        graft.cli.Main.download(Map(
          "--data-path" -> outDir.toString, "--hpo-version" -> "2024-04-26"))
      }
    }
    assert(out.contains("Downloading HPO release v2024-04-26"))
    assert(out.contains("Saved HPO JSON to "))
    assert(Files.readString(outDir.resolve("hp.json")).contains("graphs"))
  }

  test("download: latest release resolved from a file:// mirror's version dirs") {
    val dir = Files.createTempDirectory("dl-latest")
    // v9 would win a naive lexicographic max ("v9" > "v2024-…"); the
    // numeric-aware ordering must rank it below the date tags
    for (tag <- Seq("v2023-10-09", "v2024-04-26", "v2024-03-06", "v9")) {
      val rel = dir.resolve("releases").resolve(tag)
      Files.createDirectories(rel)
      Files.writeString(rel.resolve("hp.json"), s"""{"graphs": [], "tag": "$tag"}""")
    }
    val outDir = dir.resolve("data")
    val out = stdoutOf {
      withEnv("GRAFT_HPO_BASE_URL", s"file://${dir.resolve("releases")}") {
        graft.cli.Main.download(Map("--data-path" -> outDir.toString))
      }
    }
    // max version-tag wins (date tags sort lexicographically)
    assert(out.contains("Downloading HPO release v2024-04-26"))
    assert(Files.readString(outDir.resolve("hp.json")).contains("v2024-04-26"))
  }

  test("download: latest release resolved from the releases API tag_name") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val path = exchange.getRequestURI.getPath
      val payload =
        if (path == "/latest") """{"tag_name":"v2024-08-13"}"""
        else """{"graphs": ["from-api-tag"]}"""
      val bytes = payload.getBytes(StandardCharsets.UTF_8)
      exchange.sendResponseHeaders(200, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val dir = Files.createTempDirectory("dl-api")
      val out = stdoutOf {
        withEnv("GRAFT_HPO_BASE_URL", base) {
          withEnv("GRAFT_HPO_API_URL", s"$base/latest") {
            graft.cli.Main.download(Map("--data-path" -> dir.toString))
          }
        }
      }
      assert(out.contains("Downloading HPO release v2024-08-13"))
      assert(Files.readString(dir.resolve("hp.json")).contains("from-api-tag"))
    } finally server.stop(0)
  }

  test("download: a file:// mirror with no vTAG directories refuses naming the base instead of exiting the JVM") {
    val dir = Files.createTempDirectory("dl-none")
    // a non-release directory is not a version: the mirror has none
    Files.createDirectories(dir.resolve("releases").resolve("latest"))
    val base = s"file://${dir.resolve("releases")}"
    sys.props("graft.keep-session") = "1"
    val e = intercept[IllegalStateException] {
      withEnv("GRAFT_HPO_BASE_URL", base) {
        graft.cli.Main.download(Map("--data-path" -> dir.resolve("data").toString))
      }
    }
    assert(e.getMessage.contains(base), e.getMessage)
  }

  /** JDK 17 blocks env mutation; emulate via a sys.prop fallback the
    * command consults first — see Main.download.
    */
  private def withEnv(k: String, v: String)(body: => Unit): Unit = {
    sys.props(s"graft.env.$k") = v
    try body finally sys.props -= s"graft.env.$k"
  }

  test("CLI session carries GraftExtensions: kernel functions reachable from SQL") {
    // the CLI builds its own session; without .withExtensions a SQL
    // user of the CLI silently loses every registered kernel function
    // and optimizer rule the Scala API path gets (VERDICT r9 #4).
    // Fresh-session dance as in VectorExprSpec: builder extensions are
    // ignored when an active session already exists.
    import org.apache.spark.sql.SparkSession
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = graft.cli.Main.session()
      assert(s2.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
        .collect()(0).getDouble(0) == 11.0)
      assert(s2.sql(
        "SELECT byte_dot(array(CAST(3 AS TINYINT)), array(CAST(5 AS TINYINT))) AS d")
        .collect()(0).getLong(0) == 15L)
    } finally {
      SparkSession.setActiveSession(orig)
      SparkSession.setDefaultSession(orig)
    }
  }
}
