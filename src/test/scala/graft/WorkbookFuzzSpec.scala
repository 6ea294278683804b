package graft

import java.util.zip.{ZipEntry, ZipOutputStream}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.sources.WorkbookSource

/** ScalaCheck fuzz of the XLSX reader (round-7 review item): the
  * reference's loader faced arbitrary clinician spreadsheets, but the
  * checked-in fixtures are well-formed. Here random workbooks —
  * random sheet names (incl. XML-escapable chars), shared vs inline vs
  * boolean vs numeric vs formula-string cells, rich-text shared
  * strings, sparse rows with explicit A1-style refs, empty sheets,
  * absolute and relative rel targets — are WRITTEN as real OOXML zips
  * and round-tripped through [[WorkbookSource.readRaw]] against a
  * pure-Scala expected grid computed from the generated model.
  */
class WorkbookFuzzSpec extends SparkSpec {

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), p)
    assert(r.passed, r.status.toString)
  }

  // ---------------------------------------------------------- model
  private sealed trait Cell { def expected(shared: IndexedSeq[String]): String }
  private case class SharedCell(idx: Int, padIdx: Boolean) extends Cell {
    def expected(shared: IndexedSeq[String]): String = shared.lift(idx).getOrElse("")
  }
  private case class InlineCell(s: String) extends Cell {
    def expected(shared: IndexedSeq[String]): String = s
  }
  private case class BoolCell(v: Boolean) extends Cell {
    def expected(shared: IndexedSeq[String]): String = if (v) "true" else "false"
  }
  private case class NumCell(s: String) extends Cell {
    def expected(shared: IndexedSeq[String]): String = s
  }
  private case class FormulaStrCell(s: String) extends Cell {
    def expected(shared: IndexedSeq[String]): String = s
  }

  /** rows: per row, (explicitRefs, cells) — None = gap, representable
    * only when the row writes explicit r= refs.
    */
  private case class SheetModel(name: String, target: String,
      absoluteTarget: Boolean, rows: Seq[(Boolean, Seq[Option[Cell]])])
  private case class BookModel(shared: IndexedSeq[String],
      richSplit: Set[Int], sheets: Seq[SheetModel])

  // ------------------------------------------------------ generators
  // é/世: non-ASCII survives the zip+DOM round trip too
  private val textGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(10)),
    Gen.const(""),
    Gen.const("  padded  "),
    Gen.const("a&b<c>d\"e'f"),
    Gen.const("café 世"),
    Gen.alphaNumStr.map(s => s"line $s & <tag>"))

  private def cellGen(nShared: Int): Gen[Cell] = Gen.frequency(
    4 -> (if (nShared > 0)
      Gen.zip(Gen.choose(0, nShared - 1), Gen.oneOf(true, false))
        .map { case (i, p) => SharedCell(i, p) }
    else textGen.map(InlineCell)),
    3 -> textGen.map(InlineCell),
    1 -> Gen.oneOf(true, false).map(BoolCell),
    2 -> Gen.oneOf(Gen.choose(-9999, 99999).map(_.toString),
      Gen.choose(0, 9999).map(i => s"$i.25")).map(NumCell),
    1 -> textGen.map(FormulaStrCell))

  private def rowGen(nShared: Int): Gen[(Boolean, Seq[Option[Cell]])] = for {
    explicit <- Gen.oneOf(true, false)
    width <- Gen.choose(0, 8)
    cells <- Gen.listOfN(width, for {
      gap <- if (explicit) Gen.frequency(4 -> false, 1 -> true) else Gen.const(false)
      c <- cellGen(nShared)
    } yield if (gap) None else Some(c))
  } yield (explicit, cells)

  private val bookGen: Gen[BookModel] = for {
    shared <- Gen.listOf(textGen).map(_.take(6).toIndexedSeq)
    rich <- Gen.listOf(Gen.choose(0, math.max(0, shared.size - 1))).map(_.toSet)
    nSheets <- Gen.choose(0, 4)
    sheets <- Gen.listOfN(nSheets, for {
      base <- Gen.alphaNumStr.map(_.take(6))
      decor <- Gen.oneOf("", " s&p ", "<odd>", "q\"q")
      abs <- Gen.oneOf(true, false)
      rows <- Gen.listOfN(5, rowGen(shared.size)).flatMap(rs =>
        Gen.choose(0, 5).map(rs.take)) // 0 rows = empty sheet
    } yield SheetModel(base + decor, "", abs, rows))
  } yield BookModel(shared, rich,
    // unique names + per-sheet targets assigned positionally
    sheets.zipWithIndex.map { case (s, i) =>
      s.copy(name = s"${s.name}_$i", target = s"worksheets/sheet${i + 1}.xml")
    })

  // ---------------------------------------------------------- writer
  private def esc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;").replace("'", "&apos;")

  /** "A", "B", .. "Z", "AA", .. (0-based index -> letters). */
  private def colLetters(i: Int): String = {
    var n = i + 1
    val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def cellXml(c: Cell, ref: Option[String]): String = {
    val r = ref.map(x => s""" r="$x"""").getOrElse("")
    c match {
      case SharedCell(i, pad) =>
        val v = if (pad) s" $i " else i.toString
        s"""<c$r t="s"><v>$v</v></c>"""
      case InlineCell(s) => s"""<c$r t="inlineStr"><is><t>${esc(s)}</t></is></c>"""
      case BoolCell(v) => s"""<c$r t="b"><v>${if (v) "1" else "0"}</v></c>"""
      case NumCell(s) => s"""<c$r><v>$s</v></c>"""
      case FormulaStrCell(s) => s"""<c$r t="str"><v>${esc(s)}</v></c>"""
    }
  }

  private def write(book: BookModel): java.nio.file.Path = {
    val path = java.nio.file.Files.createTempFile("fuzzwb", ".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(path))
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    val sheetsXml = book.sheets.zipWithIndex.map { case (s, i) =>
      s"""<sheet name="${esc(s.name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    entry("xl/workbook.xml",
      s"""<?xml version="1.0"?><workbook><sheets>$sheetsXml</sheets></workbook>""")
    val relsXml = book.sheets.zipWithIndex.map { case (s, i) =>
      val target = if (s.absoluteTarget) s"/xl/${s.target}" else s.target
      s"""<Relationship Id="rId${i + 1}" Target="$target"/>"""
    }.mkString
    entry("xl/_rels/workbook.xml.rels",
      s"""<?xml version="1.0"?><Relationships>$relsXml</Relationships>""")
    if (book.shared.nonEmpty) {
      val sis = book.shared.zipWithIndex.map { case (s, i) =>
        if (book.richSplit.contains(i) && s.length >= 2) {
          val (a, b) = s.splitAt(s.length / 2) // rich-text runs concatenate
          s"<si><r><t>${esc(a)}</t></r><r><t>${esc(b)}</t></r></si>"
        } else s"<si><t>${esc(s)}</t></si>"
      }.mkString
      entry("xl/sharedStrings.xml", s"""<?xml version="1.0"?><sst>$sis</sst>""")
    }
    book.sheets.foreach { s =>
      val rowsXml = s.rows.zipWithIndex.map { case ((explicit, cells), ri) =>
        val cellsXml = cells.zipWithIndex.collect {
          case (Some(c), ci) =>
            cellXml(c, if (explicit) Some(s"${colLetters(ci)}${ri + 1}") else None)
        }.mkString
        s"""<row r="${ri + 1}">$cellsXml</row>"""
      }.mkString
      entry(s"xl/${s.target}",
        s"""<?xml version="1.0"?><worksheet><sheetData>$rowsXml</sheetData></worksheet>""")
    }
    zos.close()
    path
  }

  // ------------------------------------------------- expected model
  private def expectedGrid(book: BookModel, s: SheetModel): Seq[Seq[String]] =
    s.rows.map { case (_, cells) =>
      // a trailing gap writes no <c>, so the reader never sees it —
      // the row ends at the last PRESENT cell
      val lastPresent = cells.lastIndexWhere(_.isDefined)
      cells.take(lastPresent + 1).map {
        case Some(c) => c.expected(book.shared)
        case None => ""
      }
    }

  test("fuzzed workbooks round-trip through readRaw cell-for-cell") {
    check(Prop.forAll(bookGen) { book =>
      val path = write(book)
      try {
        val got = WorkbookSource.readRaw(path.toString)
        val want = book.sheets.map(s => s.name -> expectedGrid(book, s)).toMap
        val ok = got == want
        if (!ok) System.err.println(s"MISMATCH\n want=$want\n got =$got")
        ok
      } finally java.nio.file.Files.delete(path)
    })
  }

  // ------------------------------------------- malformed inputs
  // (round-9 review item: the happy-grid fuzz above proves well-formed
  // zips; clinician files also arrive BROKEN. Contract: file/part-level
  // damage -> IllegalArgumentException naming file and part, cell-level
  // damage -> "" or next-free-column, duplicate sheet names -> last wins.)

  private def rawZip(entries: (String, String)*): java.nio.file.Path = {
    val path = java.nio.file.Files.createTempFile("badwb", ".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(path))
    entries.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    path
  }

  private def withBook[T](entries: (String, String)*)(f: java.nio.file.Path => T): T = {
    val p = rawZip(entries: _*)
    try f(p) finally java.nio.file.Files.delete(p)
  }

  private val oneSheetWorkbook =
    """<?xml version="1.0"?><workbook><sheets>""" +
      """<sheet name="s1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
  private val oneSheetRels =
    """<?xml version="1.0"?><Relationships>""" +
      """<Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>"""

  test("truncated zips fail fast with the file named, never a raw ZipException") {
    check(Prop.forAll(bookGen, Gen.choose(0.1, 0.9)) { (book, frac) =>
      val path = write(book)
      try {
        val bytes = java.nio.file.Files.readAllBytes(path)
        val cut = java.nio.file.Files.createTempFile("truncwb", ".xlsx")
        val cutBytes = java.util.Arrays.copyOf(bytes, math.max(1, (bytes.length * frac).toInt))
        java.nio.file.Files.write(cut, cutBytes)
        try {
          // a cut anywhere kills the central directory at the tail:
          // both readers (path and executor-side bytes) must refuse
          // with their own diagnostic
          Seq(
            scala.util.Try(WorkbookSource.readRaw(cut.toString)),
            scala.util.Try(WorkbookSource.readRawBytes(cut.toString, cutBytes))
          ).forall(r => r.isFailure &&
            r.failed.get.isInstanceOf[IllegalArgumentException] &&
            r.failed.get.getMessage.contains(cut.toString))
        } finally java.nio.file.Files.delete(cut)
      } finally java.nio.file.Files.delete(path)
    })
  }

  test("a workbook cut at its last sheet's local header is refused, never read without that sheet") {
    import graft.sources.WorkbookFixtures
    val dir = java.nio.file.Files.createTempDirectory("wbtrunc")
    val sheets = Seq(
      "Variants" -> Seq(Seq("Patient ID", "Contact Email"), Seq("P1", "a@x.org")),
      "HPO" -> Seq(Seq("Patient ID", "HPO ID"), Seq("P1", "HP:0000510")))
    WorkbookFixtures.writeXlsx(dir.resolve("whole.xlsx"), sheets)
    val bos = new java.io.ByteArrayOutputStream()
    WorkbookFixtures.writeXlsx(bos, sheets)
    val bytes = bos.toByteArray
    // the last entry's name first appears in its local header, 30
    // bytes past the header's start (the central directory repeats it)
    val name = "xl/worksheets/sheet2.xml".getBytes("UTF-8")
    val header = bytes.indices.find(i => bytes.startsWith(name, i)).get - 30
    assert(bytes(header) == 'P' && bytes(header + 1) == 'K')
    // a ZipInputStream reads the first entries and then stops without
    // error anywhere inside the cut header
    for (into <- Seq(0, 10, 29)) {
      val e = intercept[IllegalArgumentException](
        WorkbookSource.readRawBytes("cut.xlsx", java.util.Arrays.copyOf(bytes, header + into)))
      assert(e.getMessage.contains("cut.xlsx") && e.getMessage.contains("truncated zip"),
        e.getMessage)
    }
    java.nio.file.Files.write(dir.resolve("cut.xlsx"), java.util.Arrays.copyOf(bytes, header))

    // the distributed scan: one issues row for the cut file, and none
    // of its rows (its Variants sheet was intact) reach any sheet
    val corpus = WorkbookSource.readWorkbooks(spark, dir.toString)
    try {
      val iss = corpus.issues.collect()
      assert(iss.length == 1, iss.mkString(";"))
      assert(iss(0).getAs[String]("step") == "ingest-workbook")
      assert(iss(0).getAs[String]("source_file").endsWith("cut.xlsx"))
      val files = corpus.sheets.values.flatMap(
        _.select("source_file").collect().map(_.getString(0).split('/').last)).toSet
      assert(files == Set("whole.xlsx"), files)
    } finally corpus.raw.unpersist()
  }

  test("malformed sheet XML raises a named error instead of silently dropping rows") {
    withBook(
      "xl/workbook.xml" -> oneSheetWorkbook,
      "xl/_rels/workbook.xml.rels" -> oneSheetRels,
      "xl/worksheets/sheet1.xml" ->
        """<?xml version="1.0"?><worksheet><sheetData><row""") { p =>
      val e = intercept[IllegalArgumentException](WorkbookSource.readRaw(p.toString))
      assert(e.getMessage.contains("sheet1.xml"))
      assert(e.getMessage.contains("malformed XML"))
    }
  }

  test("shared-string damage degrades to blank cells: missing sst, dangling and garbage indexes") {
    def sheet(cells: String) =
      s"""<?xml version="1.0"?><worksheet><sheetData><row r="1">$cells</row></sheetData></worksheet>"""
    // no sharedStrings.xml at all, plus out-of-range / negative /
    // non-numeric indexes against a one-entry sst
    withBook(
      "xl/workbook.xml" -> oneSheetWorkbook,
      "xl/_rels/workbook.xml.rels" -> oneSheetRels,
      "xl/worksheets/sheet1.xml" ->
        sheet("""<c t="s"><v>0</v></c><c t="s"><v>7</v></c>""")) { p =>
      assert(WorkbookSource.readRaw(p.toString) == Map("s1" -> Seq(Seq("", ""))))
    }
    withBook(
      "xl/workbook.xml" -> oneSheetWorkbook,
      "xl/_rels/workbook.xml.rels" -> oneSheetRels,
      "xl/sharedStrings.xml" ->
        """<?xml version="1.0"?><sst><si><t>ok</t></si></sst>""",
      "xl/worksheets/sheet1.xml" -> sheet(
        """<c t="s"><v>0</v></c><c t="s"><v>99</v></c>""" +
          """<c t="s"><v>-3</v></c><c t="s"><v>x1</v></c>""")) { p =>
      assert(WorkbookSource.readRaw(p.toString) ==
        Map("s1" -> Seq(Seq("ok", "", "", ""))))
    }
  }

  test("degenerate cell refs: letter-less r= falls back to next free column; far refs pad") {
    withBook(
      "xl/workbook.xml" -> oneSheetWorkbook,
      "xl/_rels/workbook.xml.rels" -> oneSheetRels,
      "xl/worksheets/sheet1.xml" ->
        ("""<?xml version="1.0"?><worksheet><sheetData><row r="1">""" +
          """<c r="12" t="inlineStr"><is><t>a</t></is></c>""" +
          """<c r="E1" t="inlineStr"><is><t>b</t></is></c>""" +
          """</row></sheetData></worksheet>""")) { p =>
      // "12" has no column letters -> column 0; "E1" -> column 4 with
      // blanks padded between (refs far beyond any declared dimension
      // simply extend the row)
      assert(WorkbookSource.readRaw(p.toString) ==
        Map("s1" -> Seq(Seq("a", "", "", "", "b"))))
    }
  }

  test("duplicate sheet names: the last workbook occurrence wins, deterministically") {
    withBook(
      "xl/workbook.xml" ->
        ("""<?xml version="1.0"?><workbook><sheets>""" +
          """<sheet name="dup" sheetId="1" r:id="rId1"/>""" +
          """<sheet name="dup" sheetId="2" r:id="rId2"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" ->
        ("""<?xml version="1.0"?><Relationships>""" +
          """<Relationship Id="rId1" Target="worksheets/sheet1.xml"/>""" +
          """<Relationship Id="rId2" Target="worksheets/sheet2.xml"/></Relationships>"""),
      "xl/worksheets/sheet1.xml" ->
        """<?xml version="1.0"?><worksheet><sheetData><row r="1"><c t="inlineStr"><is><t>first</t></is></c></row></sheetData></worksheet>""",
      "xl/worksheets/sheet2.xml" ->
        """<?xml version="1.0"?><worksheet><sheetData><row r="1"><c t="inlineStr"><is><t>second</t></is></c></row></sheetData></worksheet>""") { p =>
      assert(WorkbookSource.readRaw(p.toString) ==
        Map("dup" -> Seq(Seq("second"))))
    }
  }

  test("not a zip at all: named refusal") {
    val p = java.nio.file.Files.createTempFile("notzip", ".xlsx")
    java.nio.file.Files.write(p, "just text, no PK header".getBytes("UTF-8"))
    try {
      val e = intercept[IllegalArgumentException](WorkbookSource.readRaw(p.toString))
      assert(e.getMessage.contains(p.toString))
      assert(e.getMessage.contains("zip open failed"))
    } finally java.nio.file.Files.delete(p)
  }

  test("not a zip at all, from bytes: named as not a zip archive; a real empty zip stays empty zip") {
    val e = intercept[IllegalArgumentException](
      WorkbookSource.readRawBytes("plain.xlsx", "just text, no PK header".getBytes("UTF-8")))
    assert(e.getMessage == "plain.xlsx: not a readable xlsx (not a zip archive)", e.getMessage)
    val bos = new java.io.ByteArrayOutputStream()
    new java.util.zip.ZipOutputStream(bos).close()
    val empty = intercept[IllegalArgumentException](
      WorkbookSource.readRawBytes("empty.xlsx", bos.toByteArray))
    assert(empty.getMessage == "empty.xlsx: not a readable xlsx (empty zip)", empty.getMessage)
  }

  test("decompression bomb: oversized inflation degrades to the named-refusal path, never OOM") {
    // one zip entry of 65 MiB of zeros deflates to ~64 KiB; the
    // bounded read must abort at the 64 MiB per-entry cap with the
    // same IllegalArgumentException contract as any malformed file
    // (which readWorkbooks maps to an issues row).
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new java.util.zip.ZipOutputStream(bos)
      zos.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
      val chunk = new Array[Byte](1024 * 1024)
      (0 until 65).foreach(_ => zos.write(chunk))
      zos.closeEntry(); zos.close()
      bos.toByteArray
    }
    assert(bytes.length < 1024 * 1024, "bomb fixture unexpectedly incompressible")
    val e = intercept[IllegalArgumentException](
      WorkbookSource.readRawBytes("bomb.xlsx", bytes))
    assert(e.getMessage.contains("bomb.xlsx"))
    assert(e.getMessage.contains("inflates past"))
  }

  test("readWorkbooks: distributed scan == per-file loop; corrupt file -> issues row, not abort") {
    import graft.sources.WorkbookFixtures
    val dir = java.nio.file.Files.createTempDirectory("wbcorpus")
    val g1 = Seq(Seq("Patient ID", "Contact Email"),
      Seq("P1", "a@x.org"), Seq("P2", ""))
    val g2 = Seq(Seq("Patient ID", "Contact Email"), Seq("P3", "b@x.org"))
    // heterogeneous layout: third file carries an extra column
    val g3 = Seq(Seq("Patient ID", "Contact Email", "Phasing"),
      Seq("P4", "c@x.org", "1"))
    WorkbookFixtures.writeXlsx(dir.resolve("a.xlsx"), Seq("Variants" -> g1))
    WorkbookFixtures.writeXlsx(dir.resolve("b.xlsx"),
      Seq("Variants" -> g2, "Notes" -> Seq(Seq("id"), Seq("n1"))))
    WorkbookFixtures.writeXlsx(dir.resolve("c.xlsx"), Seq("Variants" -> g3))
    java.nio.file.Files.write(dir.resolve("bad.xlsx"),
      "not a zip at all".getBytes("UTF-8"))
    // bare delimited sheet files join the same corpus: a csv Variants
    // sheet (RFC-4180 quoting) and a tsv one — basename = sheet name,
    // so both land in the genotype kind
    java.nio.file.Files.write(dir.resolve("variants.csv"),
      "Patient ID,Contact Email\nP5,\"d,quoted@x.org\"\n".getBytes("UTF-8"))
    java.nio.file.Files.write(dir.resolve("variants.tsv"),
      "Patient ID\tContact Email\nP6\te@x.org\n".getBytes("UTF-8"))
    // a file the globs must never read
    java.nio.file.Files.write(dir.resolve("notes.txt"),
      "ignore me".getBytes("UTF-8"))

    val corpus = WorkbookSource.readWorkbooks(spark, dir.toString)
    try {
      // the corrupt file degrades to exactly one issues row naming it;
      // the scan itself completes
      val iss = corpus.issues.collect()
      assert(iss.length == 1 && iss(0).getAs[String]("source_file").endsWith("bad.xlsx"),
        iss.mkString(";"))
      assert(iss(0).getAs[String]("level") == "error")

      // sheet-kind binding: Variants -> genotype alias, Notes keeps its name
      assert(corpus.sheets.keySet == Set("genotype", "notes"))

      // column union: widest header fixes base order, source_file +
      // row_idx appended after the sheet's own columns
      val geno = corpus.sheets("genotype")
      assert(geno.columns.toSeq ==
        Seq("patient_id", "contact_email", "phasing", "source_file", "row_idx"))

      // distributed scan row-set == the driver-side per-file loop,
      // csv/tsv rows included (RFC-4180 quoting preserved)
      val got = geno.collect().map(r => (
        r.getAs[String]("source_file").split('/').last,
        r.getAs[String]("patient_id"), r.getAs[String]("contact_email"),
        r.getAs[String]("phasing"))).toSet
      val want = Seq("a.xlsx", "b.xlsx", "c.xlsx").flatMap { f =>
        val df = WorkbookSource.readWorkbook(spark, dir.resolve(f).toString)("Variants")
        val hasPhasing = df.columns.contains("phasing")
        df.collect().map { r =>
          (f, r.getAs[String]("patient_id"), r.getAs[String]("contact_email"),
            if (hasPhasing) r.getAs[String]("phasing") else null)
        }
      }.toSet ++ Set(
        ("variants.csv", "P5", "d,quoted@x.org", null),
        ("variants.tsv", "P6", "e@x.org", null))
      assert(got == want, s"distributed $got\nloop $want")
    } finally corpus.raw.unpersist()
  }

  test("fuzzed workbooks load as DataFrames: header row consumed, data rows preserved") {
    check(Prop.forAll(bookGen) { book =>
      val path = write(book)
      try {
        val dfs = WorkbookSource.readWorkbook(spark, path.toString)
        book.sheets.forall { s =>
          val grid = expectedGrid(book, s)
          val df = dfs(s.name)
          if (grid.isEmpty) df.columns.isEmpty ||
            df.isEmpty // empty sheet -> empty frame
          else df.count() == (grid.size - 1).toLong &&
            df.columns.length == grid.map(_.size).max
        }
      } finally java.nio.file.Files.delete(path)
    })
  }
}
