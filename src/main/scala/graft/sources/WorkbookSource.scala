package graft.sources

import java.nio.charset.StandardCharsets
import java.util.zip.ZipFile
import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.Element
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.p6.Normalize

/** S1: minimal XLSX workbook scan (SURVEY.md §2.1) — the zero-egress
  * image bundles no spreadsheet library, and a workbook is driver-side
  * metadata-scale input anyway (the reference's largest fixture is 27
  * data rows), so this reads the OOXML zip directly: workbook.xml for
  * sheet names, workbook.xml.rels for sheet targets, sharedStrings.xml,
  * and each sheet's cell grid. Row 0 becomes the header (normalized per
  * the reference's loader, ref: src/P6/loader.py:30-67), every value is
  * a string column, and the first column keeps the reference's
  * "column 0 = patient-ID index" convention (promoted by the mappers).
  *
  * Cell types handled: shared strings (t="s"), inline strings
  * (t="inlineStr"), formula strings (t="str"), booleans (t="b"),
  * numbers (no t). Trailing all-empty cells are trimmed to the header
  * width.
  */
object WorkbookSource {

  def readWorkbook(spark: SparkSession, path: String): Map[String, DataFrame] = {
    val raw = readRaw(path)
    raw.map { case (name, rows) =>
      name -> toDataFrame(spark, rows)
    }
  }

  /** Sheet name -> row-major cell grid (strings; "" for blanks).
    *
    * Malformed-input contract (clinician files arrive broken in
    * practice; WorkbookFuzzSpec drives every branch): a file that is
    * not a readable zip, or whose XML parts do not parse, raises
    * `IllegalArgumentException` NAMING the file and part — never a raw
    * `ZipException`/`SAXException`, and never a silent partial read.
    * Recoverable cell-level damage degrades to "" instead: a shared-
    * string reference that is non-numeric or out of range (including
    * when `sharedStrings.xml` is absent entirely) reads as blank, and
    * a cell ref with no column letters falls back to the next free
    * column. Duplicate sheet names keep the LAST occurrence
    * (workbook order), matching the map semantics downstream.
    */
  def readRaw(path: String): Map[String, Seq[Seq[String]]] = {
    val zip =
      try new ZipFile(path)
      catch {
        case e: java.io.IOException =>
          throw new IllegalArgumentException(
            s"$path: not a readable xlsx (zip open failed: ${e.getMessage})")
      }
    try parseWorkbook(path,
      name => Option(zip.getEntry(name)).map { e =>
        // Same decompression bound as the bytes path: this is the
        // driver-side read of an untrusted user file.
        new java.io.ByteArrayInputStream(
          readBounded(zip.getInputStream(e), MaxInflatedEntryBytes, path,
            s"zip entry $name"))
      })
    finally zip.close()
  }

  /** Decompression-bomb bounds for untrusted workbook bytes: a crafted
    * (or pathologically corrupt) zip that inflates to gigabytes must
    * degrade to the same IllegalArgumentException → issues-row path as
    * any other malformed file, not OOM an executor and abort the job.
    * 64 MiB per part / 256 MiB per workbook dwarf any real xlsx part
    * while staying far under executor task memory.
    */
  private[sources] val MaxInflatedEntryBytes: Long = 64L * 1024 * 1024
  private[sources] val MaxInflatedTotalBytes: Long = 256L * 1024 * 1024

  /** Read `in` fully, failing once `cap` inflated bytes are exceeded
    * (bounded loop — never trusts the zip header's claimed size).
    */
  private def readBounded(in: java.io.InputStream, cap: Long, label: String,
      what: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      if (out.size() > cap)
        throw new IllegalArgumentException(
          s"$label: $what inflates past $cap bytes — refusing oversized " +
            "(possible decompression bomb) workbook")
      n = in.read(buf)
    }
    out.toByteArray
  }

  /** Bytes variant of [[readRaw]] for executor-side ingest (the
    * binaryFile rows of [[readWorkbooks]] carry content, not a local
    * path). Same malformed-input contract, `label` names the source in
    * errors. Entries load eagerly into a map — a workbook's parts are
    * materialized as grids immediately after anyway, so the peak is
    * the same order as the streaming read — bounded by the
    * decompression caps above.
    *
    * A stream read stops without error at a local header cut short, so
    * the bytes must end in a central directory that lists exactly the
    * entries read: a truncated file is refused like [[readRaw]] refuses
    * it, never parsed with its trailing sheets missing.
    */
  def readRawBytes(label: String, bytes: Array[Byte]): Map[String, Seq[Seq[String]]] = {
    val entries = mutable.Map.empty[String, Array[Byte]]
    var nRead = 0
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      var total = 0L
      var e = zin.getNextEntry
      while (e != null) {
        nRead += 1
        if (!e.isDirectory) {
          val part = readBounded(zin, MaxInflatedEntryBytes, label,
            s"zip entry ${e.getName}")
          total += part.length
          if (total > MaxInflatedTotalBytes)
            throw new IllegalArgumentException(
              s"$label: workbook inflates past $MaxInflatedTotalBytes bytes " +
                "total — refusing oversized (possible decompression bomb) workbook")
          entries(e.getName) = part
        }
        e = zin.getNextEntry
      }
    } catch {
      case ex: java.io.IOException =>
        throw new IllegalArgumentException(
          s"$label: not a readable xlsx (zip read failed: ${ex.getMessage})")
    } finally zin.close()
    if (entries.isEmpty)
      throw new IllegalArgumentException(s"$label: not a readable xlsx (empty zip)")
    val listed = centralDirectoryCount(bytes)
    if (!listed.contains(nRead))
      throw new IllegalArgumentException(s"$label: not a readable xlsx (truncated zip: " +
        listed.fold("no end-of-central-directory record")(n =>
          s"$nRead of $n entries readable") + ")")
    parseWorkbook(label,
      name => entries.get(name).map(new java.io.ByteArrayInputStream(_)))
  }

  /** Entry count of the end-of-central-directory record that ends `b`,
    * or None when no such record ends it. A zip64 archive of 65,535 or
    * more entries (far more than any workbook) stores 0xffff there, so
    * it is refused.
    */
  private def centralDirectoryCount(b: Array[Byte]): Option[Int] = {
    def u16(i: Int): Int = (b(i) & 0xff) | (b(i + 1) & 0xff) << 8
    // 22 fixed bytes, then a comment of up to 65,535 bytes
    (b.length - 22 to math.max(0, b.length - 22 - 0xffff) by -1)
      .find(i => u16(i) == 0x4b50 && u16(i + 2) == 0x0605 &&
        i + 22 + u16(i + 20) == b.length)
      .map(i => u16(i + 10))
  }

  /** Extension dispatch for the distributed scan: xlsx → zip/XML
    * parse (possibly many sheets); csv/tsv → one sheet named by the
    * file's basename, parsed line-by-line with the same RFC-4180
    * rules as [[readSheetDir]] (readAllLines splits on \n or \r\n,
    * empty lines dropped).
    */
  private[graft] def parseAnyBytes(path: String,
      content: Array[Byte]): Map[String, Seq[Seq[String]]] =
    if (path.endsWith(".csv") || path.endsWith(".tsv")) {
      val base = path.substring(path.lastIndexOf('/') + 1)
      val name = base.replaceAll("\\.(csv|tsv)$", "")
      val sep = if (path.endsWith(".tsv")) '\t' else ','
      val grid = new String(content, StandardCharsets.UTF_8)
        .split("\r\n|\n|\r", -1).toSeq
        .filter(_.nonEmpty).map(l => parseDelimited(l, sep))
      Map(name -> grid)
    } else readRawBytes(path, content)

  /** Shared workbook-parsing core over an entry-stream lookup. */
  private def parseWorkbook(path: String,
      open: String => Option[java.io.InputStream]): Map[String, Seq[Seq[String]]] = {
    {
      def parse(entryName: String): Option[Element] =
        open(entryName).map { in =>
          // Workbooks are untrusted input: disallow DTDs and external
          // entities outright (XXE / billion-laughs hardening) — OOXML
          // sheet parts never legitimately carry either.
          val dbf = DocumentBuilderFactory.newInstance()
          dbf.setNamespaceAware(false)
          dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
          dbf.setFeature("http://xml.org/sax/features/external-general-entities", false)
          dbf.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
          dbf.setXIncludeAware(false)
          dbf.setExpandEntityReferences(false)
          try dbf.newDocumentBuilder().parse(in).getDocumentElement
          catch {
            case ex @ (_: org.xml.sax.SAXException | _: java.io.IOException) =>
              // a part that EXISTS but does not parse is broken data a
              // clinician needs told about, not silently dropped rows
              throw new IllegalArgumentException(
                s"$path!$entryName: malformed XML (${ex.getMessage})")
          } finally in.close()
        }

      val shared: IndexedSeq[String] = parse("xl/sharedStrings.xml") match {
        case Some(root) =>
          elems(root, "si").map(si => elems(si, "t").map(_.getTextContent).mkString).toIndexedSeq
        case None => IndexedSeq.empty
      }

      val rels: Map[String, String] = parse("xl/_rels/workbook.xml.rels") match {
        case Some(root) =>
          elems(root, "Relationship").map { r =>
            r.getAttribute("Id") -> r.getAttribute("Target")
          }.toMap
        case None => Map.empty
      }

      val workbook = parse("xl/workbook.xml")
        .getOrElse(throw new IllegalArgumentException(s"$path: not an xlsx (no xl/workbook.xml)"))
      val sheets = elems(workbook, "sheet").map { s =>
        val rid = Option(s.getAttribute("r:id")).filter(_.nonEmpty)
          .getOrElse(s.getAttribute("id"))
        val target = rels.getOrElse(rid, s"worksheets/sheet${s.getAttribute("sheetId")}.xml")
        val entry = if (target.startsWith("/")) target.drop(1)
          else if (target.startsWith("xl/")) target else s"xl/$target"
        s.getAttribute("name") -> entry
      }

      sheets.map { case (name, entry) =>
        val grid = parse(entry).map(readSheet(_, shared)).getOrElse(Seq.empty)
        name -> grid
      }.toMap
    }
  }

  private def elems(root: Element, tag: String): Seq[Element] = {
    val nl = root.getElementsByTagName(tag)
    (0 until nl.getLength).map(nl.item(_).asInstanceOf[Element])
  }

  private def readSheet(root: Element, shared: IndexedSeq[String]): Seq[Seq[String]] = {
    elems(root, "row").map { row =>
      val cells = mutable.ArrayBuffer.empty[String]
      var nextCol = 0
      elems(row, "c").foreach { c =>
        val col = Option(c.getAttribute("r")).filter(_.nonEmpty)
          .map(colIndex).filter(_ >= 0).getOrElse(nextCol)
        while (cells.length < col) cells += ""
        val t = c.getAttribute("t")
        val v = elems(c, "v").headOption.map(_.getTextContent)
        val is = elems(c, "is").headOption
          .map(e => elems(e, "t").map(_.getTextContent).mkString)
        val value = t match {
          case "s" => v.flatMap(i => i.trim.toIntOption).flatMap(shared.lift)
            .getOrElse("") // non-numeric / dangling / absent sst -> blank
          case "inlineStr" => is.getOrElse("")
          case "b" => v.map(x => if (x.trim == "1") "true" else "false").getOrElse("")
          case _ => v.getOrElse("") // numbers, formula strings
        }
        if (cells.length == col) cells += value else cells(col) = value
        nextCol = col + 1
      }
      cells.toSeq
    }
  }

  /** "BC12" -> 0-based column index 54. */
  private def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    letters.foldLeft(0)((acc, ch) => acc * 26 + (ch.toUpper - 'A' + 1)) - 1
  }

  /** S1 variant: a DIRECTORY of .csv/.tsv files as a workbook — sheet
    * name = file basename, one file per sheet. Follows the same
    * driver-side grid path as the xlsx reader (sheets are
    * metadata-scale inputs); minimal RFC-4180 quoting: embedded
    * separators and "" escapes, no embedded newlines.
    */
  def readSheetDir(spark: SparkSession, path: String): Map[String, DataFrame] = {
    val dir = java.nio.file.Paths.get(path)
    val stream = java.nio.file.Files.list(dir)
    try {
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".csv") || p.toString.endsWith(".tsv"))
        .map { p =>
          val fileName = p.getFileName.toString
          val name = fileName.replaceAll("\\.(csv|tsv)$", "")
          val sep = if (fileName.endsWith(".tsv")) '\t' else ','
          val grid = java.nio.file.Files.readAllLines(p).asScala.toSeq
            .filter(_.nonEmpty).map(l => parseDelimited(l, sep))
          name -> toDataFrame(spark, grid)
        }.toMap
    } finally stream.close()
  }

  /** One delimited line -> fields (RFC-4180 quoting, "" escapes). */
  private[graft] def parseDelimited(line: String, sep: Char): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    var inQ = false
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQ) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inQ = false
        } else cur += c
      } else if (c == '"') inQ = true
      else if (c == sep) { out += cur.result(); cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.result()
    out.toSeq
  }

  /** Grid -> all-string DataFrame with normalized headers (P1+P2). */
  def toDataFrame(spark: SparkSession, grid: Seq[Seq[String]]): DataFrame = {
    if (grid.isEmpty) return spark.emptyDataFrame
    val (names, dataRows) = normalizedGrid(grid)
    val schema = StructType(names.map(StructField(_, StringType, nullable = true)))
    val rows = dataRows.map(r => Row.fromSeq(r.map(v => if (v.isEmpty) null else v)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Shared header pipeline for the driver and executor ingest paths:
    * pad to max width, blank headers -> `_cN`, positional raw-name
    * dedup (Spark rejects dup cols), then P1 normalize + P2 alias
    * rename, then a second positional dedup so post-normalize
    * collisions ("A b" vs "A_b") stay unique. Returns (final column
    * names, data rows padded to width).
    */
  private[graft] def normalizedGrid(grid: Seq[Seq[String]]): (Seq[String], Seq[Seq[String]]) = {
    import graft.functions.P6Functions
    val width = grid.map(_.length).max
    val pad = grid.map(r => r.padTo(width, ""))
    val header = pad.head.zipWithIndex.map { case (h, i) =>
      if (h.trim.isEmpty) s"_c$i" else h
    }
    def dedup(xs: Seq[String]): Seq[String] = {
      val seen = mutable.Map.empty[String, Int]
      xs.map { h =>
        val n = seen.getOrElse(h, 0)
        seen(h) = n + 1
        if (n == 0) h else s"${h}_$n"
      }
    }
    val normalized = dedup(header)
      .map(P6Functions.normalizeHeaderName)
      .map(c => P6Functions.renameMap.getOrElse(c, c))
    (dedup(normalized), pad.tail)
  }

  /** Sheet-name -> logical kind via the P4 alias table; unmatched
    * names keep their (trimmed, lowercased) own name so no sheet is
    * silently dropped from the distributed scan.
    */
  private[graft] def sheetKind(name: String): String = {
    val n = name.trim.toLowerCase
    Normalize.sheetAliases.collectFirst {
      case (k, aliases) if aliases.contains(n) => k
    }.getOrElse(n)
  }

  /** Distributed multi-workbook ingest: the 100 TB path S1's
    * driver-side single-workbook read cannot cover. A real clinical
    * corpus is millions of small workbooks — `binaryFile` distributes
    * the FILES across executors, each partition runs the same zip/XML
    * parser per file ([[readRawBytes]] + [[normalizedGrid]], identical
    * semantics to the per-file loop — WorkbookFuzzSpec pins equality),
    * and the result is one union'd DataFrame per logical sheet kind
    * with `source_file` + `row_idx` appended after the sheet's own
    * columns (so the "column 0 = patient-ID index" convention
    * survives for the mappers).
    *
    * Column union across heterogeneous files: the widest header
    * variant (ties broken lexicographically) fixes the base order;
    * columns only other variants carry append sorted. Rows missing a
    * column read null, like a per-file union with allowMissingColumns.
    *
    * A file that fails to parse degrades to ONE issues row naming the
    * file (source_file, step, level, message) — never a job abort; the
    * per-row damage contract inside a parseable file is [[readRaw]]'s.
    *
    * The parsed scan is persisted MEMORY_AND_DISK (the per-kind frames
    * and issues all derive from it — without the persist each action
    * would re-read and re-parse every workbook); callers owning the
    * lifecycle unpersist via [[WorkbookCorpus.raw]].
    */
  def readWorkbooks(spark: SparkSession, dir: String): WorkbookCorpus = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    // xlsx workbooks AND bare .csv/.tsv sheet files (the distributed
    // counterpart of readSheetDir — a csv file is one sheet named by
    // its basename, same RFC-4180 parse); per-glob scans prune at
    // listing time, so junk files in the corpus dir are never read
    val bin = Seq("*.xlsx", "*.csv", "*.tsv")
      .map { glob =>
        spark.read.format("binaryFile")
          .option("pathGlobFilter", glob)
          .load(dir)
          .select(col("path"), col("content"))
          .as[(String, Array[Byte])]
      }
      .reduce(_ union _)
    val parsed = bin.mapPartitions { it =>
      it.flatMap { case (path, content) =>
        try {
          parseAnyBytes(path, content).toSeq.sortBy(_._1).iterator.flatMap {
            case (sheetName, grid) if grid.nonEmpty =>
              val (names, dataRows) = normalizedGrid(grid)
              val kind = sheetKind(sheetName)
              dataRows.iterator.zipWithIndex.map { case (cells, i) =>
                // empty cells are OMITTED from the map — getItem on a
                // missing key reads null, matching toDataFrame's
                // empty->null convention
                WorkbookScanRow(path, kind, sheetName, i.toLong, names,
                  names.zip(cells).collect {
                    case (n, v) if v.nonEmpty => n -> v
                  }.toMap, null)
              }
            case _ => Iterator.empty
          }
        } catch {
          case e: IllegalArgumentException =>
            Iterator.single(WorkbookScanRow(path, null, null, -1L, Nil,
              Map.empty, e.getMessage))
        }
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)

    val issues = parsed.filter(col("error").isNotNull)
      .select(col("source_file"), lit("ingest-workbook").as("step"),
        lit("error").as("level"), col("error").as("message"))

    // distinct header VARIANTS per kind — bounded by schema diversity
    // (a handful of layouts), not by file count
    val headerVariants = parsed.filter(col("error").isNull)
      .select(col("kind"), col("header")).distinct()
      .as[(String, Seq[String])].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

    val sheets = headerVariants.map { case (kind, variants) =>
      val ordered = variants.sortBy(v => (-v.length, v.mkString("\u0000")))
      val base = ordered.head
      val extras = ordered.flatten.distinct.filterNot(base.contains).sorted
      val cols = base ++ extras
      kind -> parsed.filter(col("error").isNull && col("kind") === kind)
        .select(cols.map(c => col("cells").getItem(c).as(c)) ++
          Seq(col("source_file"), col("row_idx")): _*)
    }
    WorkbookCorpus(sheets.toMap, issues, parsed.toDF())
  }
}

/** One parsed data row (or one file-level failure, `error` non-null)
  * from [[WorkbookSource.readWorkbooks]]'s executor-side scan.
  */
final case class WorkbookScanRow(source_file: String, kind: String,
    sheet: String, row_idx: Long, header: Seq[String],
    cells: Map[String, String], error: String)

/** Result of the distributed multi-workbook scan: one DataFrame per
  * logical sheet kind, the corrupt-file issues channel, and the
  * persisted raw scan (unpersist when done).
  */
final case class WorkbookCorpus(sheets: Map[String, DataFrame],
    issues: DataFrame, raw: DataFrame)
