package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Output checks for the P6 CLI against the generator's expected counts. */
object Checks {

  def audit(out: String, e: P6Expected): Boolean =
    out.contains("ingest-workbook") && out.contains(e.corruptFile) &&
      out.contains("classify-sheet")

  /** Issue total of one rendered section: listed lines plus "… and N more". */
  private def sectionTotal(lines: Seq[String], header: String): Long = {
    val body = lines.dropWhile(_ != header).drop(1).takeWhile(_.startsWith("- "))
    val more = """- … and (\d+) more .*""".r
    body.map {
      case more(n) => n.toLong
      case _ => 1L
    }.sum
  }

  /** Problems found in parse-excel's stdout; empty when it matches. */
  def parse(out: String, e: P6Expected): Seq[String] = {
    val lines = out.linesIterator.toSeq
    def expectLine(prefix: String): Option[String] =
      if (lines.exists(_.startsWith(prefix))) None else Some(s"missing line '$prefix'")
    val errors = sectionTotal(lines, "Errors found in mapping:")
    val warnings = sectionTotal(lines, "Warnings found in mapping:")
    Seq(
      expectLine(s"Wrote ${e.patients} phenopacket files to "),
      expectLine(s"Created ${e.genotypes} Genotype objects"),
      expectLine(s"Created ${e.phenotypes} Phenotype objects"),
      Option.when(errors != e.errorTotal)(s"errors $errors != expected ${e.errorTotal}"),
      Option.when(warnings != e.warningTotal)(s"warnings $warnings != expected ${e.warningTotal}"),
      Option.when(!lines.exists(l => l.startsWith("- ") && l.contains(e.corruptFile)))(
        s"corrupt file ${e.corruptFile} not reported")).flatten
  }

  /** Checks the packet file count and a sample of `sample` packets spread
    * over the numbered files: subject id and the number of records of
    * each kind.
    */
  def packets(root: Path, e: P6Expected, sample: Int): Seq[String] = {
    val dirs = if (!Files.exists(root)) Nil else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => p.getFileName.toString == "phenopackets").toList
      finally s.close()
    }
    dirs match {
      case Seq(dir) =>
        val n = { val s = Files.list(dir); try s.count() finally s.close() }
        if (n != e.patients) Seq(s"$n packet files, expected ${e.patients}")
        else {
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val step = math.max(1, e.patients.toInt / sample)
          (1 to e.patients.toInt by step).flatMap { i =>
            val pid = e.patientOrder(i - 1)
            val node = mapper.readTree(Files.readString(dir.resolve(s"$i.json")))
            val got = Seq("interpretations", "phenotypic_features", "diseases",
              "measurements", "biosamples").map(f => node.path(f).size())
            if (node.path("id").asText() != pid || got != e.packets(pid))
              Some(s"$i.json: id ${node.path("id").asText()} counts $got, expected $pid ${e.packets(pid)}")
            else None
          }
        }
      case other => Seq(s"expected one phenopackets directory, found ${other.size}")
    }
  }
}
