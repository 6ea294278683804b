package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The P6 corpus generator: deterministic per seed, internally consistent
  * counts, and counts the CLI reproduces exactly.
  */
class P6CorpusSpec extends AnyFunSuite {

  /** Each file's content: sheet grids for a readable workbook (the zip
    * entries carry their write time), bytes otherwise.
    */
  private def files(dir: Path): Map[String, Any] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      dir.relativize(p).toString -> (
        try graft.sources.WorkbookSource.readRaw(p.toString)
        catch { case _: IllegalArgumentException => Files.readAllBytes(p).toSeq })
    }.toMap
    finally s.close()
  }

  test("same seed, same content and counts; another seed, other rows") {
    val a = Files.createTempDirectory("corpusA")
    val b = Files.createTempDirectory("corpusB")
    val c = Files.createTempDirectory("corpusC")
    val ea = P6Corpus.write(a, 7, workbooks = 3, patientsPerBook = 40)
    val eb = P6Corpus.write(b, 7, workbooks = 3, patientsPerBook = 40)
    val ec = P6Corpus.write(c, 8, workbooks = 3, patientsPerBook = 40)
    assert(ea == eb)
    assert(files(a) == files(b))
    assert(files(a).keySet == Set("hp.json", "corpus/book00.xlsx", "corpus/book01.xlsx",
      "corpus/book02.xlsx", "corpus/corrupt.xlsx"))
    assert(ea.packets != ec.packets)
  }

  test("counts add up: per-patient packets sum to the totals, every planted class occurs") {
    val e = P6Corpus.write(Files.createTempDirectory("corpus"), 3, workbooks = 4,
      patientsPerBook = 100)
    assert(e.patients == 400)
    assert(e.packets.values.map(_(0).toLong).sum == e.genotypes)
    assert(e.packets.values.map(_(1).toLong).sum == e.phenotypes)
    assert(e.errors.keySet == Set("genotype.bad_zygosity", "genotype.missing_chromosome",
      "phenotype.unparseable_term", "phenotype.not_abnormality", "measurements.bad_value",
      "ingest.corrupt_file"))
    assert(e.warnings.keySet == Set("genotype.hgvs_mismatch", "phenotype.nad",
      "phenotype.not_in_ontology", "phenotype.obsolete"))
    assert((e.errors.values ++ e.warnings.values).forall(_ > 0))
    assert(e.errors("ingest.corrupt_file") == 1 && e.errors("phenotype.not_abnormality") == 1)
    assert(e.patientOrder.head == "W00P00000" && e.patientOrder.last == "W03P00099")
  }

  test("parse-excel and audit-excel --dir reproduce the expected counts") {
    val dir = Files.createTempDirectory("cliCorpus")
    val e = P6Corpus.write(dir, 11, workbooks = 2, patientsPerBook = 60)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    sys.props("graft.keep-session") = "1"
    sys.props("graft.cwd") = dir.toString
    try {
      val corpus = dir.resolve("corpus").toString
      val out = Workload.stdoutOf(graft.cli.Main.parseExcel(Map(
        "--dir" -> corpus, "--custom-hpo" -> dir.resolve("hp.json").toString)))
      assert(Checks.parse(out, e).isEmpty, out)
      assert(Checks.packets(dir.resolve("phenopacket_from_excel"), e, sample = 120).isEmpty)
      assert(Checks.audit(Workload.stdoutOf(graft.cli.Main.auditExcel(Map("--dir" -> corpus))), e))
      // a wrong expectation is caught, not waved through
      assert(Checks.parse(out, e.copy(genotypes = e.genotypes + 1)).nonEmpty)
      assert(Checks.parse(out, e.copy(errors = e.errors.updated("phenotype.nad", 1L))).nonEmpty)
    } finally {
      sys.props -= "graft.cwd"
      sys.props -= "graft.keep-session"
      spark.stop()
    }
  }
}
