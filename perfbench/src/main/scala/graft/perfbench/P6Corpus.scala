package graft.perfbench

import java.nio.file.{Files, Path}

import graft.sources.WorkbookFixtures

/** What `parse-excel` / `audit-excel` must report for a generated corpus.
  *
  * `errors` and `warnings` count issue rows per planted class; their sums
  * are what the CLI's capped issue render reports ("… and N more").
  * `packets` holds, per patient id, the number of interpretations,
  * phenotypic features, diseases, measurements and biosamples its packet
  * must carry.
  */
final case class P6Expected(
    patients: Long,
    genotypes: Long,
    phenotypes: Long,
    errors: Map[String, Long],
    warnings: Map[String, Long],
    workbooks: Int,
    corruptFile: String,
    packets: Map[String, Seq[Int]]) {
  def errorTotal: Long = errors.values.sum
  def warningTotal: Long = warnings.values.sum
  /** Packet files are numbered 1..N in patient-id order. */
  lazy val patientOrder: IndexedSeq[String] = packets.keys.toIndexedSeq.sorted
}

/** Seeded P6 clinical-workbook corpus: `workbooks` xlsx files of
  * `patientsPerBook` patients, five sheets each (Variants, HPO, Diseases,
  * Measurements, Biosamples), with a planted share of invalid rows, one
  * corrupt file, and a synthetic HPO ontology in obographs JSON.
  *
  * Every planted row class maps to exactly one issue (or one counted
  * record), so the expected counts follow from the generated rows alone.
  */
object P6Corpus {
  // Synthetic ontology shape: All -> Phenotypic abnormality -> groups ->
  // subgroups -> leaves. Only leaves (and the planted classes) are
  // annotated, so no annotated term is an ancestor of another.
  val Groups = 20
  val SubgroupsPerGroup = 5
  val LeavesPerSubgroup = 20
  val Leaves: Int = Groups * SubgroupsPerGroup * LeavesPerSubgroup
  val ObsoleteTerm = "HP:0009999"

  private def hp(n: Int) = f"HP:$n%07d"
  private def leaf(k: Int) = hp(200000 + k)
  private def subgroup(k: Int) = hp(100000 + k)
  private def group(k: Int) = hp(90000 + k)
  private def missingTerm(k: Int) = hp(900000 + k)

  private val VariantHeader = Seq("Patient ID", "Contact Email", "Phasing", "Chrom",
    "Start Position (bp)", "End Position (bp)", "Ref", "Alt", "Gene", "HGVSg",
    "HGVSc", "HGVSp", "Zygosity", "Inheritance")
  private val HpoHeader = Seq("Patient ID", "HPO: Term", "Timestamp", "Status")
  private val DiseaseHeader = Seq("patient_id", "disease_term", "disease_label",
    "disease_onset", "disease_status")
  private val MeasurementHeader = Seq("patient_id", "measurement_type",
    "measurement_value", "measurement_unit", "measurement_timestamp")
  private val BiosampleHeader = Seq("patient_id", "biosample_id", "biosample_type",
    "collection_date")

  /** Writes the workbooks under `<dir>/corpus` and `<dir>/hp.json`; returns the counts
    * the CLI must reproduce.
    */
  def write(dir: Path, seed: Long, workbooks: Int, patientsPerBook: Int): P6Expected = {
    val rnd = new scala.util.Random(seed)
    val corpus = dir.resolve("corpus")
    Files.createDirectories(corpus)
    writeOntology(dir.resolve("hp.json"))
    val errors = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val warnings = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val packets = scala.collection.mutable.Map.empty[String, Seq[Int]]
    var genotypes, phenotypes = 0L
    val obsoleteUsed = scala.collection.mutable.Set.empty[String]

    (0 until workbooks).foreach { w =>
      val variants, hpo, diseases, measurements, biosamples =
        scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      (0 until patientsPerBook).foreach { i =>
        val pid = f"W$w%02dP$i%05d"
        var nInterp, nFeat, nMeas = 0
        (0 until 1 + rnd.nextInt(3)).foreach { _ =>
          val pos = 1000 + rnd.nextInt(900000)
          val twoPairs = rnd.nextInt(4) == 0
          val zyg = if (twoPairs) "het/hom" else if (rnd.nextBoolean()) "het" else "hom"
          val inh = if (twoPairs) "inherited/denovo" else "inherited"
          def row(chrom: String, hgvsPos: Int, z: String) = Seq(pid, "user@example.com",
            "1", chrom, pos.toString, pos.toString, "A", "G", s"GENE${rnd.nextInt(50)}",
            s"chr16:g.${hgvsPos}A>G", s"NM_000000.0:c.${pos}A>G",
            "NP_000000.0:p.(Lys34Glu)", z, inh)
          val pairs = if (twoPairs) 2 else 1
          rnd.nextInt(100) match {
            case r if r < 4 =>
              variants += row("chr16", pos, "xyz"); errors("genotype.bad_zygosity") += 1
            case r if r < 6 =>
              variants += row("", pos, zyg); errors("genotype.missing_chromosome") += 1
            case r if r < 11 =>
              variants += row("chr16", pos + 5, zyg); warnings("genotype.hgvs_mismatch") += 1
              nInterp += pairs
            case _ =>
              variants += row("chr16", pos, zyg); nInterp += pairs
          }
        }
        (0 until 1 + rnd.nextInt(4)).foreach { _ =>
          val date = f"2020${1 + rnd.nextInt(12)}%02d${1 + rnd.nextInt(28)}%02d"
          val status = if (rnd.nextInt(5) == 0) "0" else "1"
          rnd.nextInt(100) match {
            case r if r < 5 =>
              hpo += Seq(pid, "NAD", "T1", "1"); warnings("phenotype.nad") += 1
            case r if r < 8 =>
              hpo += Seq(pid, "no term given", date, status)
              errors("phenotype.unparseable_term") += 1
            case r if r < 11 =>
              val id = missingTerm(rnd.nextInt(1000))
              hpo += Seq(pid, s"Unknown ($id)", date, status)
              warnings("phenotype.not_in_ontology") += 1; nFeat += 1
            case r if r < 12 =>
              hpo += Seq(pid, s"Old term ($ObsoleteTerm)", date, status)
              warnings("phenotype.obsolete") += 1; obsoleteUsed += ObsoleteTerm
              nFeat += 1
            case _ =>
              val id = leaf(rnd.nextInt(Leaves))
              hpo += Seq(pid, s"Term ($id)", date, status); nFeat += 1
          }
        }
        diseases += Seq(pid, s"MONDO:${"%07d".format(rnd.nextInt(5000))}",
          s"Disease ${rnd.nextInt(100)}", "HP:0003577", "1")
        (0 until 1 + rnd.nextInt(2)).foreach { _ =>
          val bad = rnd.nextInt(100) < 4
          measurements += Seq(pid, s"LOINC:${1000 + rnd.nextInt(90)}",
            if (bad) "n/a" else f"${rnd.nextInt(20000) / 100.0}%.2f", "mg/dL",
            (20200101 + rnd.nextInt(28)).toString)
          if (bad) errors("measurements.bad_value") += 1 else nMeas += 1
        }
        biosamples += Seq(pid, s"S$w${i}x", "blood", "20200301")
        genotypes += nInterp; phenotypes += nFeat
        packets(pid) = Seq(nInterp, nFeat, 1, nMeas, 1)
      }
      WorkbookFixtures.writeXlsx(corpus.resolve(f"book$w%02d.xlsx"), Seq(
        "Variants" -> (VariantHeader +: variants.toSeq),
        "HPO" -> (HpoHeader +: hpo.toSeq),
        "Diseases" -> (DiseaseHeader +: diseases.toSeq),
        "Measurements" -> (MeasurementHeader +: measurements.toSeq),
        "Biosamples" -> (BiosampleHeader +: biosamples.toSeq)))
    }
    // An annotated obsolete term carries no is_a edge, so batch
    // validation also reports it as outside "Phenotypic abnormality".
    errors("phenotype.not_abnormality") += obsoleteUsed.size
    val corrupt = "corrupt.xlsx"
    Files.write(corpus.resolve(corrupt), "this is not a zip archive".getBytes("UTF-8"))
    errors("ingest.corrupt_file") += 1
    P6Expected(packets.size.toLong, genotypes, phenotypes, errors.toMap,
      warnings.toMap, workbooks, corrupt, packets.toMap)
  }

  private def writeOntology(path: Path): Unit = {
    val obo = "http://purl.obolibrary.org/obo"
    def uri(id: String) = s"$obo/${id.replace(':', '_')}"
    val nodes = scala.collection.mutable.ArrayBuffer.empty[String]
    val edges = scala.collection.mutable.ArrayBuffer.empty[String]
    def node(id: String, lbl: String) = nodes += s"""{"id":"${uri(id)}","lbl":"$lbl"}"""
    def isA(sub: String, obj: String) =
      edges += s"""{"sub":"${uri(sub)}","pred":"is_a","obj":"${uri(obj)}"}"""
    node("HP:0000001", "All")
    node("HP:0000118", "Phenotypic abnormality"); isA("HP:0000118", "HP:0000001")
    (0 until Groups).foreach { g =>
      node(group(g), s"Group $g"); isA(group(g), "HP:0000118")
      (0 until SubgroupsPerGroup).foreach { s =>
        val sg = g * SubgroupsPerGroup + s
        node(subgroup(sg), s"Subgroup $sg"); isA(subgroup(sg), group(g))
        (0 until LeavesPerSubgroup).foreach { l =>
          val k = sg * LeavesPerSubgroup + l
          node(leaf(k), s"Term $k"); isA(leaf(k), subgroup(sg))
        }
      }
    }
    nodes += s"""{"id":"${uri(ObsoleteTerm)}","lbl":"Old term","meta":{"deprecated":true,""" +
      s""""basicPropertyValues":[{"pred":"$obo/IAO_0100001","val":"${uri(leaf(0))}"}]}}"""
    Files.writeString(path,
      s"""{"graphs":[{"nodes":[${nodes.mkString(",")}],"edges":[${edges.mkString(",")}]}]}""")
  }
}
