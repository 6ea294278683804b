package graft

import org.apache.spark.sql.functions._
import graft.p6._

/** End-to-end §7.2 slice, mirroring the reference's
  * tests/test_mapper_apply_construct.py:17-77: one patient P100 with one
  * genotype + one phenotype row -> normalized records, stats, and a
  * phenopacket with HP:0000510 and expression "16:g.100A>G".
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ontology = Ontology.fromRows(spark,
    terms = Seq(
      ("HP:0000001", "All", false, Nil),
      ("HP:0000118", "Phenotypic abnormality", false, Nil),
      ("HP:0000478", "Abnormality of the eye", false, Nil),
      ("HP:0000510", "Rod-cone dystrophy", false, Nil),
      ("HP:0000545", "Myopia", false, Nil)),
    edges = Seq(
      ("HP:0000118", "HP:0000001"),
      ("HP:0000478", "HP:0000118"),
      ("HP:0000510", "HP:0000478"),
      ("HP:0000545", "HP:0000478")))

  test("apply mapping builds phenopackets and stats (ref test_mapper_apply_construct)") {
    val geno = Seq(
      ("P100", "user@example.com", "1", "chr16", 100L, 100L, "A", "G", "GENE1",
        "chr16:g.100A>G", "NM_000000.0:c.100A>G", "NP_000000.0:p.(Lys34Glu)",
        "het", "inherited"))
      .toDF("genotype_patient_ID", "contact_email", "phasing", "chromosome",
        "start_position", "end_position", "reference", "alternate",
        "gene_symbol", "hgvsg", "hgvsc", "hgvsp", "zygosity", "inheritance")
    val pheno = Seq(("P100", "HP:510", "20200101", "1"))
      .toDF("phenotype_patient_ID", "hpo_id", "date_of_observation", "status")

    val g = Mappers.mapGenotypeTable(geno)
    val p = Mappers.mapPhenotypeTable(pheno)
    val empty = spark.emptyDataset[DiseaseRecord].toDF()
    val emptyM = spark.emptyDataset[MeasurementRecord].toDF()
    val emptyB = spark.emptyDataset[BiosampleRecord].toDF()

    // no mapping errors on the happy path
    assert(g.issues.filter($"level" === "error").isEmpty)
    assert(p.issues.filter($"level" === "error").isEmpty)

    // ontology checks raise nothing for a known, current, abnormal term
    assert(Ontology.termChecks(ontology, p.records).isEmpty)
    assert(Ontology.batchValidate(ontology, p.records).isEmpty)

    val grecs = g.records.collect()
    assert(grecs.length == 1)
    val gr = grecs(0)
    assert(gr.getAs[String]("zygosity") == "heterozygous")
    assert(gr.getAs[String]("inheritance") == "inherited")
    assert(gr.getAs[Boolean]("phasing"))

    val precs = p.records.collect()
    assert(precs.length == 1)
    assert(precs(0).getAs[String]("HPO_ID") == "HP:0000510")
    assert(precs(0).getAs[String]("date_of_observation") == "T20200101")
    assert(precs(0).getAs[Boolean]("status"))

    val bundles = Assemble.groupByPatient(g.records, p.records, empty, emptyM, emptyB)
    val stats = Assemble.stats(g.records, p.records, empty, emptyM, emptyB, bundles)
    assert(stats("genotypes") == 1L)
    assert(stats("phenotypes") == 1L)
    assert(stats("patients") == 1L)

    val pkts = Assemble.phenopackets(bundles).collect()
    assert(pkts.length == 1)
    // fields are read from the JSON the sink writes; `get` of a missing
    // field is null and `textValue` of a non-string node is null, so an
    // absent or mistyped field fails
    val pkt = new com.fasterxml.jackson.databind.ObjectMapper().readTree(pkts(0).getString(1))
    assert(pkt.get("id").textValue == "P100")
    assert(pkt.get("subject").get("id").textValue == "P100")
    val features = pkt.get("phenotypic_features")
    assert(features.get(0).get("type").get("id").textValue == "HP:0000510")
    val excluded = features.get(0).get("excluded")
    assert(excluded.isBoolean && !excluded.booleanValue)
    val interp = pkt.get("interpretations").get(0)
    assert(interp.get("id").textValue == "P100-interpretation-0")
    val gi = interp.get("diagnosis").get("genomic_interpretations").get(0)
    val vd = gi.get("variant_interpretation").get("variation_descriptor")
    val expressions = vd.get("expressions")
    assert(expressions.get(0).get("value").textValue == "16:g.100A>G")
    val allelic = vd.get("allelic_state")
    assert(allelic.get("id").textValue == "GENO:0000135")
    assert(allelic.get("label").textValue == "heterozygous")
  }

  test("golden packet guard: p6_phenopacket_json bytes at sf0.001 are pinned by md5") {
    // The most complex oracle in the registry, byte-compared by the
    // driver at sf0.01 — this pins the exact bytes at sf0.001 REPO-SIDE
    // so any Assemble/Mappers drift breaks sbt test, not just the
    // driver gate. Recompute the constant ONLY for an intended
    // serialization change (the failure message prints the new value).
    val rows = SparkEntry.queries("p6_phenopacket_json")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) + "\u0000" + r.getString(1) + "\n")
    assert(rows.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(s => md.update(s.getBytes("UTF-8")))
    val hex = md.digest().map("%02x".format(_)).mkString
    assert(hex == "3da85fefec8e19f2d49bdb1b53138371",
      s"packet JSON drifted from the golden bytes: md5 now $hex over ${rows.length} packets")
  }

  /** Renders `bundles` with the kernel and with [[PacketReference]] and
    * asserts byte equality; returns the kernel's (patient_id, json).
    */
  private def assertKernelMatchesReference(
      bundles: org.apache.spark.sql.DataFrame): Array[(String, String)] = {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)))
    val viaKernel = rows(Assemble.phenopackets(bundles))
    val viaReference = rows(PacketReference.render(bundles))
    assert(viaKernel.toSeq == viaReference.toSeq,
      s"kernel diverged from to_json:\n${viaKernel.zip(viaReference)
        .filter(p => p._1 != p._2).take(2).mkString("\n")}")
    viaKernel
  }

  test("phenopacket_json kernel is byte-identical to the to_json + HOF projection") {
    // Adversarial fixture the organic corpora never produce: JSON
    // metacharacters (quotes, backslashes, control chars, non-ASCII),
    // null fields everywhere to_json would omit them, unparseable and
    // empty hgvsg (expressions:[] branch), unmapped zygosity (null
    // genocode), patients missing entire record kinds, and multiple
    // records per patient (index + comma logic).
    val geno = Seq(
      ("PA", "a@e.co", "chr16:g.100A>G", "heterozygous", "GENE\"quote\\"),
      ("PA", "b@e.co", "not hgvs \n tab\t", "homozygous", "GÉNE✓"),
      ("PA", "c@e.co", null, "weird_zyg", null),
      ("PB", "d@e.co", "", "hemizygous", "G3"))
      .toDF("genotype_patient_ID", "contact_email", "hgvsg", "zygosity",
        "gene_symbol")
    val phen = Seq(
      ("PA", "HP:0000510", "T1", true),
      ("PA", "HP:" + "\u0001" + "ctl", "T2", false),
      ("PC", null.asInstanceOf[String], "T3", true))
      .toDF("phenotype_patient_ID", "HPO_ID", "date_of_observation", "status")
    val dis = Seq(
      ("PA", "OMIM:1", "label \"x\""),
      ("PB", "OMIM:2", null))
      .toDF("patient_ID", "disease_term", "disease_label")
    val meas = Seq(("PC", "weight \\ kg")).toDF("patient_ID", "measurement_type")
    val bios = Seq(
      ("PB", null.asInstanceOf[String], "blood"),
      ("PB", "B2", null.asInstanceOf[String]))
      .toDF("patient_ID", "biosample_id", "biosample_type")

    val bundles = Assemble.groupByPatient(geno, phen, dis, meas, bios,
      canonical = true).orderBy(col("patient_id"))
    val viaKernel = assertKernelMatchesReference(bundles)
    // sanity: the adversarial branches actually executed
    val all = viaKernel.map(_._2).mkString
    assert(all.contains("\\\"") && all.contains("\\\\") && all.contains("\\u0001"))
    assert(all.contains("\"expressions\":[]"))
  }

  test("phenopacket_json kernel is byte-identical to the reference on the CLI's bundle shape") {
    // The shape parse-excel renders: arrival-order bundles of FULL
    // mapped records (every sheet column, not the registry entry's
    // pruned canonical ones) straight from DefaultMapper.applyMapping.
    val dir = "/root/testdata/sf0.001"
    val workbook = Map(
      "variants" -> Queries.genotypeSheet(Tables(spark, dir, "part")),
      "hpo" -> Queries.phenotypeSheet(Tables(spark, dir, "documents")),
      "diseases" -> Queries.diseaseSheet(Tables(spark, dir, "orders")),
      "measurements" -> Queries.measurementSheet(Tables(spark, dir, "events")),
      "biosamples" -> Queries.biosampleSheet(Tables(spark, dir, "supplier")))
    // persisted: both renderers must read the same arrival order
    val bundles = new DefaultMapper().applyMapping(spark, workbook).bundles.persist()
    try {
      val viaKernel = assertKernelMatchesReference(bundles)
      assert(viaKernel.nonEmpty)
      // multi-record bundles ran the index and comma logic
      assert(viaKernel.exists(_._2.contains("-interpretation-1\"")))
    } finally bundles.unpersist(blocking = true)
  }

  test("genotype explode: multi-token zip truncation + row-scoped bail (ref test_mapper_parse_genotype_row)") {
    val geno = Seq(
      // two pairs -> two records
      ("P1", "u@e.co", "1", "16", 1L, 1L, "A", "G", "G1",
        "16:g.1A>G", "NM_1:c.1A>G", "p.X", "het/hom", "inherited/denovo"),
      // zip truncates: 2 zygosities x 1 inheritance -> 1 record
      ("P2", "u@e.co", "1", "16", 1L, 1L, "A", "G", "G1",
        "16:g.1A>G", "NM_1:c.1A>G", "p.X", "het/hom", "denovo"),
      // unknown zygosity kills the whole row
      ("P3", "u@e.co", "1", "16", 1L, 1L, "A", "G", "G1",
        "16:g.1A>G", "NM_1:c.1A>G", "p.X", "het/bogus", "inherited/denovo"),
      // bad token OUTSIDE the zip-truncated pairs is never validated:
      // zip(['het','nope'], ['inherited']) = [('het','inherited')]
      // -> one valid record (ref src/P6/mapper.py:257-270)
      ("P4", "u@e.co", "1", "16", 1L, 1L, "A", "G", "G1",
        "16:g.1A>G", "NM_1:c.1A>G", "p.X", "het/nope", "inherited"),
      // first bad pair wins in PAIR order: pair 0 has the bad
      // inheritance, pair 1 the bad zygosity -> inheritance error
      ("P5", "u@e.co", "1", "16", 1L, 1L, "A", "G", "G1",
        "16:g.1A>G", "NM_1:c.1A>G", "p.X", "het/bogus", "wrong/denovo"),
      // null patient ID must be flagged, not silently emitted
      (null, "u@e.co", "1", "16", 1L, 1L, "A", "G", "G1",
        "16:g.1A>G", "NM_1:c.1A>G", "p.X", "het", "inherited"))
      .toDF("genotype_patient_ID", "contact_email", "phasing", "chromosome",
        "start_position", "end_position", "reference", "alternate",
        "gene_symbol", "hgvsg", "hgvsc", "hgvsp", "zygosity", "inheritance")
    val stage = Mappers.mapGenotypeTable(geno)
    val byPatient = stage.records.groupBy("genotype_patient_ID").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byPatient == Map("P1" -> 2L, "P2" -> 1L, "P4" -> 1L))
    val errs = stage.issues.filter($"level" === "error").select("message").collect()
    assert(errs.exists(_.getString(0).contains("Unrecognized zygosity code 'bogus'")))
    assert(errs.exists(_.getString(0).contains("Unrecognized inheritance code 'wrong'")))
    assert(errs.exists(_.getString(0).contains("patient ID must be alphanumeric")))
    // chromosome got normalized on surviving records
    assert(stage.records.select("chromosome").distinct().collect()
      .map(_.getString(0)).toSet == Set("chr16"))
  }

  test("typed Dataset facade: records round-trip through case-class encoders") {
    val geno = Seq(
      ("P1", "u@e.co", "1", "16", 1L, 1L, "A", "G", "G1",
        "16:g.1A>G", "NM_1:c.1A>G", "p.X", "het/hom", "inherited/denovo"))
      .toDF("genotype_patient_ID", "contact_email", "phasing", "chromosome",
        "start_position", "end_position", "reference", "alternate",
        "gene_symbol", "hgvsg", "hgvsc", "hgvsp", "zygosity", "inheritance")
    val stage = Mappers.mapGenotypeTable(geno)
    val ds: org.apache.spark.sql.Dataset[GenotypeRecord] = stage.typed[GenotypeRecord]
    // compile-time field access in a typed transform
    val zygs = ds.map(_.zygosity).collect().sorted.toSeq
    assert(zygs == Seq("heterozygous", "homozygous"))
    assert(ds.filter(_.chromosome == "chr16").count() == 2)
    assert(stage.typedIssues.collect().isEmpty)
  }

  test("strict_variants escalates HGVS mismatch from warning to error (ref --strict-variants)") {
    val geno = Seq(
      ("P1", "u@e.co", "1", "16", 1L, 1L, "A", "G", "G1",
        "16:g.1C>T", "NM_1:c.1A>G", "p.X", "het", "inherited")) // C>T vs A/G raw
      .toDF("genotype_patient_ID", "contact_email", "phasing", "chromosome",
        "start_position", "end_position", "reference", "alternate",
        "gene_symbol", "hgvsg", "hgvsc", "hgvsp", "zygosity", "inheritance")
    val lax = Mappers.mapGenotypeTable(geno, strictVariants = false)
    val strict = Mappers.mapGenotypeTable(geno, strictVariants = true)
    def levels(st: MappingStage) = st.issues
      .filter($"step" === "check-hgvs").select("level").collect().map(_.getString(0)).toSeq
    assert(levels(lax) == Seq("warning"))
    assert(levels(strict) == Seq("error"))
    // the record itself is kept either way (the reference only drops on parse errors)
    assert(lax.records.count() == 1 && strict.records.count() == 1)
  }

  test("phenotype NAD skip + unparseable error (ref test_mapper_parse_phenotype_row)") {
    val pheno = Seq(
      ("P1", "NAD", "T1", "1"),
      ("P1", "HP:545", "2", "yes"),
      ("P1", "???", "T1", "0"))
      .toDF("phenotype_patient_ID", "hpo_id", "date_of_observation", "status")
    val stage = Mappers.mapPhenotypeTable(pheno)
    val recs = stage.records.collect()
    assert(recs.length == 1)
    assert(recs(0).getAs[String]("HPO_ID") == "HP:0000545")
    assert(recs(0).getAs[String]("date_of_observation") == "T2")
    val issues = stage.issues.collect()
    assert(issues.count(_.getAs[String]("level") == "warning") == 1)
    assert(issues.count(_.getAs[String]("level") == "error") == 1)
  }

  test("required-column gates (ref test_mapper_map_tables_required_columns)") {
    val bad = Seq(("P1", "x")).toDF("genotype_patient_ID", "contact_email")
    val stage = Mappers.mapGenotypeTable(bad)
    assert(stage.records.isEmpty)
    val msg = stage.issues.collect()(0).getAs[String]("message")
    assert(msg.contains("missing required columns"))
    assert(msg.contains("zygosity"))

    val badP = Seq(("P1", "HP:1")).toDF("phenotype_patient_ID", "hpo_id")
    val stageP = Mappers.mapPhenotypeTable(badP)
    assert(stageP.records.isEmpty)
    assert(stageP.issues.collect()(0).getAs[String]("message")
      .contains("missing expected columns"))

    for ((mapper, cols) <- Seq(
      (Mappers.mapDiseaseTable _, Seq("patient_ID", "disease_term")),
      (Mappers.mapMeasurementTable _, Seq("patient_ID", "measurement_type")),
      (Mappers.mapBiosampleTable _, Seq("patient_ID", "biosample_id")))) {
      val df = Seq(("P1", "v")).toDF(cols: _*)
      val st = mapper(df)
      assert(st.records.isEmpty)
      assert(st.issues.count() == 1)
    }
  }

  test("ontology checks: missing / obsolete / propagation (ref src/P6/mapper.py:380-441)") {
    val ont = Ontology.fromRows(spark,
      terms = Seq(
        ("HP:0000001", "All", false, Nil),
        ("HP:0000118", "Phenotypic abnormality", false, Nil),
        ("HP:0000478", "Abnormality of the eye", false, Nil),
        ("HP:0000510", "Rod-cone dystrophy", false, Nil),
        ("HP:0009999", "Old term", true, Seq("HP:0000510"))),
      edges = Seq(
        ("HP:0000118", "HP:0000001"),
        ("HP:0000478", "HP:0000118"),
        ("HP:0000510", "HP:0000478")))
    val phen = Seq(
      ("P1", "HP:0000510", "T1", true),   // fine
      ("P1", "HP:0000478", "T1", true),   // ancestor of 510 -> propagation error
      ("P2", "HP:0009999", "T1", true),   // obsolete -> warning
      ("P2", "HP:1234567", "T1", true))   // unknown -> warning
      .toDF("phenotype_patient_ID", "HPO_ID", "date_of_observation", "status")
    val checks = Ontology.termChecks(ont, phen).collect()
    assert(checks.exists(r => r.getAs[String]("message").contains("HP:1234567 not found")))
    assert(checks.exists(r => r.getAs[String]("message").contains("HP:0009999 is obsolete")))
    val batch = Ontology.batchValidate(ont, phen).collect()
    assert(batch.exists(r => r.getAs[String]("message")
      .contains("HP:0000478 is an ancestor of another annotated term")))
    // closure sanity
    assert(ont.closure.filter($"descendant" === "HP:0000510" && $"ancestor" === "HP:0000001").count() == 1)
  }

  test("sheet binding + audit classification (ref src/P6/mapper.py:513-541, __main__.py:421-440)") {
    val g = Seq(("P1", "a@b.co")).toDF("patient", "contact_email")
    val (chosen, issues) = Normalize.chooseNamedTables(Map("Variants" -> g, "HPO" -> g))
    assert(chosen.contains("genotype") && chosen.contains("phenotype"))
    assert(issues.isEmpty)
    val (_, issues2) = Normalize.chooseNamedTables(Map("labs" -> g))
    assert(issues2.exists(_.level == "error"))
    assert(Normalize.classifySheet(Seq("contact_email", "phasing", "hgvsg"))._1 == "genotype")
    assert(Normalize.classifySheet(Seq("contact_email", "phasing", "chromosome",
      "start_position", "end_position", "reference", "alternate")) == ("genotype", "raw"))
    assert(Normalize.classifySheet(Seq("hpo_id", "date_of_observation", "status"))._1 == "phenotype")
    assert(Normalize.classifySheet(Seq("x", "y"))._1 == "skip")
  }

  test("header normalization end-to-end (ref src/P6/loader.py:48-63)") {
    val df = Seq(("P1", "chr1", "x")).toDF("Patient ID", "Chrom", "HPO: Term")
    val out = Normalize.normalizeHeaders(df)
    assert(out.columns.toSeq == Seq("patient_id", "chromosome", "hpo_id"))
  }
}
