package graft.p6

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.P6Functions._

/** Result of mapping one sheet: the typed record rows plus the
  * error/warning side-channel (SURVEY.md §2.9). Both are lazy plans
  * over one shared validation projection: records and issues are two
  * filters over the same per-row verdicts, so the verdict logic exists
  * once. Sharing the plan does not share its evaluation — every action
  * on either side re-runs the projection from the scan. Callers that
  * act on a mapping more than once persist it first, as the CLI does
  * through [[MappingResult.cached]].
  *
  * [[typed]] exposes the records as a `Dataset[T]` with the case-class
  * Encoder — same plan, compile-time field access for downstream
  * type-safe transforms (`.map`, `.filter(_.field ...)`) where that
  * helps; the DataFrame stays the lingua franca for Catalyst-first
  * column work.
  */
final case class MappingStage(records: DataFrame, issues: DataFrame) {
  def typed[T: org.apache.spark.sql.Encoder]: org.apache.spark.sql.Dataset[T] =
    records.as[T]
  def typedIssues: org.apache.spark.sql.Dataset[Issue] = {
    import issues.sparkSession.implicits._
    issues.as[Issue]
  }
}

/** Per-table normalize -> validate -> record pipelines. The reference
  * walks rows imperatively (src/P6/mapper.py iterrows loops); here each
  * table is ONE declarative column-expression plan, so Catalyst prunes,
  * pushes down, and codegens the whole stage. At 100 TB none of these
  * stages shuffles: they are narrow maps over the scan.
  */
object Mappers {

  private def emptyIssues(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[Issue].toDF()
  }

  private def issueCol(sheet: String, step: String, level: String, message: Column) =
    struct(lit(sheet).as("sheet"), lit(step).as("step"),
      lit(level).as("level"), message.as("message"))

  /** Genotype sheet -> GenotypeRecord rows
    * (ref: src/P6/mapper.py:544-583, 237-311).
    *
    * Row semantics preserved exactly:
    *  - zygosity/inheritance cells are slash-tokenized, zip-TRUNCATED to
    *    the shorter list (G1), one output record per pair;
    *  - any unrecognized token, missing chromosome, bad position, or
    *    failed dataclass check drops the WHOLE row (all pairs) with an
    *    error — validation therefore runs BEFORE the explode;
    *  - HGVS<->raw consistency (V10) warns (errors when strict).
    */
  def mapGenotypeTable(df: DataFrame, strictVariants: Boolean = false): MappingStage = {
    val spark = df.sparkSession
    val sheet = "genotype"
    val required = Seq("contact_email", "phasing", "chromosome",
      "start_position", "end_position", "reference", "alternate",
      "gene_symbol", "hgvsg", "hgvsc", "hgvsp", "zygosity", "inheritance")
    val missing = required.filterNot(df.columns.map(_.toLowerCase).contains).sorted
    if (missing.nonEmpty) {
      import spark.implicits._
      return MappingStage(
        spark.emptyDataset[GenotypeRecord].toDF(),
        Seq(Issue(sheet, "required-columns", "error",
          s"Sheet 'genotype': missing required columns: ${missing.mkString("[", ", ", "]")}"))
          .toDF())
    }

    val zygTokens = slashTokens(col("zygosity"))
    val inhTokens = slashTokens(col("inheritance"))
    // The reference validates only the zip-TRUNCATED pairs, zygosity
    // before inheritance within each pair (src/P6/mapper.py:257-270):
    // a bad token beyond the shorter list is never seen, and the first
    // bad pair (in pair order) determines the error message.
    val nPairs = least(size(zygTokens), size(inhTokens))
    // GOOD-row test via array_except against the enum keys: fully
    // codegen'd (array_except/slice/size all have doGenCode), so the
    // dominant per-row validator check stays inside whole-stage
    // codegen. Equivalent to "some truncated pair fails to decode":
    // a pair is bad iff its zyg token is outside zygosityMap or its
    // inh token is outside inheritanceMap, element-wise over the same
    // slices. The interpreted filter(zip_with(...)) tree below is only
    // evaluated in the message branch, i.e. for the rare bad rows.
    val anyBadPair =
      size(array_except(slice(zygTokens, lit(1), nPairs),
        typedLit(zygosityMap.keySet.toSeq.sorted))) > 0 ||
      size(array_except(slice(inhTokens, lit(1), nPairs),
        typedLit(inheritanceMap.keySet.toSeq.sorted))) > 0
    val badPairs = filter(
      zip_with(slice(zygTokens, lit(1), nPairs), slice(inhTokens, lit(1), nPairs),
        (z, i) => struct(z.as("zyg"), i.as("inh"))),
      p => decodeZygosity(p.getField("zyg")).isNull ||
        decodeInheritance(p.getField("inh")).isNull)
    val firstBad = element_at(badPairs, 1)
    val chromNorm = normalizeChromosome(col("chromosome"))
    val email = emailOrDefault(col("contact_email"))
    val startL = col("start_position").try_cast("long")
    val endL = col("end_position").try_cast("long")
    val consistency = hgvsConsistency(col("hgvsg"), col("chromosome"),
      col("start_position"), col("end_position"), col("reference"), col("alternate"))

    // First failing check wins, mirroring the reference's sequential bail.
    // The bad-pair branch tests `size(badPairs) > 0` ONCE and picks the
    // zygosity-vs-inheritance message inside the value expression:
    // `filter(zip_with(...))` is a higher-order (interpreted,
    // CodegenFallback) tree that Catalyst substitutes verbatim into the
    // pushed-down Filter condition, so every extra reference re-runs
    // the whole tokenize+zip+filter per input row. One reference on
    // the good-row path (vs two) measurably shortens the dominant
    // per-row cost of the genotype pipeline; the value branch only
    // runs for the rare bad rows.
    val rowError =
      when(anyBadPair,
        when(decodeZygosity(firstBad.getField("zyg")).isNull,
          concat(lit(s"Sheet '$sheet': Unrecognized zygosity code '"),
            firstBad.getField("zyg"), lit("'")))
        .otherwise(
          concat(lit(s"Sheet '$sheet': Unrecognized inheritance code '"),
            firstBad.getField("inh"), lit("'"))))
      .when(chromNorm.isNull, lit(s"Sheet '$sheet': Missing chromosome"))
      .when(startL.isNull || endL.isNull || startL < 0 || endL < 0,
        lit(s"Sheet '$sheet': positions must be non-negative integers"))
      // rlike yields NULL for a NULL id — coalesce so null IDs are
      // flagged instead of silently passing the when().
      .when(!coalesce(validPatientId(col("genotype_patient_ID").cast("string")), lit(false)),
        lit(s"Sheet '$sheet': patient ID must be alphanumeric"))
      .when(!validEmail(email), lit(s"Sheet '$sheet': invalid contact_email"))
      .when(!validChromosome(chromNorm), lit(s"Sheet '$sheet': invalid chromosome"))
      .when(Seq("reference", "alternate", "gene_symbol", "hgvsg", "hgvsc", "hgvsp")
        .map(c => !nonEmpty(col(c))).reduce(_ || _),
        lit(s"Sheet '$sheet': required string fields must be non-empty"))

    val staged = df
      .withColumn("__error", rowError)
      .withColumn("__consistency", consistency)

    val records = staged
      .filter(col("__error").isNull)
      .select(col("genotype_patient_ID").cast("string").as("genotype_patient_ID"),
        email.as("contact_email"),
        toBoolLike(col("phasing")).as("phasing"),
        chromNorm.as("chromosome"),
        startL.as("start_position"),
        endL.as("end_position"),
        col("reference").cast("string").as("reference"),
        col("alternate").cast("string").as("alternate"),
        col("gene_symbol").cast("string").as("gene_symbol"),
        col("hgvsg").cast("string").as("hgvsg"),
        col("hgvsc").cast("string").as("hgvsc"),
        col("hgvsp").cast("string").as("hgvsp"),
        explode(zipTruncate(zygTokens, inhTokens)).as("__pair"))
      .select(col("*"),
        decodeZygosity(col("__pair.zyg")).as("zygosity"),
        decodeInheritance(col("__pair.inh")).as("inheritance"))
      .drop("__pair")

    val rowIssues = staged.filter(col("__error").isNotNull)
      .select(issueCol(sheet, "parse-genotype-row", "error", col("__error")).as("i"))
      .select(col("i.*"))

    val hgvsLevel = if (strictVariants) "error" else "warning"
    // The reference bails out of parse_genotype_row before the HGVS check
    // when an earlier validation failed (src/P6/mapper.py:261-309), so
    // only error-free rows reach check_hgvs.
    val hgvsIssues = staged
      .filter(col("__error").isNull)
      .select(col("hgvsg"), col("chromosome"), col("start_position"),
        col("end_position"), col("reference"), col("alternate"), col("__consistency"))
      .withColumn("__msg",
        when(!col("__consistency.parsed"),
          concat(lit(s"Sheet '$sheet': malformed HGVS g. notation '"),
            coalesce(trim(col("hgvsg").cast("string")), lit("")), lit("'")))
        .when(!col("__consistency.consistent"),
          concat(lit(s"Sheet '$sheet': HGVS '"), trim(col("hgvsg").cast("string")),
            lit("' disagrees with raw ("), col("chromosome").cast("string"),
            lit(":"), col("start_position").cast("string"), lit("-"),
            col("end_position").cast("string"), lit(" "),
            col("reference").cast("string"), lit(">"),
            col("alternate").cast("string"), lit(")"))))
      .filter(col("__msg").isNotNull)
      .select(
        lit(sheet).as("sheet"), lit("check-hgvs").as("step"),
        when(!col("__consistency.parsed"), lit("error"))
          .otherwise(lit(hgvsLevel)).as("level"),
        col("__msg").as("message"))

    MappingStage(records, rowIssues.unionByName(hgvsIssues))
  }

  /** Phenotype sheet -> PhenotypeRecord rows
    * (ref: src/P6/mapper.py:313-399, 585-605). NAD placeholder rows are
    * skipped with a warning; unparseable HPO cells error out; the CURIE
    * is zero-padded to HP:\d{7}. Ontology checks (J1-J4) are applied by
    * [[Ontology.validatePhenotypes]] downstream.
    */
  def mapPhenotypeTable(df: DataFrame): MappingStage = {
    val spark = df.sparkSession
    val sheet = "phenotype"
    val required = Seq("hpo_id", "date_of_observation", "status")
    val missing = required.filterNot(df.columns.map(_.toLowerCase).contains).sorted
    if (missing.nonEmpty) {
      import spark.implicits._
      return MappingStage(
        spark.emptyDataset[PhenotypeRecord].toDF(),
        Seq(Issue(sheet, "required-columns", "error",
          s"Sheet 'phenotype': missing expected columns: ${missing.mkString("[", ", ", "]")}"))
          .toDF())
    }

    val cell = trim(coalesce(col("hpo_id").cast("string"), lit("")))
    val isNad = upper(cell) === "NAD"
    val curie = hpoCellToCurie(cell)
    val date = normalizeTimeLike(col("date_of_observation"))
    val pid = col("phenotype_patient_ID").cast("string")

    val rowError =
      when(!isNad && curie.isNull,
        concat(lit(s"Sheet '$sheet': Cannot parse HPO term+ID from '"), cell, lit("'")))
      .when(!coalesce(validPatientId(pid), lit(false)),
        lit(s"Sheet '$sheet': patient ID must be alphanumeric"))
      .when(!(date === "" || validObservationDate(date)),
        lit(s"Sheet '$sheet': date_of_observation must match T<digits>"))

    val staged = df
      .withColumn("__nad", isNad)
      .withColumn("__error", rowError)

    val records = staged
      .filter(!col("__nad") && col("__error").isNull)
      .select(pid.as("phenotype_patient_ID"),
        curie.as("HPO_ID"),
        date.as("date_of_observation"),
        toBoolLike(col("status")).as("status"))

    val nadIssues = staged.filter(col("__nad"))
      .select(lit(sheet).as("sheet"), lit("parse-phenotype-row").as("step"),
        lit("warning").as("level"),
        lit(s"Sheet '$sheet': 'NAD' encountered - skipping phenotype row").as("message"))

    val rowIssues = staged.filter(!col("__nad") && col("__error").isNotNull)
      .select(lit(sheet).as("sheet"), lit("parse-phenotype-row").as("step"),
        lit("error").as("level"), col("__error").as("message"))

    MappingStage(records, nadIssues.unionByName(rowIssues))
  }

  /** Disease sheet -> DiseaseRecord (ref: src/P6/mapper.py:643-677). */
  def mapDiseaseTable(df: DataFrame): MappingStage =
    mapSimpleTable(df, "diseases",
      s => { import s.implicits._; s.emptyDataset[DiseaseRecord].toDF() },
      Seq("patient_ID", "disease_term", "disease_onset", "disease_status"),
      d => d.select(
        col("patient_ID").cast("string").as("patient_ID"),
        trim(col("disease_term").cast("string")).as("disease_term"),
        when(length(trim(coalesce(col("disease_label").cast("string"), lit("")))) === 0,
          lit(null)).otherwise(trim(col("disease_label").cast("string")))
          .as("disease_label"),
        trim(col("disease_onset").cast("string")).as("disease_onset"),
        toBoolLike(col("disease_status")).as("disease_status")),
      optional = Seq("disease_label"))

  /** Measurement sheet -> MeasurementRecord (ref: src/P6/mapper.py:679-718).
    * Unparseable measurement_value drops the row with an error (F14).
    */
  def mapMeasurementTable(df: DataFrame): MappingStage = {
    val base = mapSimpleTable(df, "measurements",
      s => { import s.implicits._; s.emptyDataset[MeasurementRecord].toDF() },
      Seq("patient_ID", "measurement_type", "measurement_value", "measurement_unit"),
      d => d.select(
        col("patient_ID").cast("string").as("patient_ID"),
        trim(col("measurement_type").cast("string")).as("measurement_type"),
        col("measurement_value").try_cast("double").as("measurement_value"),
        trim(col("measurement_unit").cast("string")).as("measurement_unit"),
        when(normalizeTimeLike(col("measurement_timestamp")) === "", lit(null))
          .otherwise(normalizeTimeLike(col("measurement_timestamp")))
          .as("measurement_timestamp")),
      optional = Seq("measurement_timestamp"))
    if (!df.columns.contains("measurement_value")) return base // required gate already fired
    val bad = base.records.filter(col("measurement_value").isNull)
      .select(lit("measurements").as("sheet"), lit("parse-measurement-row").as("step"),
        lit("error").as("level"),
        lit("Sheet 'measurements': could not convert measurement_value to float")
          .as("message"))
    MappingStage(base.records.filter(col("measurement_value").isNotNull),
      base.issues.unionByName(bad))
  }

  /** Biosample sheet -> BiosampleRecord (ref: src/P6/mapper.py:720-756). */
  def mapBiosampleTable(df: DataFrame): MappingStage =
    mapSimpleTable(df, "biosamples",
      s => { import s.implicits._; s.emptyDataset[BiosampleRecord].toDF() },
      Seq("patient_ID", "biosample_id", "biosample_type", "collection_date"),
      d => d.select(
        col("patient_ID").cast("string").as("patient_ID"),
        trim(col("biosample_id").cast("string")).as("biosample_id"),
        trim(col("biosample_type").cast("string")).as("biosample_type"),
        normalizeTimeLike(col("collection_date")).as("collection_date")))

  private def mapSimpleTable(df: DataFrame, sheet: String,
      empty: SparkSession => DataFrame, required: Seq[String],
      project: DataFrame => DataFrame, optional: Seq[String] = Nil): MappingStage = {
    val spark = df.sparkSession
    val missing = required.filterNot(df.columns.contains).sorted
    if (missing.nonEmpty) {
      import spark.implicits._
      return MappingStage(empty(spark),
        Seq(Issue(sheet, "required-columns", "error",
          s"Sheet '$sheet': missing required columns: ${missing.mkString("[", ", ", "]")}"))
          .toDF())
    }
    val withOptional = optional.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast("string"))
    }
    MappingStage(project(withOptional), emptyIssues(spark))
  }
}
