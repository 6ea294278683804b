package graft.p6

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** §2.10 TableMapper SPI — the reference's extension seam
  * (ref: src/P6/mapper.py:118-127): a mapper turns a workbook's sheet
  * map into typed record tables plus the issue side-channel.
  */
trait TableMapper {
  def applyMapping(spark: SparkSession, tables: Map[String, DataFrame]): MappingResult
}

/** All five record tables (empty when the sheet is absent) + issues. */
final case class MappingResult(
    genotypes: DataFrame,
    phenotypes: DataFrame,
    diseases: DataFrame,
    measurements: DataFrame,
    biosamples: DataFrame,
    issues: DataFrame) {

  def bundles: DataFrame =
    Assemble.groupByPatient(genotypes, phenotypes, diseases, measurements, biosamples)

  def stats: Map[String, Long] =
    Assemble.stats(genotypes, phenotypes, diseases, measurements, biosamples, bundles)

  /** Runs `f` with the five record frames and the issue frame persisted
    * MEMORY_AND_DISK, then releases all six, blocking, even when `f`
    * throws. Each frame is then evaluated once, by the first action
    * that reads it, however many actions `f` runs. `persist` rather
    * than `localCheckpoint`: a lost block recomputes from lineage.
    *
    * The records persist before the issues so that the issue frame's
    * ontology checks read the cached phenotype records (a frame's
    * cached plan is fixed when it is persisted, so it only reads caches
    * registered before it); the release runs in the reverse order so
    * no still-cached frame depends on one already dropped.
    */
  def cached[T](f: MappingResult => T): T = {
    val frames = Seq(genotypes, phenotypes, diseases, measurements, biosamples, issues)
    frames.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    try f(this)
    finally frames.reverse.foreach(_.unpersist(blocking = true))
  }
}

/** The default pipeline (ref: src/P6/mapper.py DefaultMapper): bind
  * sheets by alias, promote the index column, run the five per-table
  * mappers, apply ontology checks when an ontology is supplied.
  */
final class DefaultMapper(ontology: Option[Ontology] = None,
    strictVariants: Boolean = false) extends TableMapper {

  override def applyMapping(spark: SparkSession,
      tables: Map[String, DataFrame]): MappingResult = {
    import spark.implicits._
    def emptyIssues = spark.emptyDataset[Issue].toDF()

    val (chosen, bindIssues) = Normalize.chooseNamedTables(tables)
    def stage(kind: String, idName: String, f: DataFrame => MappingStage,
        empty: => DataFrame): MappingStage =
      chosen.get(kind).map(df => f(Normalize.promoteIndex(df, idName)))
        .getOrElse(MappingStage(empty, emptyIssues))

    val g = stage("genotype", "genotype_patient_ID",
      Mappers.mapGenotypeTable(_, strictVariants), spark.emptyDataset[GenotypeRecord].toDF())
    val p = stage("phenotype", "phenotype_patient_ID",
      Mappers.mapPhenotypeTable(_), spark.emptyDataset[PhenotypeRecord].toDF())
    val d = stage("diseases", "patient_ID",
      Mappers.mapDiseaseTable(_), spark.emptyDataset[DiseaseRecord].toDF())
    val m = stage("measurements", "patient_ID",
      Mappers.mapMeasurementTable(_), spark.emptyDataset[MeasurementRecord].toDF())
    val b = stage("biosamples", "patient_ID",
      Mappers.mapBiosampleTable(_), spark.emptyDataset[BiosampleRecord].toDF())

    val ontologyIssues = ontology match {
      case Some(ont) =>
        Ontology.termChecks(ont, p.records)
          .unionByName(Ontology.batchValidate(ont, p.records))
      case None => emptyIssues
    }

    val issues = bindIssues.toDF()
      .unionByName(g.issues).unionByName(p.issues).unionByName(d.issues)
      .unionByName(m.issues).unionByName(b.issues).unionByName(ontologyIssues)

    MappingResult(g.records, p.records, d.records, m.records, b.records, issues)
  }
}
