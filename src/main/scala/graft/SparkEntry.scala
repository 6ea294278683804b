package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.p6._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY.md §2 (or the
  * §7.4 expansion surface) exercised against the driver's parquet corpus;
  * [[oracleSql]] carries the DuckDB-equivalent SQL for the correctness
  * gate. Column names are aligned on both sides (the driver hash-compares
  * after sorting columns by name).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full P6 pipeline (normalize -> validate -> explode ->
    * group -> phenopacket) over a workbook synthesized from the corpus.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val workbook = Map(
      "variants" -> Queries.genotypeSheet(t(spark, dir, "part")),
      "hpo" -> Queries.phenotypeSheet(t(spark, dir, "documents")),
      "diseases" -> Queries.diseaseSheet(t(spark, dir, "orders")),
      "measurements" -> Queries.measurementSheet(t(spark, dir, "events")),
      "biosamples" -> Queries.biosampleSheet(t(spark, dir, "supplier")))
    val result = new DefaultMapper().applyMapping(spark, workbook)
    Assemble.phenopackets(result.bundles)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  def oracleSql: Map[String, String] = Queries.oracles
}
