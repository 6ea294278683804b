package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.P6Functions

/** Declarative byte reference for [[graft.p6.Assemble.phenopackets]]: the
  * GA4GH Phenopacket (ref: src/P6/mapper.py:793-910; descriptor ref:
  * src/P6/genotype.py:274-299) built as a nested struct with one
  * `transform` per record kind, then serialized by Spark's `to_json`.
  * It shares no rendering code with the native `phenopacket_json`
  * kernel: it recomputes the normalized g. expression and GENO code from
  * `hgvsg`/`zygosity` instead of reading the pre-shuffle render columns.
  * Interpreted per row: test-sized bundles only.
  */
object PacketReference {

  /** (patient_id, packet_json) over [[graft.p6.Assemble.groupByPatient]]
    * bundles, in the bundles' row and record order.
    */
  def render(bundles: DataFrame): DataFrame = {
    val features = transform(col("phenotype_records"), p =>
      struct(
        struct(p.getField("HPO_ID").as("id")).as("type"),
        (!p.getField("status")).as("excluded")))

    val interpretations = transform(col("genotype_records"), (grec, i) => {
      val gNorm = P6Functions.normalizeGExpression(grec.getField("hgvsg"))
      val descriptor = struct(
        when(gNorm.isNotNull,
          array(struct(lit("hgvs").as("syntax"), gNorm.as("value"))))
          .otherwise(array().cast("array<struct<syntax:string,value:string>>"))
          .as("expressions"),
        struct(
          P6Functions.genoAllelicState(grec.getField("zygosity")).as("id"),
          grec.getField("zygosity").as("label")).as("allelic_state"),
        struct(grec.getField("gene_symbol").as("symbol")).as("gene_context"))
      struct(
        concat(col("patient_id"), lit("-interpretation-"), i.cast("string")).as("id"),
        lit("COMPLETED").as("progress_status"),
        struct(
          array(struct(
            col("patient_id").as("subject_or_biosample_id"),
            lit("CONTRIBUTORY").as("interpretation_status"),
            struct(descriptor.as("variation_descriptor"))
              .as("variant_interpretation"))).as("genomic_interpretations"))
          .as("diagnosis"))
    })

    val diseases = transform(col("disease_records"), d =>
      struct(struct(
        d.getField("disease_term").as("id"),
        d.getField("disease_label").as("label")).as("term")))

    val measurements = transform(col("measurement_records"), m =>
      struct(struct(m.getField("measurement_type").as("id")).as("type")))

    val biosamples = transform(col("biosample_records"), b =>
      struct(
        b.getField("biosample_id").as("id"),
        struct(b.getField("biosample_type").as("id")).as("type")))

    bundles.select(
      col("patient_id"),
      to_json(struct(
        col("patient_id").as("id"),
        struct(col("patient_id").as("id")).as("subject"),
        features.as("phenotypic_features"),
        interpretations.as("interpretations"),
        diseases.as("diseases"),
        measurements.as("measurements"),
        biosamples.as("biosamples"))).as("packet_json"))
  }
}
