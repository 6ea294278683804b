package graft.p6

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.P6Functions

/** A1 grouping + A2 phenopacket assembly + A3 stats (SURVEY.md §2.7).
  *
  * The reference builds a driver-side dict of patient bundles
  * (src/P6/mapper.py:759-791) then constructs one protobuf per patient
  * (mapper.py:793-910). Spark shape: tag each table's records into a
  * nullable struct slot, UNION the five tables, and aggregate once —
  * five null-skipping collect_lists behind a SINGLE shuffle on
  * patient_id (a patient may appear in any subset of sheets), then one
  * native `phenopacket_json` projection renders each packet's JSON.
  * Nothing is ever materialized on the driver.
  */
object Assemble {

  /** Group each record table by patient into ordered bundles. Encounter
    * order is preserved by carrying a monotonic row id and sorting each
    * collected list by it (the reference preserves sheet row order).
    *
    * Shape: tag each table's records into its own nullable struct slot,
    * UNION the five tables, and aggregate once — five null-skipping
    * collect_lists behind a SINGLE shuffle on patient_id. The previous
    * form (five per-table groupBys + chained full-outer joins) paid 9
    * exchanges, because a full-outer join emits coalesce(l.key, r.key)
    * as the key, which voids the output partitioning and forces every
    * subsequent join to re-shuffle the progressively fatter
    * intermediate. At 100 TB the difference is 1 pass over the record
    * volume vs ~3.
    *
    * Rows with a null patient id are DROPPED, matching the reference's
    * pandas `groupby` (dropna) semantics (src/P6/mapper.py:759-791) —
    * the pre-rewrite full-outer-join shape instead emitted one
    * unmatched null-key row per table, which matched neither the
    * reference nor the union shape.
    *
    * `canonical = true` sorts each bundle by record CONTENT instead of
    * sheet arrival order — the deterministic-across-partitionings form
    * the byte-gated packet oracle compares against (one sort instead
    * of an __ord sort discarded by a re-sort).
    *
    * Genotype records carry the packet render columns of
    * [[withPacketRenderCols]], so every bundle is ready for
    * [[phenopackets]].
    */
  def groupByPatient(genotypes: DataFrame, phenotypes: DataFrame,
      diseases: DataFrame, measurements: DataFrame, biosamples: DataFrame,
      canonical: Boolean = false): DataFrame = {
    val tables = Seq(
      (withPacketRenderCols(genotypes), "genotype_patient_ID", "genotype_records"),
      (phenotypes, "phenotype_patient_ID", "phenotype_records"),
      (diseases, "patient_ID", "disease_records"),
      (measurements, "patient_ID", "measurement_records"),
      (biosamples, "patient_ID", "biosample_records"))
    val names = tables.map(_._3)
    val slotted = tables.map { case (df, idCol, as) =>
      val cols = df.columns.filter(_ != idCol).map(col)
      // The null-id filter runs BEFORE the __ord assignment:
      // monotonically_increasing_id is NONDETERMINISTIC, and Catalyst
      // refuses to push any filter through a nondeterministic
      // projection — with the filter above it, the whole mapper
      // pipeline below lost its scan pushdowns (measured 2.5 -> 0.9 s
      // at sf0.1, the gap to the canonical path). Relative row order
      // is unaffected: dropping rows keeps the survivors' partition
      // positions monotonic, which is all the arrival-order sort needs.
      val filtered = df.filter(col(idCol).isNotNull)
      val withOrd =
        if (canonical) filtered // content sort needs no arrival-order id
        else filtered.withColumn("__ord", monotonically_increasing_id())
      // Non-canonical wraps the payload in an outer (__ord, rec) struct:
      // sort_array orders by __ord (its first field, unique), and the
      // payload comes back out via a single GetArrayStructFields — a
      // codegen'd array projection. The previous `transform(col, s =>
      // s.dropFields("__ord"))` built an interpreted UpdateFields lambda
      // evaluated per collected record (the registry's slowest entry).
      val rec =
        if (canonical) struct(cols.toSeq: _*)
        else struct(col("__ord"), struct(cols.toSeq: _*).as("rec"))
      withOrd.select(col(idCol).as("patient_id"), rec.as(as))
    }
    val slotTypes = slotted.map(_.schema.fields(1).dataType)
    val unioned = slotted.zipWithIndex.map { case (df, i) =>
      df.select(col("patient_id") +:
        names.zipWithIndex.map { case (n, j) =>
          (if (i == j) col(n) else lit(null).cast(slotTypes(j))).as(n)
        }: _*)
    }.reduce(_ unionByName _)
    val agged = unioned.groupBy(col("patient_id"))
      .agg(sort_array(collect_list(col(names.head))).as(names.head),
        names.tail.map(n => sort_array(collect_list(col(n))).as(n)): _*)
    if (canonical) agged
    else agged.select(col("patient_id") +:
      names.map(n => col(n).getField("rec").as(n)): _*)
  }

  /** Per-row packet render columns, appended AFTER the genotype
    * frame's existing columns, before the bundle shuffle: `gnorm` (F8
    * normalized g. expression) and `genocode` (F12 GENO allelic-state
    * code). On the narrow pre-collect frame these are plain codegen'd
    * column expressions, not per-array-element work post-collect.
    * Appending them last preserves [[groupByPatient]]'s canonical sort
    * order: both are functions of earlier fields (hgvsg, zygosity), so
    * they can never decide a comparison the prefix left tied.
    */
  private def withPacketRenderCols(genotypes: DataFrame): DataFrame =
    genotypes
      .withColumn("gnorm", P6Functions.normalizeGExpression(col("hgvsg")))
      .withColumn("genocode", P6Functions.genoAllelicState(col("zygosity")))

  /** A2: per-patient GA4GH Phenopacket JSON (ref: src/P6/mapper.py:793-910;
    * descriptor ref: src/P6/genotype.py:274-299), rendered by ONE native
    * kernel ([[graft.functions.VectorExpressions.phenopacket_json]]) over
    * [[groupByPatient]]'s bundles. Returns (patient_id, packet_json).
    */
  def phenopackets(bundles: DataFrame): DataFrame = {
    // The kernel renders with ignoreNullFields=true semantics (null
    // fields omitted). A session setting
    // spark.sql.jsonGenerator.ignoreNullFields=false expects nulls to
    // be emitted — fail loudly instead of silently diverging from it.
    val conf = bundles.sparkSession.conf
      .get("spark.sql.jsonGenerator.ignoreNullFields", "true")
    require(conf.toBoolean,
      "phenopackets renders packets with null fields omitted; the " +
        "session sets spark.sql.jsonGenerator.ignoreNullFields=false, " +
        "which the packet renderer does not honor — unset it")
    bundles.select(
      col("patient_id"),
      graft.functions.VectorExpressions.phenopacket_json(
        col("patient_id"), col("phenotype_records"),
        col("genotype_records"), col("disease_records"),
        col("measurement_records"), col("biosample_records"))
        .as("packet_json"))
  }

  /** Hard cap on the driver-side numbered/legacy sink. Overridable via
    * `-Dgraft.maxNumberedFiles=N` for parity runs that genuinely need
    * more; the scale path is [[writePartitioned]].
    */
  def maxNumberedFiles: Long =
    sys.props.get("graft.maxNumberedFiles").map(_.toLong).getOrElse(100000L)

  /** S4 sink: one JSON document per patient under `outDir`. The
    * reference numbers files 1.json..N.json in iteration order
    * (src/P6/__main__.py:200-212); we honor that naming for parity at
    * small N. `legacyNames = true` reproduces the reference's OLDER
    * write path instead, which names each file by its patient id
    * (`<patient_id>.json`, src/P6/__main__.py:313-391) — a user
    * migrating old output layouts needs both. At 100 TB the idiomatic
    * layout is `write.partitionBy("patient_id").text(...)` — provided
    * as [[writePartitioned]]. `packets` is [[phenopackets]]' output.
    */
  def writeNumberedJson(packets: DataFrame, outDir: String,
      legacyNames: Boolean = false): Long = {
    // fail fast BEFORE writing: the numbered layout is a driver-side
    // small-N parity path, and pointing it at a large frame would pull
    // the whole corpus onto the driver. Same discipline as
    // Curation.bucketHistogram: bounded fetch (cap+1 rows — the same
    // driver-memory bound the success path already implies), error
    // names the knob and the scale alternative. ONE execution: a
    // separate count() probe would run the whole packet pipeline
    // twice.
    val cap = maxNumberedFiles
    val rows = packets
      .select(col("patient_id"), col("packet_json"))
      .orderBy(col("patient_id"))
      .limit(math.min(cap, Int.MaxValue - 2L).toInt + 1)
      .collect() // parity path: one small file per patient, driver-side
    require(rows.length <= cap,
      s"writeNumberedJson is the small-N parity sink: got > $cap patients " +
        "(cap graft.maxNumberedFiles). Use Assemble.writePartitioned for " +
        "the distributed per-patient layout.")
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    rows.zipWithIndex.foreach { case (r, i) =>
      val name = if (legacyNames) s"${r.getString(0)}.json" else s"${i + 1}.json"
      java.nio.file.Files.writeString(dir.resolve(name), r.getString(1))
    }
    rows.length.toLong
  }

  /** The distributed S4 layout: [[phenopackets]]' JSON written under
    * one `patient_id=<id>` directory per patient.
    */
  def writePartitioned(packets: DataFrame, outDir: String): Unit =
    packets.select(col("patient_id"), col("packet_json"))
      .write.mode("overwrite").partitionBy("patient_id").text(outDir)

  /** A3: run statistics (ref: src/P6/mapper.py:176-185) computed in ONE
    * job over a unioned, tagged count — not five separate actions.
    */
  def stats(genotypes: DataFrame, phenotypes: DataFrame, diseases: DataFrame,
      measurements: DataFrame, biosamples: DataFrame, bundles: DataFrame): Map[String, Long] = {
    val tagged = Seq(
      "genotypes" -> genotypes, "phenotypes" -> phenotypes,
      "diseases" -> diseases, "measurements" -> measurements,
      "biosamples" -> biosamples, "patients" -> bundles)
      .map { case (k, df) => df.select(lit(k).as("kind")) }
      .reduce(_ unionByName _)
    tagged.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
  }
}
