package graft.p6

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.P6Functions._
import graft.functions.TextOps
import graft.operators.Dedup

/** The driver-facing query surface: one entry per operator from
  * SURVEY.md §2 (P6 parity) plus the §7.4 expansion surface (dedup,
  * text analysis, similarity search), each with a DuckDB oracle over
  * the same parquet corpus (TESTDATA.md).
  *
  * Conventions shared with the oracles (the driver hash-compares after
  * sorting columns by name):
  *  - every query ends in a deterministic ORDER BY over a unique key;
  *  - aggregates of doubles are round()ed (2-4 dp) so summation order
  *    cannot flip the hash; raw parquet doubles pass through unrounded;
  *  - integer aggregates are 64-bit on both sides (DuckDB sums are
  *    CAST(... AS BIGINT) to avoid HUGEINT).
  *
  * P6 parity queries synthesize workbook "sheets" from the corpus with
  * pure arithmetic on the keys, so the oracle can predict the mapper's
  * output in closed form while the Spark side runs the REAL pipeline
  * (normalize -> validate -> explode -> group).
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // ================================================================
  // Synthesized sheets (deterministic functions of the corpus keys)
  // ================================================================

  /** Genotype sheet from `part`: every mapper path is exercised —
    * k%89==0 rows carry an unknown zygosity token (row error, dropped),
    * k%17==0 rows carry an HGVS/raw mismatch (warning, kept),
    * k%4==2 rows have 2 zygosity tokens, k%3==2 rows 2 inheritance
    * tokens (G1 zip-truncate explode).
    */
  def genotypeSheet(part: DataFrame): DataFrame = {
    val k = col("p_partkey")
    val c = (k % 22 + 1).cast("string")
    part.select(
      concat(lit("P"), (k % 211).cast("string")).as("genotype_patient_ID"),
      concat(lit("u"), k.cast("string"), lit("@example.com")).as("contact_email"),
      (k % 2).cast("string").as("phasing"),
      c.as("chromosome"),
      (k + 1).as("start_position"),
      (k + 1).as("end_position"),
      lit("A").as("reference"),
      lit("G").as("alternate"),
      col("p_brand").as("gene_symbol"),
      concat(c, lit(":g."), (k + 1).cast("string"),
        when(k % 17 === 0, "C>T").otherwise("A>G")).as("hgvsg"),
      concat(lit("NM_"), k.cast("string"), lit(".1:c."),
        (k + 1).cast("string"), lit("A>G")).as("hgvsc"),
      lit("p.X").as("hgvsp"),
      when(k % 89 === 0, "nope")
        .otherwise(element_at(typedLit(Seq("het", "hom", "het/hom", "hemi")),
          (k % 4 + 1).cast("int"))).as("zygosity"),
      element_at(typedLit(Seq("inherited", "denovo", "inherited/denovo")),
        (k % 3 + 1).cast("int")).as("inheritance"))
  }

  /** Phenotype sheet from `documents`: HPO cell shapes cover every F3
    * branch — bare digits, HP: prefix, label+parens, case-insensitive
    * prefix, whitespace, NAD skip rows (d%7==3) and unparseable rows
    * (d%7==4).
    */
  def phenotypeSheet(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    val z = (d % 43000).cast("string")
    docs.select(
      concat(lit("P"), (d % 223).cast("string")).as("phenotype_patient_ID"),
      when(d % 7 === 0, concat(lit("HP:"), z))
        .when(d % 7 === 1, z)
        .when(d % 7 === 2, concat(lit("Myopia (HP:"), z, lit(")")))
        .when(d % 7 === 3, lit("NAD"))
        .when(d % 7 === 4, lit("???"))
        .when(d % 7 === 5, concat(lit("hp"), z))
        .otherwise(concat(lit(" "), z, lit(" "))).as("hpo_id"),
      when(d % 3 === 0, (d % 365).cast("string"))
        .when(d % 3 === 1, concat(lit("T"), (d % 365).cast("string")))
        .otherwise(lit(null).cast("string")).as("date_of_observation"),
      when(d % 2 === 0, "1").otherwise("no").as("status"))
  }

  // ================================================================
  // Relational core (scan / filter / agg / join / window / top-k /
  // semi-anti / set ops) — Catalyst handles pushdown + broadcast.
  // ================================================================

  private def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private def q2Revenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_rows"))

  private def q3NationRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("n_name"))

  private def q4RegionYearRevenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("r_name"), col("o_year"))

  private def q5TopOrderPerCustomer(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  private def q6TopKParts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_partkey"))
      .limit(100)

  private def q7SemiAnti(s: SparkSession, dir: String): DataFrame = {
    val customer = t(s, dir, "customer")
    val orders = t(s, dir, "orders")
    val without = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_without_orders"))
    val withO = customer.join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n_with_orders"))
    without.crossJoin(withO)
  }

  private def q8SetOps(s: SparkSession, dir: String): DataFrame = {
    val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nk")).distinct()
    val cn = t(s, dir, "customer").select(col("c_nationkey").as("nk")).distinct()
    sn.except(cn).agg(count(lit(1)).as("n_supplier_only"))
      .crossJoin(sn.intersect(cn).agg(count(lit(1)).as("n_both")))
      .crossJoin(sn.union(cn).distinct().agg(count(lit(1)).as("n_union")))
  }

  /** Exact multi-column distinct counts as a crossJoin of independent
    * single-column aggregates: N countDistincts in ONE agg make
    * Catalyst Expand the input N-fold (every row replicated per
    * distinct group); independent 1-row aggs scan each (pruned) column
    * once instead — measured ~3x at sf0.1.
    */
  private def q9DistinctCounts(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    def d(c: String, as: String) =
      li.select(col(c)).distinct().agg(count(lit(1)).as(as))
    d("l_partkey", "n_parts")
      .crossJoin(d("l_suppkey", "n_supps"))
      .crossJoin(d("l_orderkey", "n_orders"))
      .crossJoin(li.agg(count(lit(1)).as("n_rows")))
  }

  private def q10EventsAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  /** Tumbling 1-day event-time windows — the batch shape of the
    * Structured Streaming aggregation (readStream + watermark share
    * this exact plan).
    */
  private def q11EventsWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 day").getField("start").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("day"), col("event_type"))

  // ================================================================
  // P6 parity queries — the real pipeline vs a closed-form oracle
  // ================================================================

  private def p6Genotype(s: SparkSession, dir: String): DataFrame =
    Mappers.mapGenotypeTable(genotypeSheet(t(s, dir, "part"))).records
      .groupBy(col("genotype_patient_ID"))
      .agg(count(lit(1)).as("n_records"),
        sum(when(col("zygosity") === "heterozygous", 1L).otherwise(0L)).as("n_het"),
        sum(when(col("zygosity") === "homozygous", 1L).otherwise(0L)).as("n_hom"))
      .orderBy(col("genotype_patient_ID"))

  private def p6Phenotype(s: SparkSession, dir: String): DataFrame =
    Mappers.mapPhenotypeTable(phenotypeSheet(t(s, dir, "documents"))).records
      .orderBy(col("phenotype_patient_ID"), col("HPO_ID"),
        col("date_of_observation"), col("status"))

  private def p6Bundles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val g = Mappers.mapGenotypeTable(genotypeSheet(t(s, dir, "part")))
    val p = Mappers.mapPhenotypeTable(phenotypeSheet(t(s, dir, "documents")))
    val bundles = Assemble.groupByPatient(g.records, p.records,
      s.emptyDataset[DiseaseRecord].toDF(),
      s.emptyDataset[MeasurementRecord].toDF(),
      s.emptyDataset[BiosampleRecord].toDF())
    bundles.select(col("patient_id"),
      size(col("genotype_records")).cast("long").as("n_genotypes"),
      size(col("phenotype_records")).cast("long").as("n_phenotypes"))
      .orderBy(col("patient_id"))
  }

  private def p6Issues(s: SparkSession, dir: String): DataFrame = {
    val g = Mappers.mapGenotypeTable(genotypeSheet(t(s, dir, "part")))
    val p = Mappers.mapPhenotypeTable(phenotypeSheet(t(s, dir, "documents")))
    g.issues.unionByName(p.issues)
      .groupBy(col("sheet"), col("step"), col("level"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("sheet"), col("step"), col("level"))
  }

  private def p6ScalarFns(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val z = (d % 43000).cast("string")
    val timeCell = when(d % 5 === 0, lit(null).cast("string"))
      .when(d % 5 === 1, col("n_chars").cast("string"))
      .when(d % 5 === 2, concat(lit("T"), (d % 100).cast("string")))
      .when(d % 5 === 3, concat(lit("  visit "), (d % 10).cast("string"), lit(" ")))
      .otherwise(((d % 1000).cast("double") + 0.5).cast("string"))
    val boolCell = element_at(typedLit(Seq("1", "true", "T", "no", "", "yes",
      "Phased", "0", "f", "y", "maybe", "n")), (d % 12 + 1).cast("int"))
    val hpoCell = when(d % 6 === 0, concat(lit("HP:"), z))
      .when(d % 6 === 1, z)
      .when(d % 6 === 2, concat(lit("Myopia (HP:"), z, lit(")")))
      .when(d % 6 === 3, concat(lit("hp"), z))
      .when(d % 6 === 4, lit("???"))
      .otherwise(concat(lit(" "), z, lit(" ")))
    t(s, dir, "documents").select(
      d.as("doc_id"),
      normalizeTimeLike(timeCell).as("time_norm"),
      toBoolLike(boolCell).as("bool_norm"),
      hpoCellToCurie(hpoCell).as("curie"),
      hpoLabel(hpoCell).as("label"))
      .orderBy(d)
  }

  private def p6ChromEmailHgvs(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val c = (k % 22 + 1).cast("string")
    val chromCell = when(k % 4 === 0, c)
      .when(k % 4 === 1, concat(lit("chr"), c))
      .when(k % 4 === 2, concat(lit("CHR"), c))
      .otherwise(lit(" X "))
    val emailCell = when(k % 4 === 0, lit(null).cast("string"))
      .when(k % 4 === 1, concat(lit(" u"), k.cast("string"), lit("@ex.com ")))
      .when(k % 4 === 2, lit("nan"))
      .otherwise(lit("bad@@x"))
    val hgvsCell = when(k % 5 === 0, concat(lit("chr7:g."), (k + 1).cast("string"), lit("A>G")))
      .when(k % 5 === 1, concat(lit("7:g."), (k + 1).cast("string"), lit("a>g")))
      .when(k % 5 === 2, concat(lit("chrX:g."), (k + 1).cast("string"), lit("AC>GT")))
      .when(k % 5 === 3, lit("oops"))
      .otherwise(lit("chr_something"))
    val email = emailOrDefault(emailCell)
    t(s, dir, "part").select(
      k.as("p_partkey"),
      normalizeChromosome(chromCell).as("chrom"),
      email.as("email"),
      validEmail(email).as("email_ok"),
      normalizeGExpression(hgvsCell).as("gnorm"))
      .orderBy(k)
  }

  private def p6Headers(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(lit("  "), col("p_type"), lit(" ("), col("p_brand"), lit("): ID"))
    t(s, dir, "part")
      .select(col("p_partkey"), normalizeHeader(raw).as("header"))
      .orderBy(col("p_partkey"))
  }

  /** J4's transitive-closure machinery at corpus scale: a binary-tree
    * is_a hierarchy over part keys (k -> k/2), closed to fixpoint, then
    * histogrammed by ancestor count (= tree depth).
    */
  private def p6Closure(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val edges = t(s, dir, "part").filter(k >= 2)
      .select(k.as("child"), (k / 2).cast("long").as("parent"))
    Ontology.transitiveClosure(edges)
      .groupBy(col("descendant")).agg(count(lit(1)).as("n_ancestors"))
      .groupBy(col("n_ancestors")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_ancestors"))
  }

  /** Disease sheet from `orders` — passthrough mapper with a nullable
    * label (ref: src/P6/mapper.py:643-677).
    */
  def diseaseSheet(orders: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    orders.select(
      concat(lit("P"), (k % 211).cast("string")).as("patient_ID"),
      concat(lit("OMIM:"), (k % 5000 + 100000).cast("string")).as("disease_term"),
      when(k % 4 === 0, lit("")).otherwise(concat(lit("Cond "), (k % 5000).cast("string")))
        .as("disease_label"),
      (k % 80).cast("string").as("disease_onset"),
      when(k % 3 === 0, "1").otherwise("no").as("disease_status"))
  }

  /** Measurement sheet from `events` — e%13==0 rows carry an
    * unparseable value (F14 error path).
    */
  def measurementSheet(events: DataFrame): DataFrame = {
    val e = col("event_id")
    events.select(
      concat(lit("P"), (col("user_id") % 97).cast("string")).as("patient_ID"),
      col("event_type").as("measurement_type"),
      when(e % 13 === 0, lit("abc")).otherwise(col("value").cast("string"))
        .as("measurement_value"),
      lit("mg").as("measurement_unit"),
      when(e % 5 === 0, lit(null).cast("string"))
        .otherwise((e % 365).cast("string")).as("measurement_timestamp"))
  }

  def biosampleSheet(supplier: DataFrame): DataFrame = {
    val k = col("s_suppkey")
    supplier.select(
      concat(lit("P"), (k % 211).cast("string")).as("patient_ID"),
      concat(lit("B"), k.cast("string")).as("biosample_id"),
      element_at(typedLit(Seq("blood", "saliva", "tissue")), (k % 3 + 1).cast("int"))
        .as("biosample_type"),
      (k % 50).cast("string").as("collection_date"))
  }

  private def p6Disease(s: SparkSession, dir: String): DataFrame =
    Mappers.mapDiseaseTable(diseaseSheet(t(s, dir, "orders"))).records
      .orderBy(col("patient_ID"), col("disease_term"), col("disease_onset"),
        col("disease_status"))

  private def p6Measurement(s: SparkSession, dir: String): DataFrame =
    Mappers.mapMeasurementTable(measurementSheet(t(s, dir, "events"))).records
      .orderBy(col("patient_ID"), col("measurement_type"), col("measurement_value"),
        col("measurement_timestamp").asc_nulls_last)

  private def p6Biosample(s: SparkSession, dir: String): DataFrame =
    Mappers.mapBiosampleTable(biosampleSheet(t(s, dir, "supplier"))).records
      .orderBy(col("biosample_id"))

  /** A2 packet JSON, byte-gated: the full five-sheet pipeline through
    * [[Assemble.phenopackets]], with each bundle's record arrays
    * content-sorted first so the serialized bytes are independent of
    * scan partitioning — the oracle rebuilds the exact JSON string per
    * patient by concatenation (ref: src/P6/mapper.py:793-910).
    * The packet renders only strings and booleans, so DuckDB can
    * reproduce it byte-for-byte with no float-formatting hazards.
    */
  private def p6PhenopacketJson(s: SparkSession, dir: String): DataFrame = {
    // r20 NOTE (tried, measured SLOWER, reverted): the StageProbe put
    // 1.4 s of warm task time (276k records through the mapper chains)
    // in FIVE tasks on a 32-core box, so Par.spread on the five sheet
    // scans was tried (safe here — canonical content-sorted bundles,
    // no arrival-order id for a repartition to disturb; oracle passed
    // at sf0.001 + sf0.01). The interleaved kill-switch A/B refuted
    // it: spread-on 2.812/2.822/3.019 vs off 2.487/2.270/2.114 s solo
    // (all probes clean) — five exchanges of wide raw sheet rows cost
    // more than the mapper parallelism saves, the same verdict the
    // r19 matrix gave the light-kernel token paths. At multi-split
    // production scale the condition is false anyway.
    val g = Mappers.mapGenotypeTable(genotypeSheet(t(s, dir, "part")))
    val p = Mappers.mapPhenotypeTable(phenotypeSheet(t(s, dir, "documents")))
    val d = Mappers.mapDiseaseTable(diseaseSheet(t(s, dir, "orders")))
    val m = Mappers.mapMeasurementTable(measurementSheet(t(s, dir, "events")))
    val b = Mappers.mapBiosampleTable(biosampleSheet(t(s, dir, "supplier")))
    // PRUNE each record table to the fields the packet RENDERS plus the
    // leading canonical-sort key before the bundle shuffle: the packet
    // fragment is a pure function of the kept fields, so records tying
    // on them render byte-identically and any tie order is fine — while
    // records differing on them keep the oracle's exact order because
    // the kept columns preserve the full-struct sort's deciding
    // prefix (genotype: contact_email is unique per source row, and the
    // zip-explode twins tie through hgvsg before zygosity decides —
    // same ORDER BY email, zyg the oracle uses). This narrows the
    // collect_list shuffle payload AND the Janino packet projection's
    // input from 14-field genotype structs to 4 (r11's probe attributed
    // the sf10 entry's dominant +31 s to that projection).
    val canon = Assemble.groupByPatient(
      g.records.select("genotype_patient_ID", "contact_email", "hgvsg",
        "zygosity", "gene_symbol"),
      p.records,
      d.records.select("patient_ID", "disease_term", "disease_label"),
      m.records.select("patient_ID", "measurement_type"),
      b.records.select("patient_ID", "biosample_id", "biosample_type"),
      canonical = true)
    // Sort the BUNDLES, then project: a global orderBy runs a range-
    // partitioning sampling job that re-executes everything above the
    // last exchange — with the sort placed after the packet projection
    // that doubled the whole projection (measured 111.6 s vs 51.0 s
    // unsorted at 100x, BASELINE.md round 11). Sorting the bundle
    // frame instead samples above the bundle agg's own exchange
    // (reused, cheap) and the deterministic projection preserves the
    // ordering, so rows come out identically ordered with the
    // projection executed ONCE. The projection itself is the round-13
    // non-HOF kernel: gnorm/genocode are codegen'd per-ROW pre-shuffle
    // (groupByPatient), and the whole packet renders in one native
    // phenopacket_json pass — replacing the CodegenFallback-interpreted
    // to_json + 5 HOF transforms that were the registry's largest sf10
    // CPU term (BASELINE.md round 12).
    Assemble.phenopackets(canon.orderBy(col("patient_id")))
  }

  /** Synthetic ontology over the part keys: term HP:%07d per key,
    * every 31st obsolete, is_a edges k -> k/2 (binary tree).
    */
  private def partOntologyTerms(part: DataFrame): DataFrame = {
    val k = col("p_partkey")
    part.select(
      concat(lit("HP:"), lpad(k.cast("string"), 7, "0")).as("term_id"),
      concat(lit("Term "), k.cast("string")).as("name"),
      (k % 31 === 0).as("is_obsolete"),
      array(concat(lit("HP:"), lpad((k + 1).cast("string"), 7, "0"))).as("alt_ids"))
  }

  private def partOntologyEdges(part: DataFrame): DataFrame = {
    val k = col("p_partkey")
    part.filter(k >= 2).select(
      concat(lit("HP:"), lpad(k.cast("string"), 7, "0")).as("child"),
      concat(lit("HP:"), lpad((k / 2).cast("long").cast("string"), 7, "0")).as("parent"))
  }

  /** Phenotype records (with the raw cell label where present) aimed at
    * the part-derived ontology, for J1-J4.
    */
  private def ontologyPhenotypes(docs: DataFrame): DataFrame = {
    val d = col("doc_id")
    docs.filter(!(d % 7).isin(3, 4)).select(
      concat(lit("P"), (d % 223).cast("string")).as("phenotype_patient_ID"),
      concat(lit("HP:"), lpad((d % 43000).cast("string"), 7, "0")).as("HPO_ID"),
      lit("T1").as("date_of_observation"),
      lit(true).as("status"),
      when(d % 7 === 2, "Myopia").otherwise("").as("__label"))
  }

  /** J1-J3: existence / obsolete / label-match warnings from one
    * broadcast join against the ontology dimension.
    */
  private def p6TermChecks(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val ont = Ontology(partOntologyTerms(part), partOntologyEdges(part),
      partOntologyEdges(part).limit(0)
        .select(col("child").as("descendant"), col("parent").as("ancestor")))
    val issues = Ontology.termChecks(ont, ontologyPhenotypes(t(s, dir, "documents")))
    issues.filter(col("message").contains("not found"))
      .agg(count(lit(1)).as("n_not_found"))
      .crossJoin(issues.filter(col("message").contains("is obsolete"))
        .agg(count(lit(1)).as("n_obsolete")))
      .crossJoin(issues.filter(col("message").contains("does not match"))
        .agg(count(lit(1)).as("n_label_mismatch")))
  }

  /** J4: phenotypic-abnormality subtree + annotation-propagation checks
    * against the transitive closure of the part-tree ontology. Root =
    * HP:0000118 (= part key 118).
    */
  private def p6BatchValidate(s: SparkSession, dir: String): DataFrame = {
    val part = t(s, dir, "part")
    val edges = partOntologyEdges(part)
    val ont = Ontology(partOntologyTerms(part), edges, Ontology.transitiveClosure(edges))
    val issues = Ontology.batchValidate(ont, ontologyPhenotypes(t(s, dir, "documents")))
    issues.filter(col("message").contains("not a descendant"))
      .agg(count(lit(1)).as("n_not_abnormality"))
      .crossJoin(issues.filter(col("message").contains("is an ancestor"))
        .agg(count(lit(1)).as("n_propagation")))
  }

  /** Sessionization (30-min inactivity gap) — the batch shape of the
    * flatMapGroupsWithState streaming sessionizer.
    */
  private def q12Sessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev")) > 1800000L, 1L)
          .otherwise(0L))
      .groupBy((col("user_id") % 50).as("bucket"))
      .agg(sum(col("is_new")).as("n_sessions"))
      .orderBy(col("bucket"))
  }

  /** Gap-based sessions via the built-in session_window operator — the
    * exact plan the streaming sessionizer runs (EventStreams).
    */
  private def q13SessionStats(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.sessionWindows(t(s, dir, "events"))
      .groupBy((col("user_id") % 50).as("bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("n_events")).as("max_session_events"))
      .orderBy(col("bucket"))

  /** Explicit two-stage salted aggregation — the skew shape for hot
    * keys AQE cannot split (aggregation keys). Exact for sums/counts,
    * so the oracle is the plain GROUP BY.
    */
  private def q14SaltedAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skew
    Skew.saltedSum(t(s, dir, "lineitem"), col("l_returnflag"), col("l_quantity"),
        salts = 16, keyName = "l_returnflag", sumName = "sum_qty")
      .select(col("l_returnflag"), round(col("sum_qty"), 2).as("sum_qty"),
        col("sum_qty_count").as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** Hot-key-only salted join (the skew shape AQE can't always
    * split): a Misra-Gries pass flags heavy l_orderkeys, ONLY those
    * rows salt (and only the matching orders replicate, |hot|×salts
    * rows instead of |orders|×salts — the full-replication plan cost
    * 22× wall at sf10 from dim-replication spill); the uniform tail
    * takes the plain join. Exact equi-join semantics, so the oracle
    * is the plain join.
    */
  private def q44SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skew
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
    Skew.hotKeySaltedJoin(li, o, "l_orderkey", "o_orderkey", salts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("o_orderpriority"))
  }

  /** As-of join: attach each click's most recent prior (or same-time)
    * purchase per user. Oracle is DuckDB's native ASOF LEFT JOIN.
    */
  private def q15AsofJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOfJoin
    val ev = t(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    AsOfJoin.asof(clicks, purchases, "user_id", "ts", "ts",
        Map("value" -> "purchase_value"))
      .groupBy((col("user_id") % 50).as("bucket"))
      .agg(count(lit(1)).as("n_clicks"),
        count(col("purchase_value")).as("n_with_prior_purchase"),
        round(coalesce(sum(col("purchase_value")), lit(0.0)), 2).as("sum_attached"))
      .orderBy(col("bucket"))
  }

  /** Custom physical operator: top-3 orders per market segment via the
    * TopKPerKey exec (bounded per-key heaps — no partition sort). The
    * oracle is the row_number window formulation.
    */
  private def q16TopKPerKey(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.TopKPerKeyApi
    val joined = t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
    TopKPerKeyApi.topKPerKey(joined,
        keyNames = Seq("c_mktsegment"),
        order = Seq("o_totalprice" -> false, "o_orderkey" -> true),
        k = 3)
      .orderBy(col("c_mktsegment"), col("o_totalprice").desc, col("o_orderkey"))
  }

  /** Range join: events matched to synthetic promo windows (epoch-ms
    * integer intervals derived from part keys) via the bin-bucketed
    * equi-join — never a nested-loop non-equi plan.
    */
  private def q17RangeJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeJoin
    val base = 1704067200000L // 2024-01-01 UTC
    val day = 86400000L
    val k = col("p_partkey")
    val promos = t(s, dir, "part").select(k.as("promo_key"),
      (lit(base) + (k % 29) * day).as("start_ms"),
      (lit(base) + (k % 29) * day + (k % 3 + 1) * day).as("end_ms"))
    val points = t(s, dir, "events")
      .select(unix_millis(col("ts")).as("t_ms"), col("value"))
    RangeJoin.pointInInterval(points, "t_ms", promos, "start_ms", "end_ms", day)
      .groupBy((col("promo_key") % 50).as("bucket"))
      .agg(count(lit(1)).as("n_matches"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("bucket"))
  }

  /** Same semantics as q17, via aggregate pushdown: the promo windows
    * are day-aligned, so events pre-aggregate to per-day partials and
    * the join touches |days| rows instead of ~20M matched pairs —
    * the bin-aligned range-join lever at its purest.
    */
  private def q52RangeAggPushdown(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RangeJoin
    val base = 1704067200000L
    val day = 86400000L
    val k = col("p_partkey")
    val promos = t(s, dir, "part").select(k.as("promo_key"),
      (lit(base) + (k % 29) * day).as("start_ms"),
      (lit(base) + (k % 29) * day + (k % 3 + 1) * day).as("end_ms"))
    val points = t(s, dir, "events")
      .select(unix_millis(col("ts")).as("t_ms"), col("value"))
    RangeJoin.pointPartialsPerInterval(points, "t_ms", "value",
        promos, "start_ms", "end_ms", day)
      .groupBy((col("promo_key") % 50).as("bucket"))
      .agg(sum(col("__cnt")).cast("long").as("n_matches"),
        round(sum(col("__sum")), 2).as("sum_value"))
      .orderBy(col("bucket"))
  }

  /** CCNet-style cross-document chunk dedup funnel: per doc bucket,
    * how many 10-token chunks exist and how many survive
    * first-occurrence dedup (oracle: the same keep-first rule as a
    * row_number() over each chunk fingerprint in DuckDB).
    */
  private def chunkDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    Curation.chunkKeepFirst(
        Curation.chunkInstances(t(s, dir, "documents"), "doc_id", "text", 10))
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("dup_ratio",
        round(lit(1.0) - col("n_kept") / col("n_chunks"), 4))
      .orderBy(col("bucket"))
  }

  /** Content-defined-chunking dedup ([[graft.operators.Curation
    * .cdcChunkInstances]] + the same first-occurrence-wins pass as
    * `chunk_dedup`): variable-size chunks whose boundaries come from
    * the content itself, so insert/delete edits shift nothing
    * downstream of the edit — the dedup signal fixed-width chunking
    * structurally misses. Adds chunk-size accounting (sum/max) since
    * CDC sizes are data-dependent.
    */
  private def cdcChunkDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    Curation.chunkKeepFirst(
        Curation.cdcChunkInstances(t(s, dir, "documents"), "doc_id", "text"))
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("chunk_tokens").cast("long")).as("sum_chunk_tokens"),
        max(col("chunk_tokens")).cast("long").as("max_chunk_tokens"))
      .withColumn("dup_ratio",
        round(lit(1.0) - col("n_kept") / col("n_chunks"), 4))
      .orderBy(col("bucket"))
  }

  /** Deterministic global corpus shuffle: every doc gets a stable
    * 1-based position from a seeded hash total order — the
    * "shuffle once, train reproducibly" primitive. GlobalRank's
    * range-partitioned sort, NOT a partition-less window.
    */
  private def globalShuffle(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GlobalRank
    val docs = t(s, dir, "documents").select(col("doc_id"),
      md5(concat(col("doc_id").cast("string"), lit(":42"))).as("__k"))
    GlobalRank.withGlobalIndex(docs, Seq(col("__k"), col("doc_id")), "__gidx")
      .select(col("doc_id"), (col("__gidx") + 1).as("pos"))
      .orderBy(col("doc_id"))
  }

  /** Exact-proportion domain mixture: 200 per-mille of the corpus,
    * split across languages by policy weights, each domain's share
    * being its lowest-hash docs (reproducible, exact counts). The
    * histogram-pruned plan never sorts a whole domain through one
    * task; the oracle is the naive per-domain row_number() rank, which
    * proves the pruning exact.
    */
  private def mixtureSample(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    Curation.mixtureSample(t(s, dir, "documents"), "lang",
        md5(concat(col("doc_id").cast("string"), lit(":42"))), col("doc_id"),
        weightsPerMille = Map("en" -> 500L, "de" -> 200L, "fr" -> 150L,
          "es" -> 100L, "zh" -> 50L),
        budgetPerMille = 200L)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-rebalanced mixture over the documents corpus (T=2):
    * per-language quotas derived from the observed counts as
    * weight ~ sqrt(count) — upsample the tail languages, downsample
    * the head — then the same histogram-pruned exact selection as
    * `mixture_sample`. The whole weight derivation is integer
    * arithmetic (floor(sqrt(n*10^6)) basis + largest-remainder
    * per-mille), so the DuckDB oracle recomputes the policy AND the
    * selection bit-for-bit.
    */
  private def temperatureMixtureQuery(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.temperatureMixture(t(s, dir, "documents"), "lang",
        md5(concat(col("doc_id").cast("string"), lit(":42"))), col("doc_id"),
        budgetPerMille = 200L)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Same policy at the NON-DEFAULT temperature T = 1.5 (= 3/2, so
    * 1/T = 2/3 and the weight basis is the exact integer CUBE root of
    * n^2 * 10^9 — the most general rational-exponent path: p > 1 AND
    * q > 2). The DuckDB oracle recomputes the cube root as float
    * cbrt plus a +-2 exact-integer correction window over HUGEINT
    * cubes, so the policy AND the selection stay engine-recomputable
    * at a temperature the historical sqrt form cannot express.
    */
  private def temperatureMixtureT32Query(s: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.temperatureMixture(t(s, dir, "documents"), "lang",
        md5(concat(col("doc_id").cast("string"), lit(":42"))), col("doc_id"),
        budgetPerMille = 200L, tNumer = 3, tDenom = 2)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** SemDeDup over the embedding corpus. ORACLE-BACKED since round 10
    * via the same contract pattern as the approximate-ANN entries: the
    * k-means cluster assignment has no SQL equivalent, so the entry
    * emits what DuckDB CAN recompute closed-form — the exact GLOBAL
    * near-dup stats (brute-force all-pairs cosine; the corpus is the
    * in-plan verification scaffold, same as [[exactTop10]]) — plus two
    * contract booleans asserted TRUE:
    *  - `drops_valid_ok` (precision = 1.0): every dropped (kept, id)
    *    pair re-verifies against the exact global pair set at the
    *    threshold — SemDeDup never drops a non-duplicate;
    *  - `recall_ok`: drops cover >= 10% of the exact global dup set
    *    (intra-cluster-only candidates trade recall for the per-cluster
    *    cost bound; observed 28-64% across SFs at nlist=8, BASELINE.md
    *    round-10 record, so the floor carries >= 2.8x margin).
    * Threshold 0.45 because it genuinely binds on this corpus (the
    * round-8 0.85 entry returned all zeros at every SF — max global
    * cosine is 0.60 at sf0.1); SimilaritySpec keeps the tight semantic
    * pins on planted duplicates.
    */
  private def semDedupQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val thr = 0.45
    val emb = t(s, dir, "embeddings")
    // SemDeDup operating point: ~sqrt(N) clusters of ~sqrt(N) members
    // (verify cost ~N^1.5, distributed per-cluster). A FIXED nlist
    // degrades at scale — at 20k vectors nlist=8 makes ~2.5k-member
    // clusters that blow the pair cap, and cappedPairs star-degrades,
    // silently missing the planted dups (caught by the round-11
    // sf1_invariant semdedup gate). maxCluster scales with the
    // intended cluster size (8x slack for k-means imbalance) so the
    // star defense only fires on genuinely degenerate clusters.
    val nVec = emb.count()
    val rootN = math.max(8, math.ceil(math.sqrt(nVec.toDouble)).toInt)
    // localCheckpoint: the drops frame (≤ |dups| rows) feeds BOTH the
    // validity recompute and the planted-recall join below — without
    // the pin each consumer re-runs the k-means clustering upstream.
    val drops = Similarity.semDedup(emb,
      "vec_id", "embedding", nlist = rootN, refineIters = 2, threshold = thr,
      maxCluster = math.max(graft.operators.Dedup.DefaultMaxBucket, 8 * rootN))
      .localCheckpoint()
    // spread=false (r20): prep now feeds only the dropStats verify
    // joins below — a broadcast of the small drops frame against the
    // scan, light per-row work — where the r19 A/B matrix showed an
    // input-spread exchange costs more than it saves (spread-site
    // rule; the heavy quadratic pass moved into the blocked
    // formulation below, which spreads its own input).
    val prep = Similarity.prepared(t(s, dir, "embeddings"), "vec_id",
      "embedding", spread = false)
    // r20 (VERDICT #5): the global-stats reference pass was a
    // self-theta-join (x.id < y.id) — a BroadcastNestedLoopJoin whose
    // STREAM side carried the full N^2/2 dot products; r19
    // parallelized it (Par.spread) but did not shrink it. Replaced
    // with Similarity.exactCosinePairs: the SAME declared pair set —
    // the oracle SQL itself filters zero-norm vectors and computes
    // round(dot/(sqrt*sqrt), 4) >= thr, exactly this operator's
    // contract — via the lossless int8 filter-and-refine over a
    // triangle block-pair EQUI-join: bounded ~4M-candidate tasks, no
    // BNLJ, full double vectors touched only for prescreen survivors
    // (guide §3.2 filter-and-refine, §2.5 bounded per-task work).
    // Blocks from the already-counted nVec, so no extra count job.
    val globalPairs = Similarity.exactCosinePairs(emb, "vec_id", "embedding",
      threshold = thr, blocks = Similarity.autoBlocks(nVec))
    val globalStats = globalPairs.agg(
      count(lit(1)).as("n_global_pairs"),
      countDistinct(col("b")).as("n_global_dups"),
      round(coalesce(max(col("cos")), lit(0.0)), 4).as("max_global_cos"))
    // validity re-verifies each dropped (kept, id) pair by DIRECT
    // cosine recompute against the prepared vectors ((kept, id) is in
    // the global pair set iff round(cos(kept, id), 4) >= thr, since
    // kept < id always) — joining the drops back into `globalPairs`
    // would stream the whole all-pairs subtree a second time (measured
    // ~2x the entry at sf0.1, BASELINE.md round-10 record)
    val dropStats = drops
      .join(prep.select(col("id").as("kept"), col("v").as("kv")), Seq("kept"))
      .join(prep.select(col("id"), col("v").as("dv")), Seq("id"))
      .agg(count(lit(1)).as("__n_dropped"),
        coalesce(sum(when(
            round(Similarity.cosine(col("kv"), col("dv")), 4) >= thr,
            1L).otherwise(0L)), lit(0L))
          .as("__n_verified"))
    // Planted semantic dups (ScaleUp replicas > 0 plant (a, a+1) pairs
    // with local a % 50 == 0 at cosine ≈ 0.989, intra-cluster by
    // construction): recall over exactly this enumerable set is the
    // scale-meaningful recall — the global ≥10% floor drowns in dim-64
    // noise pairs at 10×+ (BASELINE.md round 10). Zero planted pairs
    // at driver SFs ⇒ vacuous-true on both engine and oracle;
    // tools/sf1_invariant.py asserts n_planted_pairs > 0 AND
    // planted_recall_ok at scale, so the floor binds at every SF.
    val stride = 1000000000L
    val embIds = t(s, dir, "embeddings").select(col("vec_id"))
    val plantedA = embIds.select(col("vec_id").as("a"))
      .filter(col("a") >= stride && pmod(pmod(col("a"), lit(stride)), lit(50)) === 0)
    val planted = plantedA.join(embIds.select(col("vec_id").as("b")),
      col("b") === col("a") + lit(1L))
    val dropped = drops.select(col("id")).distinct()
    val plantedStats = planted
      .join(dropped.select(col("id").as("a"), lit(1).as("__ca")), Seq("a"), "left")
      .join(dropped.select(col("id").as("b"), lit(1).as("__cb")), Seq("b"), "left")
      .agg(count(lit(1)).as("__n_planted"),
        coalesce(sum(when(col("__ca").isNotNull || col("__cb").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("__n_caught"))
    globalStats.crossJoin(broadcast(dropStats))
      .crossJoin(broadcast(plantedStats))
      .select(col("n_global_pairs"), col("n_global_dups"), col("max_global_cos"),
        (col("__n_verified") === col("__n_dropped")).as("drops_valid_ok"),
        (col("__n_dropped") * 10 >= col("n_global_dups")).as("recall_ok"),
        col("__n_planted").as("n_planted_pairs"),
        (col("__n_planted") === 0 ||
          col("__n_caught") * 10L >= col("__n_planted") * 7L).as("planted_recall_ok"))
  }

  /** Rollup (hierarchical super-aggregates). */
  private def q18Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Pivot (columns from values) with an explicit value list. */
  private def q19Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 2))
      .orderBy(col("l_returnflag"))

  // ================================================================
  // Expansion surface (SURVEY.md §7.4): dedup / text / similarity
  // ================================================================

  private def normText = TextOps.normText(col("text"))

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("text")).as("n_uniq_text"),
      countDistinct(md5(col("text"))).as("n_uniq_hash"))

  private def dedupFingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(normText)).as("n_fingerprints"))

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  private def textQuality(s: SparkSession, dir: String): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val nTok = size(toks).cast("double")
    val nStop = size(filter(toks, tk => tk.isin(stopwords: _*))).cast("double")
    t(s, dir, "documents")
      .select(col("lang"), col("text"), nTok.as("n_tok"), (nStop / nTok).as("stop_ratio"),
        length(col("text")).cast("double").as("len"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_tok")), 4).as("avg_tokens"),
        round(avg(col("stop_ratio")), 4).as("avg_stop_ratio"),
        round(avg(col("len")), 4).as("avg_chars"))
      .orderBy(col("lang"))
  }

  /** Model-based quality filtering — the classifier-scoring stage of
    * the modern pretraining funnel (fineweb-edu / DCLM style: score
    * every document with a cheap linear model, keep above threshold).
    * The model here is a HASHED linear model with weights derived
    * from the token hash itself (feature-hashing trick taken to its
    * closed form), so both engines recompute it exactly: per token,
    * w = (md5_lower64(tk) >>> 3) & 4095 — bit ops only, identical on
    * a signed long and DuckDB's UBIGINT — per doc the token-mean is
    * squashed by the rational sigmoid z/(1+|z|) (no transcendentals:
    * bit-identical across libm implementations). The scan is
    * MAP-ONLY per doc + one lang-grouped aggregate; at 100 TB scoring
    * fuses into whatever projection already reads the text.
    */
  private def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExpressions
    val toks = split(trim(lower(col("text"))), "\\s+")
    val ws = transform(toks, tk =>
      shiftrightunsigned(VectorExpressions.md5_lower64(tk), 3)
        .bitwiseAND(lit(4095L)).cast("double"))
    val meanW = aggregate(ws, lit(0.0), (acc, x) => acc + x) /
      size(toks).cast("double")
    val z = (meanW / lit(2048.0) - lit(1.0)) * lit(6.0)
    // z feeds the sigmoid TWICE (numerator and abs); materialize it in
    // its own projection so the token-hash aggregate runs once per doc
    // (a multi-use non-cheap alias survives CollapseProject)
    val score = round(lit(0.5) + lit(0.5) * col("z") / (lit(1.0) + abs(col("z"))), 4)
    t(s, dir, "documents")
      .select(col("lang"), z.as("z"))
      .select(col("lang"), score.as("score"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") >= 0.5, 1L).otherwise(0L)).as("n_kept"),
        round(avg(col("score")), 4).as("avg_score"))
      .orderBy(col("lang"))
  }

  private def tokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select((col("doc_id") % 10).as("bucket"),
        regexp_count(col("text"), lit("[a-z]+")).as("alpha_runs"),
        regexp_count(col("text"), lit("[0-9]+")).as("digit_runs"),
        length(regexp_replace(col("text"), "[a-z0-9\\s]", "")).as("other_chars"))
      .groupBy(col("bucket"))
      .agg(sum(col("alpha_runs")).as("n_alpha_runs"),
        sum(col("digit_runs")).as("n_digit_runs"),
        sum(col("other_chars")).as("n_other_chars"))
      .orderBy(col("bucket"))

  /** N-gram-free language ID heuristic: marker-word hit counts with a
    * fixed priority tie-break (en > fr > de > es). The corpus text is
    * synthetic, so this exercises the operator, not real linguistics.
    */
  private def langId(s: SparkSession, dir: String): DataFrame = {
    // explode -> conditional sums (codegen) rather than interpreted
    // list_filter lambdas per marker set
    val markers = Seq(
      "en" -> Seq("the", "a", "and", "of", "to"),
      "fr" -> Seq("le", "la", "les", "et", "des"),
      "de" -> Seq("der", "die", "und", "das", "ein"),
      "es" -> Seq("el", "los", "las", "y", "una"))
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(Dedup.tokens(col("text"))).as("tk"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(when(col("tk").isin(markers.head._2: _*), 1).otherwise(0)).as("s_en"),
        markers.tail.map { case (l, ws) =>
          sum(when(col("tk").isin(ws: _*), 1).otherwise(0)).as(s"s_$l")
        }: _*)
    val predicted =
      when(col("s_en") >= col("s_fr") && col("s_en") >= col("s_de") &&
        col("s_en") >= col("s_es"), "en")
      .when(col("s_fr") >= col("s_de") && col("s_fr") >= col("s_es"), "fr")
      .when(col("s_de") >= col("s_es"), "de")
      .otherwise("es")
    scored.select(col("lang"), predicted.as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Brute-force cosine top-k against the vec_id=0 query vector —
    * the exact baseline for ANN. The query side is a 1-row broadcast;
    * the scan side stays fully parallel (no shuffle, no collect).
    */
  private def annCosineTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(Similarity.cosine(col("v"), col("qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(50)
  }

  /** Batch EXACT top-k: the 20 lowest-id vectors as a query SET in one
    * plan — broadcast query vectors, one corpus pass, qid-partitioned
    * window top-k. Oracle-backed (exact cosine); the LSH batch twin is
    * `ann_lsh_batch_topk`.
    */
  private def annBatchTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val e = t(s, dir, "embeddings")
    val qids = e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"))
    Similarity.bruteTopKBatch(e, "vec_id", "embedding", qids, k = 10)
      .withColumnRenamed("id", "vec_id")
  }

  /** Batch IVF ANN over the same query set. ORACLE-BACKED since round
    * 9 via the [[annRecallBatchSummary]] contract: per-qid exact-side
    * stats DuckDB recomputes, per-query recall floor >= 0.4 (observed
    * min 0.5 across SFs — k-means centroids trade per-query variance
    * for mean recall) and MEAN recall@10 >= 0.8 (observed 0.865-0.925)
    * asserted TRUE. SimilaritySpec keeps nprobe=nlist == exact-batch
    * equality and the single-query agreement pins.
    */
  private def annIvfBatchTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val e = t(s, dir, "embeddings")
    val qids = e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"))
    val ann = Similarity.ivfTopKBatch(e, "vec_id", "embedding", qids,
      k = 10, nlist = 32, nprobe = 8, refineIters = 2)
    annRecallBatchSummary(
      Similarity.bruteTopKBatch(e, "vec_id", "embedding", qids, k = 10),
      ann, k = 10, minHitsPerQuery = 4, minMeanRecall = 0.8)
  }

  /** Batch multi-probe LSH ANN over the same query set (16 tables,
    * because a batch answers for every query's angle at once where the
    * single-query entry only needs its own). ORACLE-BACKED since
    * round 9 via the [[annRecallBatchSummary]] contract: per-qid
    * exact-side stats DuckDB recomputes, per-query recall floor >= 0.6
    * (observed min 0.7 across SFs) and MEAN recall@10 >= 0.9 (the
    * SimilaritySpec pin; observed 0.96-0.995) asserted TRUE.
    */
  private def annLshBatchTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val e = t(s, dir, "embeddings")
    val qids = e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"))
    val ann = Similarity.annTopKBatch(e, "vec_id", "embedding", qids,
      k = 10, bits = 6, tables = 16)
    annRecallBatchSummary(
      Similarity.bruteTopKBatch(e, "vec_id", "embedding", qids, k = 10),
      ann, k = 10, minHitsPerQuery = 6, minMeanRecall = 0.9)
  }

  /** Semi-structured columns: parse the JSON props payload and
    * aggregate an extracted field (from_json with an explicit schema —
    * the shredding shape; schema-on-read stays at the edge).
    */
  private def q24JsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        from_json(col("props"), lit("k INT")).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k").cast("long")).as("sum_k"),
        round(avg(col("k")), 4).as("avg_k"))
      .orderBy(col("event_type"))

  /** Cube: all grouping-set combinations. */
  private def q25Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(round(sum(col("o_totalprice")), 2).as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** NTILE quartiles over a global ordering — via the distributed
    * [[graft.operators.GlobalRank]] (range-partitioned sort + offsets),
    * NOT a partition-less Window, which would move every row to a
    * single task.
    */
  private def q26Ntile(s: SparkSession, dir: String): DataFrame = {
    graft.operators.GlobalRank.ntile(
        t(s, dir, "customer"), 4, Seq(col("c_acctbal"), col("c_custkey")), "quartile")
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("c_acctbal")), 2).as("min_bal"),
        round(max(col("c_acctbal")), 2).as("max_bal"))
      .orderBy(col("quartile"))
  }

  /** Datetime extraction battery (year/month/day/hour align across
    * engines; weekday numbering deliberately avoided — Spark and
    * DuckDB disagree on the origin).
    */
  private def q27DatetimeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(year(col("ts")).as("y"), month(col("ts")).as("m"),
        dayofmonth(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"),
        countDistinct(hour(col("ts"))).as("n_active_hours"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("y"), col("m"), col("d"))

  /** Set-valued aggregation rendered as a canonical string (arrays are
    * hash-compare-hostile across engines; a joined sorted list isn't).
    */
  private def q28CollectSet(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(concat_ws(",", sort_array(collect_set(col("o_orderpriority"))))
        .as("priorities"),
        countDistinct(col("o_orderpriority")).as("n_priorities"))
      .orderBy(col("o_orderstatus"))

  /** String-function battery (levenshtein / reverse / lpad / repeat /
    * substring arithmetic) over part names.
    */
  private def q29StringFns(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(col("p_partkey") < 500)
      .select(col("p_partkey"),
        levenshtein(col("p_type"), lit("PROMO")).as("lev_promo"),
        reverse(col("p_brand")).as("rev_brand"),
        lpad(col("p_name"), 12, ".").as("padded"),
        substring(col("p_name"), 2, 5).as("mid"),
        (length(col("p_name")) + length(col("p_type"))).as("total_len"))
      .orderBy(col("p_partkey"))

  /** TF-IDF vocabulary statistics: document frequency and idf for the
    * highest-df terms (explode -> distinct doc-term -> agg).
    */
  private def q20TfidfTerms(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // corpus size for idf as a crossJoin'd 1-row agg: keeps the scalar
    // inside the plan (one job, no driver round-trip), same shape as
    // every other corpus-level scalar in this registry
    val n = docs.agg(count(lit(1)).cast("double").as("__n"))
    docs.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("term"))
      .distinct()
      .groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(n)
      .select(col("term"), col("df"),
        round(log(col("__n") / col("df")), 6).as("idf"))
      .orderBy(col("df").desc, col("term"))
      .limit(25)
  }

  /** Exact interpolated percentiles per group (Spark `percentile` ==
    * DuckDB `quantile_cont`).
    */
  private def q21Percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy(col("event_type"))

  /** Statistical aggregates (corr / covariance / stddev / variance). */
  private def q22StatsAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qp"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_discount")), 6).as("var_disc"))
      .orderBy(col("l_returnflag"))

  /** Deterministic hash split — the stable train/test partitioner a
    * training pipeline needs: membership depends only on the id (md5
    * prefix, lexicographic), never on partitioning, sampling seeds, or
    * engine, so the split is reproducible everywhere.
    */
  private def q23StableSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        TextOps.stableSplit(col("doc_id")).as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("split"))

  /** Brute-force n-gram Jaccard over a bounded prefix of the corpus —
    * the exact baseline the LSH path approximates. Integer bucket math
    * ((10*|∩|) div |∪|) keeps the histogram float-free.
    *
    * Deliberately all-pairs: an inverted-index formulation (explode +
    * self-join on the shingle) was measured SLOWER on this corpus —
    * common shingles ("the ... of ...") appear in every doc, so the
    * index join degenerates to quadratic pair expansion per shingle.
    * Bounded exact baselines brute-force; the corpus-scale near-dup
    * path is MinHash+LSH (minhash_neardup / dedup_corpus).
    *
    * Round-8 A/B (solo, 3 cold runs each at sf0.1): the
    * sorted_shingles kernel (median 1.12 s) and the prior
    * sort_array(shingles(...)) formulation (median 1.21 s) are
    * indistinguishable within run noise — the round-7 "1.38x
    * regression" was batch-measurement noise, not the kernel. The
    * kernel stays: same wall time here, and it keeps the shingle prep
    * map-only/codegen'd for the corpus-scale dedup pipelines.
    */
  private def ngramJaccardHist(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    import graft.functions.VectorExpressions.sorted_intersect_size
    // shingles are distinct; sorting once lets the codegen'd merge
    // kernel compute |∩| per pair with no per-row hash sets, and
    // |∪| = |a|+|b|-|∩|
    val d = t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"),
        graft.functions.VectorExpressions.sorted_shingles(
          Dedup.tokens(col("text")), 3).as("sh"))
    d.as("a").join(d.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(sorted_intersect_size(col("a.sh"), col("b.sh")).cast("long").as("i"),
        (size(col("a.sh")) + size(col("b.sh"))).cast("long").as("ab"))
      .select(expr("(10 * i) div (ab - i)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("bucket"))
  }

  /** MinHash + LSH near-dup detection, VERIFIED pair set: candidates
    * from LSH banding, exact shingle-Jaccard on each candidate, keep
    * pairs at or above the 0.5 threshold. ORACLE-BACKED: the verify
    * stage computes EXACT Jaccard, so DuckDB reproduces the pair set
    * closed-form (inverted-index self-join over shingles — only pairs
    * sharing a shingle can reach J >= 0.5). The LSH stage only needs
    * candidates ⊇ true pairs on this corpus, which DedupSpec pins
    * against Spark-side brute force (every true pair here has
    * J >= 0.9, where 8-band/4-row recall is 1 - (1-J^4)^8 > 0.9998,
    * and planted exact dups collide in every band by construction).
    */
  private def minhashNearDup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = t(s, dir, "documents")
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
    Dedup.jaccardVerify(cands, docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** End-to-end near-dup resolution: detect -> verify -> cluster ->
    * keep one canonical doc per cluster. ORACLE-BACKED: survivors are
    * determined by the exact-Jaccard edge set (threshold 0.5) plus
    * min-id connected components, both of which DuckDB recomputes
    * closed-form (recursive-CTE reachability over the exact pair set);
    * LSH recall on this corpus is pinned by DedupSpec (see
    * [[minhashNearDup]]).
    */
  private def dedupCorpus(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = t(s, dir, "documents")
    val kept = Dedup.dedupDocuments(docs, "doc_id", "text", jaccardThreshold = 0.5)
    docs.agg(count(lit(1)).as("n_in"))
      .crossJoin(kept.agg(count(lit(1)).as("n_out")))
      .select(col("n_in"), col("n_out"), (col("n_in") - col("n_out")).as("n_removed"))
  }

  /** Leakage-safe train/eval split: [[q23StableSplit]]'s hash split
    * decides per DOCUMENT, so two near-duplicates can land on
    * opposite sides — exactly the train/test contamination a
    * pretraining pipeline must prevent. Here the split key is the
    * near-dup COMPONENT representative (min-id over the exact-Jaccard
    * edge set, the same edges/components dedup_corpus resolves), so
    * every member of a duplicate cluster follows its representative
    * and the cross-split verified-pair count is ZERO by construction
    * — emitted as a column the oracle recomputes, so a leaky split
    * hash-mismatches instead of passing silently. Singletons keep
    * their own id as representative, reducing to the plain stable
    * split. Scale shape: edges come from the banded MinHash pipeline
    * (no all-pairs), components from the two-tier
    * [[graft.operators.Dedup.connectedComponents]]; the split itself
    * is one broadcast-light left join + a map-side md5.
    */
  private def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = t(s, dir, "documents")
    // the edge set feeds three consumers (components, the pair count,
    // the cross-split audit) — pin it once
    val edges = Dedup.jaccardVerify(
        Dedup.minhashCandidates(docs, "doc_id", "text"),
        docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.5)
      .select(col("a"), col("b"))
      .localCheckpoint(true)
    val comp = Dedup.connectedComponents(edges)
    val split = docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        TextOps.stableSplit(coalesce(col("component"), col("doc_id")))
          .as("split"))
      .localCheckpoint(true)
    val cross = edges
      .join(split.select(col("doc_id").as("a"), col("split").as("sa")), "a")
      .join(split.select(col("doc_id").as("b"), col("split").as("sb")), "b")
      .filter(col("sa") =!= col("sb"))
    split.agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
      .crossJoin(broadcast(comp.agg(count(lit(1)).as("n_linked_docs"),
        countDistinct(col("component")).as("n_components"))))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_pairs"))))
      .crossJoin(broadcast(cross.agg(count(lit(1)).as("n_cross_pairs"))))
  }

  /** Incremental dedup: the corpus splits into an 80% "yesterday" base
    * and a 20% increment, the increment additionally carrying re-idd
    * COPIES of base docs (planted cross-batch dups the operator must
    * kill); DedupSpec pins the base-wins / min-id /
    * invariant-preservation semantics. ORACLE-BACKED: base-wins kills
    * (exact J >= 0.5 vs any base doc) and the intra-increment min-id
    * component resolution are recomputed closed-form by DuckDB from
    * exact Jaccard; LSH recall is pinned by DedupSpec (planted copies
    * are exact dups — J = 1 collides in every band). The planted-id
    * band is defined WITHIN the ScaleUp key stride (`doc_id % 1e9 >=
    * 1e7`, not `doc_id >= 1e7`) so replica-shifted 10x corpora
    * classify planted docs correctly — at the driver SFs the two are
    * identical (all ids < 1e7).
    */
  private def dedupIncrementQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = t(s, dir, "documents")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val planted = base.filter(col("doc_id") % 50 === 1)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val increment = docs.filter(col("doc_id") % 5 === 0).unionByName(planted)
    val kept = Dedup.dedupIncrement(base, increment, "doc_id", "text",
      jaccardThreshold = 0.5)
    // r20 (VERDICT #6): n_increment and n_planted fold into ONE pass
    // over the increment — a planted row is exactly an increment row
    // in the shifted id band (doc_id % 1e9 >= 1e7), the same
    // classifier n_planted_alive already uses — instead of a second
    // aggregate subtree re-deriving the planted frame from the base
    // scan. Same four output values (oracle-verified).
    increment.agg(count(lit(1)).as("n_increment"),
        coalesce(sum(when(col("doc_id") % 1000000000L >= 10000000L, 1L)
          .otherwise(0L)), lit(0L)).as("n_planted"))
      .crossJoin(kept.agg(count(lit(1)).as("n_survivors"),
        sum(when(col("doc_id") % 1000000000L >= 10000000L, 1L)
          .otherwise(0L)).as("n_planted_alive")))
  }

  /** WARM-path incremental dedup (oracle-backed since the round-8
    * conversion — DuckDB recomputes the closed-form survivor set): the
    * production shape the operator is built for. Yesterday's base
    * signatures are a persisted artifact — written ONCE per (tmpdir,
    * sf dir) here, parquet — and each batch pays only the increment's
    * signature build plus the capped joins; the cold `dedup_increment`
    * entry, which rebuilds both corpora's signatures every run,
    * measures the one-time bootstrap cost instead. Same split, same
    * planted cross-batch dups, same output columns as the cold entry —
    * DedupSpec pins warm == cold row-for-row.
    *
    * The persisted store is keyed on a CONTENT fingerprint of the
    * source (per-file name+size+mtime under documents.parquet), not
    * just the sf-dir path: regenerating the parquet at the same path
    * changes the fingerprint and forces a signature rebuild instead of
    * silently reusing stale base signatures.
    */
  private def dedupIncrementWarmQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    import graft.sources.WarmStore
    val docs = t(s, dir, "documents")
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    // fingerprint-keyed persisted signatures (empty extraKey keeps the
    // historical key derivation, so pre-refactor stores stay warm)
    val (sigDir, ready) = WarmStore.resolve(dir, "documents", "graft_base_sigs_")
    if (!ready)
      // atomic publish: build into a temp sibling, one rename — a
      // racing JVM's loser build is discarded, readers never see a
      // half-written store
      WarmStore.publish(sigDir) { tmp =>
        // Write shuffle-partitions-many files, not upstream's (often 1
        // at sf0.1 — a 680K single file): a one-file store reads back
        // as ONE partition, so every later batch's base-side band
        // explode (8x rows, pre-shuffle) runs on a single task — at
        // sf10 that is ~43M rows through one thread. File-read binning
        // (maxPartitionBytes/openCost) re-coalesces small files, so
        // small SFs lose nothing; the build is one-time by contract.
        Dedup.minhashSignaturesFast(base, "doc_id", "text")
          .repartition(s.sessionState.conf.numShufflePartitions)
          .write.mode("overwrite").parquet(tmp.toString)
      }
    WarmStore.markSource(sigDir, dir)
    val baseSigs = s.read.parquet(sigDir.toString)
    val planted = base.filter(col("doc_id") % 50 === 1)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val increment = docs.filter(col("doc_id") % 5 === 0).unionByName(planted)
    val kept = Dedup.dedupIncrement(base, increment, "doc_id", "text",
      jaccardThreshold = 0.5, baseSigs = Some(baseSigs))
    // r20 (VERDICT #6): n_increment and n_planted fold into ONE pass
    // over the increment — a planted row is exactly an increment row
    // in the shifted id band (doc_id % 1e9 >= 1e7), the same
    // classifier n_planted_alive already uses — instead of a second
    // aggregate subtree re-deriving the planted frame from the base
    // scan. Same four output values (oracle-verified).
    increment.agg(count(lit(1)).as("n_increment"),
        coalesce(sum(when(col("doc_id") % 1000000000L >= 10000000L, 1L)
          .otherwise(0L)), lit(0L)).as("n_planted"))
      .crossJoin(kept.agg(count(lit(1)).as("n_survivors"),
        sum(when(col("doc_id") % 1000000000L >= 10000000L, 1L)
          .otherwise(0L)).as("n_planted_alive")))
  }

  /** SimHash bucket histogram. ORACLE-BACKED since round 9: the
    * md5-low-64 hash basis (the [[org.apache.spark.sql.graft.SimHash64]]
    * knob) makes per-token hashes equal DuckDB's `md5_number_lower`,
    * so the oracle recomputes every signature — distinct-token bit
    * votes, sign threshold, 16-bit prefix histogram — closed-form.
    * The xxhash64 basis remains the kernel default for pure-Spark
    * dedup paths (DedupSpec keeps its equivalence pins there).
    */
  private def simhashBuckets(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    Dedup.simhash(t(s, dir, "documents"), "doc_id", "text", md5Basis = true)
      .groupBy(shiftrightunsigned(col("sig"), 48).as("prefix"))
      .agg(count(lit(1)).as("n_docs"))
      .groupBy(col("n_docs").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .orderBy(col("bucket_size"))
  }

  /** SimHash hamming-distance near-dup pairs via pigeonhole banding
    * (maxDist 3 -> 4 exact 16-bit bands; any pair within hamming 3
    * must agree on >= 1 band). ORACLE-BACKED since round 9 via the
    * md5-low-64 basis: DuckDB recomputes the signatures, the banded
    * candidate pairs INCLUDING the >maxBucket star degradation (which
    * genuinely binds at sf0.1 — one band bucket holds 316 docs), and
    * the exact popcount verify. DedupSpec keeps the brute-force
    * losslessness pin on the xxhash64 default path.
    */
  private def simhashNearDup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val pairs = Dedup.simhashNearDupPairs(
      t(s, dir, "documents").filter(col("doc_id") < 2000), "doc_id", "text",
      maxDist = 3, md5Basis = true)
    pairs.agg(count(lit(1)).as("n_pairs"),
      coalesce(min(col("hamming")), lit(-1)).cast("int").as("min_hamming"),
      coalesce(round(avg(col("hamming")), 4), lit(-1.0)).as("avg_hamming"))
  }

  /** Multimodal: binary media column + codegen-only feature extraction
    * (SURVEY.md §7.4; the REAL decode paths are oracle-gated by
    * `media_decode`/`audio_decode`).
    */
  private def mediaFeatureStats(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val feats = Multimodal.mediaFeatures(Multimodal.withMedia(t(s, dir, "documents")))
      .withColumn("bucket", col("doc_id") % 10)
    feats.groupBy(col("bucket"))
      .agg(sum(col("byte_len").cast("long")).as("total_bytes"),
        countDistinct(col("content_hash")).as("n_uniq_media"),
        sum(col("n_frames")).as("n_frames"))
      .orderBy(col("bucket"))
  }

  /** Ordered conversion funnel (view -> click -> purchase, each step
    * STRICTLY after the previous step's first occurrence): users
    * bucketed by deepest step reached. Three chained min-aggregations,
    * every join keyed on user_id so the per-step frames co-partition
    * with the step aggregates (shuffle-sharing, no re-keying anywhere);
    * no per-user event sorting, no windows — the per-step frames are
    * event-type filtered subsets, each a fraction of the table.
    */
  private def funnelDepth(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    ev.select(col("user_id")).distinct()
      .join(v.select(col("user_id"), lit(1).as("d1")), Seq("user_id"), "left")
      .join(c.select(col("user_id"), lit(1).as("d2")), Seq("user_id"), "left")
      .join(p.select(col("user_id"), lit(1).as("d3")), Seq("user_id"), "left")
      .select(when(col("d3").isNotNull, 3).when(col("d2").isNotNull, 2)
        .when(col("d1").isNotNull, 1).otherwise(0).as("depth"))
      .groupBy(col("depth")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("depth"))
  }

  /** Per-host document cap ([[graft.operators.Curation.perDomainCap]]):
    * keep each host's `cap` lowest-hash docs, exact, with the
    * histogram pruning computed EXECUTOR-SIDE — no driver state, so
    * the domain column may have unbounded cardinality (the web-crawl
    * "at most N pages per host" primitive). Oracle = the naive
    * per-domain rank it must equal.
    */
  private def domainCapQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), concat(lit("h"), col("doc_id") % 50).as("host"))
    Curation.perDomainCap(docs, "host",
      md5(col("doc_id").cast("string")), col("doc_id"), cap = 5L)
  }

  /** FineWeb-style per-language quality gate: each language keeps only
    * docs at or above its own 25th-percentile length — thresholds are
    * RELATIVE per group, so a verbose language cannot crowd out a terse
    * one. The per-lang cutoff frame is |languages| rows and broadcasts
    * into the join-back; the corpus never shuffles twice (one groupBy
    * for cutoffs, one for the accounting).
    */
  private def qualityCutoff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val cuts = docs.groupBy(col("lang"))
      .agg(expr("percentile(n_chars, 0.25)").as("cutoff"))
    docs.join(broadcast(cuts), Seq("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chars") >= col("cutoff"), 1L).otherwise(0L)).as("n_kept"),
        round(max(col("cutoff")), 4).as("cutoff"),
        sum(when(col("n_chars") >= col("cutoff"), col("n_chars"))
          .otherwise(0L)).as("kept_chars"))
      .orderBy(col("lang"))
  }

  /** REAL image decode over a PNG media column: payloads are
    * closed-form gradient PNGs ([[graft.operators.Multimodal.withMediaPng]]),
    * decoded by `javax.imageio` in a `Dataset.mapPartitions` batch —
    * and the decoded dimensions, band count, and mean sample intensity
    * are ORACLE-CHECKED against DuckDB computing the same closed forms
    * directly (the codec round-trip must recover the formula exactly;
    * PNG is lossless). 200 docs keeps the verify dump small; the
    * per-partition batch shape is what scales.
    */
  /** Perceptual-hash media dedup over REAL decoded rasters: every doc
    * gets its closed-form gradient PNG, a twin id (+16128, which is
    * 0 mod 9, 7, AND 256, so dims and every pixel are identical)
    * plants one exact-duplicate IMAGE per doc under a DIFFERENT doc
    * id, and the aHash groups them: n_same_hash counts docs sharing a
    * hash — content-level dedup one step beyond byte equality
    * (media_dedup) and frame hashing. The hash is integer-exact
    * (cross-multiplied mean comparison, no float division), so DuckDB
    * replays all 64 bits per image from the pixel formula.
    */
  private def mediaPhash(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val base = t(s, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id"))
    val ids = base.unionAll(
      base.select((col("doc_id") + 16128).as("doc_id")))
    val ph = Multimodal.perceptualHash(Multimodal.withMediaPng(ids)).toDF()
    val counts = ph.groupBy(col("phash_hi"), col("phash_lo"))
      .agg(count(lit(1)).as("n_same_hash"))
    ph.join(counts, Seq("phash_hi", "phash_lo"))
      .select(col("doc_id"), col("phash_hi"), col("phash_lo"),
        col("n_same_hash"), col("codec"))
      .orderBy(col("doc_id"))
  }

  private def mediaDecodeQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
    Multimodal.decode(Multimodal.withMediaPng(docs))
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("channels"),
        round(col("mean_intensity"), 4).as("mean_intensity"), col("codec"))
  }

  /** REAL audio decode over a WAV media column: payloads are
    * closed-form 8-bit PCM ([[graft.operators.Multimodal.withMediaWav]]),
    * decoded by `javax.sound.sampled` in a `Dataset.mapPartitions`
    * batch; sample rate, frame count, channels, and mean amplitude are
    * oracle-checked against DuckDB computing the same closed forms
    * (PCM is uncompressed, so the round-trip is exact).
    */
  private def audioDecodeQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
    Multimodal.decodeAudio(Multimodal.withMediaWav(docs))
      .toDF()
      .select(col("doc_id"), col("sample_rate"), col("n_frames"),
        col("channels"), round(col("mean_amplitude"), 4).as("mean_amplitude"),
        col("codec"))
  }

  /** Media dedup over the binary column: exact groups by content hash
    * plus frame-overlap near-dup pairs
    * ([[graft.operators.Multimodal.frameNearDupPairs]] — inverted
    * frame-hash index, ubiquitous frames dropped, pairs need >= 2
    * shared distinct frames). One accounting row; the planted-media
    * semantics are pinned in DedupSpec.
    */
  private def mediaDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val media = Multimodal.withMedia(t(s, dir, "documents"))
    val groups = Multimodal.mediaFeatures(media)
      .groupBy(col("content_hash")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
    val pairs = Multimodal.frameNearDupPairs(media)
    groups.agg(count(lit(1)).as("n_exact_groups"),
        coalesce(sum(col("n") - 1), lit(0L)).as("n_removable_docs"))
      .crossJoin(pairs.agg(count(lit(1)).as("n_neardup_pairs"),
        coalesce(sum(col("shared_frames")), lit(0L)).as("n_shared_frames")))
  }

  /** Recall-contract summary for a SINGLE-query approximate-ANN entry
    * (the round-9 oracle conversion, same pattern as the approx_*
    * sketches): the approximate result's ids themselves are
    * hash-derived and have no SQL equivalent, so the entry emits what
    * DuckDB CAN recompute closed-form — the exact brute-force top-k's
    * count / sum-of-sims / boundary sim — plus contract booleans the
    * oracle asserts TRUE: the ANN plan returned the full k rows, and
    * its recall@k against the in-plan exact top-k clears `minHits`/k.
    * `exact_sum_sim` over the 4-decimal per-pair sims (not avg): the
    * true value is a multiple of 1e-4, so the final round(.,4) sits
    * ~5e-5 from any boundary and double-summation-order ULPs cannot
    * flip the hash. Thresholds carry >= one-hit margin below every
    * observed value at sf0.001/0.01/0.1 (BASELINE.md round-9 record);
    * the tight 0.9 pins stay in SimilaritySpec.
    */
  private def annRecallSummary(exact: DataFrame, ann: DataFrame,
      k: Int, minHits: Int): DataFrame = {
    // the ANN result feeds two consumers (the hit join and the
    // returned-k count); pin its <= k rows once so the index build +
    // probe doesn't execute twice per run (measured 2x on the IVF
    // entries — BASELINE.md round-10 record)
    val annP = ann.localCheckpoint(true)
    exact.join(annP.select(col("id"), lit(1).as("__hit")), Seq("id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        round(sum(col("sim")), 4).as("exact_sum_sim"),
        round(min(col("sim")), 4).as("exact_min_sim"),
        (coalesce(sum(col("__hit")), lit(0)) >= minHits).as("recall_ok"))
      .crossJoin(broadcast(
        annP.agg((count(lit(1)) === k).as("returned_k_ok"))))
  }

  /** Batch variant of [[annRecallSummary]]: one row per query with the
    * exact side's per-qid stats (DuckDB recomputes), a per-query
    * recall FLOOR boolean, and the spec-pinned MEAN-recall contract
    * repeated on every row (computed once, broadcast back — the 1-row
    * crossJoin pattern the corpus-totals queries use). The per-qid
    * frame is pinned via localCheckpoint before fan-out: its two
    * consumers would otherwise each re-execute the whole exact-join-ann
    * subtree — index build included — doubling the entry (measured
    * 10.8 -> 4.1 s steady on ann_ivf_batch_topk at sf0.1, BASELINE.md
    * round-10 record). |Q| rows, so the pin is free.
    */
  private def annRecallBatchSummary(exact: DataFrame, ann: DataFrame,
      k: Int, minHitsPerQuery: Int, minMeanRecall: Double): DataFrame = {
    val perQ = exact.join(
        ann.select(col("qid"), col("id"), lit(1).as("__hit")),
        Seq("qid", "id"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_exact"),
        round(sum(col("sim")), 4).as("exact_sum_sim"),
        round(min(col("sim")), 4).as("exact_min_sim"),
        coalesce(sum(col("__hit")), lit(0)).as("__hits"))
      .localCheckpoint(true)
    perQ.crossJoin(broadcast(perQ.agg(
        (avg(col("__hits")) / k >= minMeanRecall).as("mean_recall_ok"))))
      .select(col("qid"), col("n_exact"), col("exact_sum_sim"),
        col("exact_min_sim"),
        (col("__hits") >= minHitsPerQuery).as("recall_floor_ok"),
        col("mean_recall_ok"))
      .orderBy(col("qid"))
  }

  /** The exact brute-force top-k NEIGHBORS of vec 0 (query excluded) —
    * the in-plan baseline the single-query ANN contracts score against.
    */
  private def exactTop10(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val prep = Similarity.prepared(t(s, dir, "embeddings"), "vec_id", "embedding")
    val q = prep.filter(col("id") === 0L).select(col("v").as("qv"))
    prep.filter(col("id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("id"), round(Similarity.cosine(col("v"), col("qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(10)
  }

  /** ANN via multi-table multi-probe random-hyperplane LSH: exact
    * rerank over the union of the query's bucket and its Hamming-1
    * neighbors across 8 independent tables. ORACLE-BACKED since round
    * 9 via the [[annRecallSummary]] contract (exact-side stats DuckDB
    * recomputes + recall@10 >= 0.7 asserted TRUE; observed 0.8-0.9
    * across SFs; SimilaritySpec pins 0.9 at sf0.001).
    */
  private def annLshTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val ann = Similarity.annTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, bits = 6, tables = 8)
    annRecallSummary(exactTop10(s, dir), ann, k = 10, minHits = 7)
  }

  /** Embedding-cosine near-dup pair summary via LSH buckets
    * (no oracle — hash-derived buckets).
    */
  private def embNearDup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.5, bits = 6)
      .agg(count(lit(1)).as("n_pairs"),
        round(coalesce(max(col("cos")), lit(0.0)), 4).as("max_cos"))
  }

  /** EXACT cosine-threshold pair mining — the ground truth the LSH
    * `emb_neardup` entry approximates: EVERY (a < b) pair with
    * round(cos, 4) >= 0.35, not just same-bucket ones. ORACLE-BACKED
    * by the straightforward DuckDB all-pairs filter; the Spark side
    * must reproduce that pair set bit-for-bit through the int8
    * filter-and-refine triangle block join
    * ([[graft.operators.Similarity.exactCosinePairs]]), so the hash
    * gate itself proves the quantized prescreen lossless on this
    * corpus.
    */
  private def exactCosinePairsQuery(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.exactCosinePairs(
      t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.35)

  /** HLL sketch vs exact distinct. ORACLE-BACKED: the sketch estimate
    * itself is engine-specific, so the entry emits the EXACT counts
    * (hash-verified against DuckDB) plus `within_bound` booleans — the
    * sketch's 5×rsd error contract, which DuckDB asserts as TRUE. A
    * sketch drifting outside rsd*5 = 10% flips the boolean and fails
    * the hash gate; SimilaritySpec additionally bounds the raw error.
    */
  private def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    // exact distincts as independent aggregates (no Expand — see
    // q9DistinctCounts); the HLL sketches tolerate duplicates, so both
    // fit one pass with no distinct machinery at all
    val li = t(s, dir, "lineitem")
    li.select(col("l_partkey")).distinct().agg(count(lit(1)).as("exact_parts"))
      .crossJoin(li.select(col("l_orderkey")).distinct()
        .agg(count(lit(1)).as("exact_orders")))
      .crossJoin(li.agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders")))
      .select(col("exact_parts"), col("exact_orders"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.1).as("parts_within_bound"),
        (abs(col("approx_orders") - col("exact_orders")).cast("double") /
          col("exact_orders") <= 0.1).as("orders_within_bound"))
  }

  /** Analytic window-function battery: row_number / lag / lead /
    * first_value over the date order, rank / dense_rank / percent_rank
    * / cume_dist over the price order, per customer. Both orderings
    * end in the unique order key, so every value is deterministic.
    */
  private def q30WindowBattery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(s, dir, "orders").filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(byDate).as("rn"),
        round(lag(col("o_totalprice"), 1).over(byDate), 2).as("prev_price"),
        round(lead(col("o_totalprice"), 1).over(byDate), 2).as("next_price"),
        round(first(col("o_totalprice")).over(byDate), 2).as("first_price"),
        rank().over(byPrice).as("price_rank"),
        dense_rank().over(byPrice).as("price_dense_rank"),
        round(percent_rank().over(byPrice), 6).as("price_pct_rank"),
        round(cume_dist().over(byPrice), 6).as("price_cume_dist"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Array-function battery over tokenized text: size / distinct /
    * min / max / sorted slice / membership / lambda filter.
    */
  private def q31ArrayFns(s: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    t(s, dir, "documents").filter(col("doc_id") < 500)
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        element_at(sort_array(toks), 1).as("tok_min"),
        element_at(sort_array(toks), -1).as("tok_max"),
        concat_ws("-", slice(sort_array(array_distinct(toks)), 1, 3)).as("first3"),
        array_contains(toks, "the").cast("int").as("has_the"),
        size(filter(array_distinct(toks), tk => tk.isin(stopwords: _*)))
          .as("n_stop_kinds"))
      .orderBy(col("doc_id"))
  }

  /** Explicit GROUPING SETS (finer than rollup/cube) + grouping()
    * indicators, via the Spark 4 Dataset.groupingSets API.
    */
  private def q32GroupingSets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"))
      .orderBy(col("g_rf"), col("g_ls"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Time-range rolling aggregates: per-user trailing-1h event count
    * and value sum via a RANGE BETWEEN frame over epoch millis — the
    * sliding-lookback shape (rows at the same instant share a frame,
    * so ties cannot flip results).
    */
  private def q33RollingRange(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(unix_millis(col("ts")))
      .rangeBetween(-3600000L, 0L)
    t(s, dir, "events").filter(col("user_id") < 50)
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_1h"),
        round(sum(col("value")).over(w), 2).as("sum_1h"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Sliding (overlapping) event-time windows: 1-day windows every
    * 6 hours — each event lands in 4 windows. Same plan shape as the
    * streaming windowed aggregation with a slide.
    */
  private def q34SlidingWindow(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(window(col("ts"), "1 day", "6 hours").getField("start").as("w_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("w_start"), col("event_type"))

  /** Conditional / positional aggregate battery: count_if, bool_or,
    * bool_and, max_by / min_by (deterministic — keyed on the unique
    * order key), filtered avg.
    */
  private def q35ConditionalAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count_if(col("o_totalprice") > 150000).as("n_big"),
        bool_or(col("o_orderstatus") === "F").as("any_f"),
        bool_and(col("o_totalprice") > 1000).as("all_over_1k"),
        max_by(col("o_orderstatus"), col("o_orderkey")).as("latest_status"),
        min_by(col("o_orderstatus"), col("o_orderkey")).as("first_status"),
        round(avg(when(col("o_orderstatus") === "F", col("o_totalprice"))), 2)
          .as("avg_f_price"))
      .orderBy(col("o_orderpriority"))

  /** Deterministic per-stratum sampling: md5-prefix membership with a
    * different rate per language — reproducible stratified sampling
    * with no seeds, no sampleBy, no partitioning dependence.
    */
  private def q36StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val h = substring(md5(col("doc_id").cast("string")), 1, 2)
    val thr = when(col("lang") === "en", "14").when(col("lang") === "fr", "28")
      .when(col("lang") === "de", "46").otherwise("80")
    t(s, dir, "documents").filter(h < thr)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** regexp_extract_all + explode: every digit run in the corpus,
    * aggregated per doc bucket.
    */
  private def q37RegexpExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select((col("doc_id") % 10).as("bucket"),
        explode(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("num"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_matches"),
        countDistinct(col("num")).as("n_distinct"),
        max(length(col("num"))).as("max_len"))
      .orderBy(col("bucket"))

  /** Winnowing document fingerprints (Schleimer et al., MOSS): hash
    * every 5-token shingle, keep the MIN hash of each 4-shingle
    * window (a rows-frame window min), distinct per doc. md5 keeps
    * the rolling hash oracle-checkable; set
    * `spark.graft.winnow.xxhash=true` to switch the query to the
    * xxhash64 mode (one 64-bit hash instead of a 128-bit hex string —
    * ~3x cheaper per shingle and a quarter of the fingerprint bytes at
    * scale). Guarantee (either mode): any shared run of >= 8 tokens
    * yields a shared fingerprint.
    */
  /** Distinct (doc_id, fp) winnowing fingerprints for a (doc_id, text)
    * frame — the window-free core shared by the query and the
    * equivalence property test (PropertySpec proves it equal to the
    * textbook windowed formulation in BOTH hash modes). The
    * fingerprint at position j is the min hash over the (<=4)-shingle
    * frame starting at j, computed as least() of offset-guarded
    * hashes: pure codegen'd scalar work on the exploded positions — no
    * per-doc window shuffle + sort, and no higher-order-function
    * lambdas (interpreted, and subject to projection-collapse
    * re-evaluation: an aliased per-doc hash array inlined into a
    * transform() re-hashes the whole doc per position, which measured
    * 280 s at sf0.1). `useXxhash` picks xxhash64 (LONG fp) over md5
    * (STRING fp); min-hash selection differs between modes, so
    * fingerprint SETS differ, but the winnowing guarantee and the
    * plan shape are identical.
    */
  def winnowFingerprints(docs: DataFrame, useXxhash: Boolean = false): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    // the per-position md5 grid below is the entry's dominant map
    // term and chains on the scan's partitioning — spread so a
    // single-split corpus file doesn't serialize it (no-op at scale)
    val base = graft.operators.Par.spread(docs)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), (size(col("toks")) - lit(4)).as("nsh"), col("toks"))
    def h(off: Int) = {
      val shingle = concat_ws(" ", slice(col("toks"), col("j") + off + 1, lit(5)))
      if (useXxhash) xxhash64(shingle) else md5(shingle)
    }
    def guarded(off: Int) = when(col("j") + off <= col("nsh") - 1, h(off))
    base
      .select(col("doc_id"), col("nsh"), col("toks"),
        explode(sequence(lit(0), greatest(col("nsh") - 4, lit(0)))).as("j"))
      .select(col("doc_id"), least(h(0), guarded(1), guarded(2), guarded(3)).as("fp"))
      .distinct()
  }

  private def winnowFingerprint(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // Lenient parse: anything other than (case-insensitive) "true" is
    // off — String.toBoolean would throw an opaque
    // IllegalArgumentException on e.g. "1" or "yes".
    val useXx = s.conf.getOption("spark.graft.winnow.xxhash")
      .exists(_.trim.equalsIgnoreCase("true"))
    val fps = winnowFingerprints(docs, useXx)
      .select(col("doc_id"), (col("doc_id") % 10).as("bucket"), col("fp"))
    // Split aggregates instead of one 3-distinct agg (whose Expand
    // would triple the distinct-pair rows); the two branches share the
    // distinct's exchange via reuse, and n_docs never explodes at all.
    val docCounts = docs
      .filter(size(Dedup.tokens(col("text"))) >= 5)
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
    val nFps = fps.groupBy(col("bucket")).agg(count(lit(1)).as("n_fps"))
    val nUniq = fps.groupBy(col("bucket"), col("fp")).agg(count(lit(1)).as("__c"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_uniq_fps"))
    nFps.join(nUniq, Seq("bucket")).join(docCounts, Seq("bucket"))
      .select(col("bucket"), col("n_fps"), col("n_uniq_fps"), col("n_docs"))
      .orderBy(col("bucket"))
  }

  /** Benchmark-contamination check: a train doc is contaminated when it
    * shares any 8-token-gram with the eval set (doc_id % 199 == 0 plays
    * the benchmark). Scale shape: the eval side is a tiny fraction of
    * the corpus, so its distinct grams BROADCAST and the train-side
    * gram explode is consumed by a broadcast left-semi join — the train
    * corpus never shuffles. The decontaminated corpus is the anti-join
    * complement of the same plan.
    */
  private def q47Contamination(s: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    // no spread: the n-gram explode is light and the train side is a
    // broadcast semi — the input exchange measured net-negative (r19
    // A/B matrix, guide §8)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 8)
    def grams(df: DataFrame) = df
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 8)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("toks"), col("i") + 1, lit(8))).as("g"))
    val evalGrams = grams(docs.filter(col("doc_id") % 199 === 0))
      .select(col("g")).distinct()
    val contaminated = grams(docs.filter(col("doc_id") % 199 =!= 0))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
    docs.filter(col("doc_id") % 199 =!= 0)
      .join(contaminated.withColumn("__hit", lit(1)), Seq("doc_id"), "left")
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_train_docs"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_contaminated"))
      .orderBy(col("bucket"))
  }

  /** Sequence packing for training batches: contiguous greedy packing
    * of docs into 512-token context bins, independently per worker
    * bucket (doc_id % 8) — bin id = floor(preceding-token-cumsum /
    * 512) via a PARTITIONED running-sum window (never a global one).
    * Reports bins and fill ratio per bucket.
    */
  private def q48SequencePacking(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ntoks = size(Dedup.tokens(col("text")))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 8).as("bucket"), ntoks.as("ntoks"))
      .withColumn("bin",
        floor(coalesce(sum(col("ntoks")).over(w), lit(0L)) / 512))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        (max(col("bin")) + 1).cast("long").as("n_bins"),
        sum(col("ntoks")).cast("long").as("sum_tokens"),
        round(sum(col("ntoks")) / ((max(col("bin")) + 1) * 512.0), 4).as("avg_fill"))
      .orderBy(col("bucket"))
  }

  /** Balanced training-shard layout over a GLOBAL document order:
    * shard id = floor(exclusive-token-cumsum / 512) by doc_id, i.e.
    * contiguous curriculum-order runs with loader-even token budgets.
    * The partitioned cousin is q48 (per-bucket packing); the point
    * here is the partition-LESS running sum, which a window would
    * compile to a single-task WindowExec — instead
    * [[graft.operators.GlobalRank.shardAssign]] computes it as a
    * two-pass distributed prefix sum (range-partitioned sort,
    * per-partition totals to the driver, offset-seeded scan), so the
    * 100 TB corpus never funnels through one task. Reports per-shard
    * doc/token accounting.
    */
  private def tokenShardAssign(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GlobalRank
    val ntoks = size(Dedup.tokens(col("text")))
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), ntoks.cast("long").as("ntoks"))
    GlobalRank.shardAssign(docs, Seq(col("doc_id")), col("ntoks"), 512L)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntoks")).cast("long").as("sum_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard_id"))
  }

  /** Document-frequency boilerplate detection (CCNet / RefinedWeb
    * style): a 3-token shingle that occurs in at least
    * K = max(5, ceil(0.4% of docs)) DISTINCT documents is boilerplate
    * (headers, navigation chrome, license blurbs — text repeated
    * across unrelated pages), and every position covered by such a
    * shingle is a strip candidate. Distinct from [[duplicateSpansQuery]]
    * (pairwise span sharing) — df-thresholding needs no pair
    * enumeration at all. Scale shape: one shuffle on the shingle for
    * the distinct-doc df, and the position->flagged-shingle join
    * reuses that same hash partitioning (exchange reuse, no broadcast
    * of the potentially large boilerplate set); K is integer-exact
    * ((4*N + 999)/1000) so both engines agree without float ceil. The
    * single-row corpus count follows the bounded-collect contract
    * (one 1-row aggregate, like Dedup's probe counts).
    */
  private def boilerplateStrip(s: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    // no spread: r19 A/B matrix measured the input exchange
    // net-negative here (2.32 spread vs 1.87 off, guide §8)
    val base = t(s, dir, "documents")
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 3)
    val nDocs = base.agg(count(lit(1))).head().getLong(0)
    val k = math.max(5L, (4L * nDocs + 999L) / 1000L)
    val pos = base
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 3)).as("i"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("toks"), col("i") + 1, lit(3))).as("g"))
    val boiler = pos.distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= k)
      .select(col("g"), lit(1).as("__bp"))
    pos.join(boiler, Seq("g"), "left")
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_pos"),
        sum(coalesce(col("__bp"), lit(0))).cast("long").as("n_bp_pos"))
      .select(col("bucket"), col("n_docs"), col("n_pos"), col("n_bp_pos"),
        round(col("n_bp_pos") / col("n_pos"), 6).as("bp_ratio"))
      .orderBy(col("bucket"))
  }

  /** BM25 ranked retrieval (Robertson-Sparck Jones, k1=1.2 b=0.75)
    * for a fixed 4-term query over the corpus — the scoring half of a
    * decontamination / retrieval pass (tfidf's q20 publishes the idf
    * table; this ranks documents). Selection is keyed on the score
    * ROUNDED to 1e-6 with doc_id tie-break — the q20/q21 idiom that
    * keeps the top-k boundary independent of last-ulp libm noise.
    * Scale shape: the query-term filter lands scan-side BEFORE the
    * explode is aggregated (only query-term postings survive), df and
    * corpus stats are one tiny broadcast cross join, and the top-k is
    * a TakeOrderedAndProject — no global sort materializes.
    */
  /** Shared BM25 scorer: (doc_id, score, n_terms_hit) for every doc
    * matching at least one query term (see [[bm25TopK]] for contract).
    */
  private def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("spark", "join", "window", "hash")
    val toks = Dedup.tokens(col("text"))
    // no spread: BM25's term explode is light; the input exchange
    // measured net-negative (r19 A/B matrix: 0.76 off vs 1.47 on)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))
    val stats = docs.agg(count(lit(1)).as("n"),
      sum(col("dl")).cast("double").as("sumdl"))
    val postings = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfs = postings.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfNorm = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") * col("n") / col("sumdl")))
    postings
      .join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(round(sum(idf * tfNorm), 6).as("score"),
        count(lit(1)).as("n_terms_hit"))
  }

  private def bm25TopK(s: SparkSession, dir: String): DataFrame =
    bm25Scores(s, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(15)

  /** Retrieve-then-rerank (the RAG / hard-negative-mining shape):
    * BM25 selects the lexical top-50, then the candidate set — now 50
    * rows, BROADCAST — is reranked by exact embedding cosine against
    * the query vector. The expensive exact similarity only ever
    * touches the candidate set, so the corpus-side work stays the
    * linear BM25 pass regardless of embedding dimensionality; docs
    * without an embedding row drop out in the rerank join (inner, by
    * construction of the corpus). Both selection boundaries are on
    * ROUNDED scores with doc_id tie-breaks (the [[bm25TopK]] idiom).
    */
  private def hybridRetrieval(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val cands = bm25Scores(s, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(50)
      .withColumnRenamed("score", "bm25")
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    e.join(broadcast(cands), col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(q))
      .select(col("doc_id"), col("bm25"),
        round(Similarity.cosine(col("v"), col("qv")), 4).as("sim"))
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(10)
  }

  /** Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995,
    * Chen & Goodman 1999; absolute discount d = 0.75) — the quality
    * filter one rung above unigram_lm_quality: a document full of
    * individually-common words in UNSEEN orders scores low because
    * the bigram term collapses to the continuation probability, which
    * counts distinct CONTEXTS, not raw frequency. All model counts
    * derive from the bigram-TYPE table in one pass (cw1 = sum of pair
    * counts per left word, N1+(w1.) = its row count, N1+(.w2) = row
    * count per right word, T = total types) — no countDistinct
    * Expand, no second position scan. Per-doc score = mean ln p_KN
    * over bigram positions; probabilities use the identical
    * parenthesization in both engines and the result rounds to 1e-6
    * with doc_id tie-breaks. Every stage is a keyed hash aggregate or
    * keyed join on w1/w2/doc_id — linear, vocabulary never broadcast.
    */
  private def knBigramLm(s: SparkSession, dir: String): DataFrame = {
    val tk = t(s, dir, "documents")
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
    val bi = tk
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 2)).as("i"))
      .select(col("doc_id"), col("toks")(col("i")).as("w1"),
        col("toks")(col("i") + 1).as("w2"))
    val cb = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
    val c1 = cb.groupBy(col("w1")).agg(
      sum(col("cab")).cast("double").as("cw1"),
      count(lit(1)).cast("double").as("n1r"))
    val c2 = cb.groupBy(col("w2")).agg(count(lit(1)).cast("double").as("n1l"))
    val tt = cb.agg(count(lit(1)).cast("double").as("t"))
    val p = cb.join(c1, "w1").join(c2, "w2").crossJoin(broadcast(tt))
      .select(col("w1"), col("w2"),
        ((col("cab").cast("double") - lit(0.75)) / col("cw1") +
          ((lit(0.75) * col("n1r")) / col("cw1")) * (col("n1l") / col("t")))
          .as("pkn"))
    bi.join(p, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg((sum(log(col("pkn"))) / count(lit(1)).cast("double")).as("lp"))
      .select(col("doc_id"), (round(col("lp"), 6) + lit(0.0)).as("mean_logp"))
      .orderBy(col("mean_logp").desc, col("doc_id"))
      .limit(20)
  }

  /** DSIR — data selection with importance resampling (Xie et al.
    * 2023): select raw-corpus documents that LOOK like a target
    * distribution, here defined by exemplar docs (any containing the
    * 'dup' token — 5% of the corpus at every SF). Per-token hashed
    * unigram features (the hashing trick: md5 low-64 & 4095 — the
    * bucket table is FIXED at 4096 rows regardless of corpus size,
    * which is what makes it a broadcast at 100 TB), add-1-smoothed
    * bucket LMs for target and raw, per-doc importance = the MEAN
    * over token positions of ln p_target(b) - ln p_raw(b) (the raw
    * sum is length-dominated when the target is small: smoothing
    * mass makes every common token mildly negative, so unnormalized
    * logw just selects short docs — measured, not guessed), then
    * GUMBEL top-k at temperature tau = 50: key = 50*meanlogw +
    * Gumbel(md5-uniform), an exact sample WITHOUT replacement
    * proportional to softmax(50*meanlogw) (Gumbel-max trick) —
    * bit-reproducible across engines/runs/partitionings, no
    * exp() overflow. Selection enrichment measured: 21/19/46 of the
    * top-50 are target docs at sf0.001/0.01/0.1 vs the 5% base rate.
    * Shapes: one explode + two hash aggregates (bucket counts with
    * the conditional target column folded into the SAME aggregate,
    * then the per-doc mean); totals are a 1-row broadcast; the
    * 4096-row delta table broadcasts into the token join. Linear.
    * Key/mean round to 1e-6 with doc_id tie-breaks.
    */
  private def dsirSample(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExpressions
    val docs = t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"), Dedup.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        array_contains(col("toks"), "dup").as("tgt"))
    val tok = docs
      .select(col("doc_id"), col("tgt"), explode(col("toks")).as("w"))
      .select(col("doc_id"), col("tgt"),
        VectorExpressions.md5_lower64(col("w")).bitwiseAND(lit(4095L)).as("b"))
    val bkt = tok.groupBy(col("b"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"))
    val tots = bkt.agg(sum(col("cr")).cast("double").as("tr"),
      sum(col("ct")).cast("double").as("tt"))
    val delta = bkt.crossJoin(broadcast(tots))
      .select(col("b"),
        (log((col("ct") + lit(1L)).cast("double") / (col("tt") + lit(4096.0))) -
          log((col("cr") + lit(1L)).cast("double") / (col("tr") + lit(4096.0))))
          .as("delta"))
    val lw = tok.join(broadcast(delta), "b")
      .groupBy(col("doc_id"))
      .agg((sum(col("delta")) / count(lit(1)).cast("double")).as("mlw"))
    val u = (shiftrightunsigned(VectorExpressions.md5_lower64(
      concat(col("doc_id").cast("string"), lit(":dsir"))), 11).cast("double")
      + lit(0.5)) / lit(9007199254740992.0)
    lw.select(col("doc_id"),
        (round(col("mlw"), 6) + lit(0.0)).as("mean_logw"),
        (round(lit(50.0) * col("mlw") + -log(-log(u)), 6) + lit(0.0)).as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(50)
  }

  /** PMI collocation mining (Church & Hanks 1990): pointwise mutual
    * information over adjacent token pairs — the classic
    * distributional signal for multi-word-expression discovery and
    * tokenizer-vocab candidates (a high-PMI bigram is a merge the
    * corpus "wants"). Two hash aggregates over one scan (unigram
    * positions, adjacent bigrams), min-support cab >= 5 applied
    * BEFORE the vocabulary joins, corpus totals folded in as 1-row
    * broadcasts (benign bounded-build BNLJ). PMI is computed from
    * integer-exact counts with the SAME operand order and explicit
    * double casts on both engines — ln((cab*T*T)/(P*ca*cb)) — and
    * rounds to 1e-6 with (a, b) tie-breaks so the top-30 boundary is
    * libm-noise independent. All stages keyed/linear; the vocabulary
    * join stays a shuffle join (vocab is corpus-sized at 100 TB —
    * never broadcast it).
    */
  private def pmiCooccur(s: SparkSession, dir: String): DataFrame = {
    val tk = t(s, dir, "documents").filter(trim(col("text")) =!= "")
      .select(Dedup.tokens(col("text")).as("toks"))
    val uni = tk.select(explode(col("toks")).as("w"))
    val uc = uni.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = uni.agg(count(lit(1)).cast("double").as("t"))
    val bi = tk.filter(size(col("toks")) >= 2)
      .select(col("toks"), explode(sequence(lit(0), size(col("toks")) - 2)).as("i"))
      .select(col("toks")(col("i")).as("a"), col("toks")(col("i") + 1).as("b"))
    val bc = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val ptot = bi.agg(count(lit(1)).cast("double").as("p"))
    bc.filter(col("cab") >= 5)
      .join(uc.select(col("w").as("a"), col("c").as("ca")), "a")
      .join(uc.select(col("w").as("b"), col("c").as("cb")), "b")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(ptot))
      .select(col("a"), col("b"), col("cab").as("n_pair"),
        (round(log((col("cab").cast("double") * col("t") * col("t")) /
          (col("p") * col("ca").cast("double") * col("cb").cast("double"))), 6)
          + lit(0.0)).as("pmi"))
      .orderBy(col("pmi").desc, col("a"), col("b"))
      .limit(30)
  }

  /** Weighted PageRank over the clickstream page graph — the classic
    * web-corpus quality signal (CommonCrawl-style curation ranks
    * pages by link importance before sampling). The graph is DERIVED
    * distributed: per-user consecutive-visit edges (lead over a
    * user-partitioned window ordered by ts, event_id — never a
    * single-task window), multiplicity folded into edge weights, then
    * 5 damped power iterations (d = 0.85) with proper dangling-mass
    * redistribution. Each iteration is one keyed join + hash
    * aggregate over the edge frame; edges/nodes localCheckpoint once
    * and ranks re-checkpoint per iteration so iteration i never
    * re-executes iterations 1..i-1 (the bpe_train pattern). The only
    * driver crossing is N (one count); the per-iteration dangling
    * sum stays IN the plan as a 1-row broadcast cross join (a head()
    * there costs a whole extra job per iteration for one double).
    * Damping literals are written 0.85/0.15 on BOTH sides
    * (`1 - 0.85` is 0.15000000000000002 in IEEE double); final ranks
    * round to 1e-6 so cross-engine summation-order noise (~1e-15
    * after 5 iterations) cannot flip the top-20 boundary, which also
    * tie-breaks by page id. The DuckDB oracle replays the whole
    * pipeline closed-form: same edge derivation, same 5 iterations as
    * chained MATERIALIZED CTEs.
    */
  private def pageRank(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val damp = 0.85
    val oneMinusDamp = 0.15 // literal, never 1 - 0.85
    val iters = 5
    val ev = t(s, dir, "events")
      .select(col("user_id"),
        from_json(col("props"), lit("k INT")).getField("k").cast("long").as("page"),
        col("ts"), col("event_id"))
      .filter(col("page").isNotNull)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = ev
      .select(col("page").as("src"), lead(col("page"), 1).over(w).as("dst"))
      .filter(col("dst").isNotNull && col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).cast("double").as("w"))
      .localCheckpoint() // reused by all 5 iterations
    val nodes = ev.select(col("page")).distinct().localCheckpoint()
    val n = nodes.count().toDouble
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
      .localCheckpoint()
    // NOTE (r19): hoisting the iteration-invariant edges⋈outw join
    // and the dangling anti-join into two pre-loop localCheckpoints
    // was tried and MEASURED SLOWER here (+0.4-0.8 s even at the best
    // config): at bench scale those per-iteration joins are cheap
    // broadcast-hash joins inside the single per-iteration job, while
    // each extra checkpoint is an eager 32-task job. The historical
    // shape below stays; at cluster scale the same trade should be
    // re-measured before hoisting (the joins become real shuffles).
    var ranks = nodes.select(col("page"), lit(1.0 / n).as("r"))
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      // dangling mass stays IN the plan as a 1-row broadcast (the
      // benign bounded-build BNLJ shape): a driver-side head() here
      // would cost a whole extra job per iteration for one double
      val dangling = ranks
        .join(outw, ranks("page") === outw("src"), "left_anti")
        .agg(coalesce(sum(col("r")), lit(0.0)).as("ds"))
      val contribs = edges
        .join(ranks, ranks("page") === edges("src"))
        .join(outw, edges("src") === outw("src"))
        .select(col("dst"), (col("r") / col("outw") * col("w")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("cin"))
      val next = nodes.join(contribs, nodes("page") === contribs("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(nodes("page"),
          (lit(oneMinusDamp / n) +
            lit(damp) * (coalesce(col("cin"), lit(0.0)) + col("ds") / lit(n)))
            .as("r"))
        .localCheckpoint() // cut the iteration pyramid
      prev.foreach(_.unpersist())
      prev = Some(next)
      ranks = next
    }
    // bpeEncode pattern: localCheckpoint the 20-row result, then
    // unpersist the whole checkpointed chain — edges/nodes/outw and
    // the final iteration would otherwise leak their blocks for the
    // JVM's lifetime (bench harnesses run entries repeatedly in one
    // session).
    val out = ranks
      .select(col("page"), (round(col("r"), 6) + lit(0.0)).as("rank"))
      .orderBy(col("rank").desc, col("page"))
      .limit(20)
      .localCheckpoint()
    prev.foreach(_.unpersist())
    edges.unpersist()
    nodes.unpersist()
    outw.unpersist()
    out
  }

  /** MMR diversification (Carbonell & Goldstein 1998) over a BOUNDED
    * retrieval candidate set — the third stage of the retrieval
    * family (bm25_topk retrieves, hybrid_retrieval reranks by
    * relevance, mmr_rerank trades relevance against redundancy):
    * greedy picks maximize lambda*rel - (1-lambda)*maxSimToSelected,
    * so near-duplicate hits cannot monopolize the final list. Greedy
    * MMR is inherently sequential, so it runs DRIVER-SIDE over the
    * candidate set — legitimate ONLY because the set is bounded (the
    * PQ-codebook bounded-collect contract: <= 50 rows cross the
    * driver); the corpus-scale work (BM25 scan, embedding join,
    * relevance cosines) is all distributed first. diverse_sample is
    * the fully-distributed surrogate when the input ISN'T bounded.
    * Relevance and pairwise cosines round to 1e-6 (+0.0) with doc_id
    * tie-breaks; driver-side rounding uses HALF_UP BigDecimal — the
    * same rule as Spark's round() and DuckDB's round(). The oracle
    * replays the greedy loop closed-form as chained CTEs (score CTE
    * -> 1-row argmax CTE -> accumulated-selection CTE per pick, the
    * bpe_train pattern).
    */
  private def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    // both weights are explicit literals: `1 - 0.7` is
    // 0.30000000000000004 in IEEE double and would diverge from the
    // oracle's written 0.3
    val lam = 0.7
    val oneMinusLam = 0.3
    val picks = 10
    val cands = bm25Scores(s, dir)
      .orderBy(col("score").desc, col("doc_id")).limit(50)
    val e = t(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val emb = e.join(broadcast(cands), col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(q))
      .select(col("doc_id"),
        (round(Similarity.cosine(col("v"), col("qv")), 6) + lit(0.0)).as("rel"),
        col("v"))
    // bounded: <= 50 candidate rows cross the driver
    val rows = emb.collect().map(r =>
      (r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue + 0.0
    def cosine(a: Array[Double], b: Array[Double]): Double =
      r6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
    val vecs = rows.map(r => r._1 -> r._3).toMap
    val selected = Seq.newBuilder[(Int, Long, Double)]
    var selIds = List.empty[Long]
    var remaining = rows.map(r => (r._1, r._2)).sortBy(_._1).toList
    for (rank <- 1 to math.min(picks, rows.length)) {
      val (bestId, bestSc) = remaining.map { case (id, rel) =>
        val maxSim = if (selIds.isEmpty) 0.0
          else selIds.map(sid => cosine(vecs(id), vecs(sid))).max
        (id, lam * rel - oneMinusLam * maxSim)
      }.minBy { case (id, sc) => (-sc, id) } // max score, doc_id tie-break
      selected += ((rank, bestId, r6(bestSc)))
      selIds ::= bestId
      remaining = remaining.filterNot(_._1 == bestId)
    }
    import s.implicits._
    selected.result().toDF("rank", "doc_id", "mmr").orderBy(col("rank"))
  }

  /** Asymmetric containment near-dup join (PPJoin-family prefix
    * filtering, Xiao et al. 2008): ordered pairs (a, b) where
    * C(a->b) = |sh(a) ∩ sh(b)| / |sh(a)| >= 0.8 over distinct 3-gram
    * shingles — catches near-SUBSET duplication (quotes, excerpts, a
    * doc embedded in a longer one) that symmetric Jaccard dedup
    * misses (C can be 1.0 while J is tiny). Delegates to
    * [[Dedup.containmentPairs]]: the prefix filter is LOSSLESS while
    * shingle dfs stay under [[Dedup.DefaultMaxPosting]] (true of every
    * oracle/gate corpus — organic dfs top out at 25), so the DuckDB
    * oracle is plain brute force over shingle-sharing pairs and the
    * hash gate itself proves no pair was lost; a boilerplate-degenerate
    * corpus instead takes the hot-posting star tier (audited by
    * [[Dedup.hotPostingReport]], stress-pinned by ScaleStressSpec's
    * boiler_containment_50k). PPJoin length filter prunes 31% of raw
    * candidates at sf0.1 before the distinct.
    */
  private def containmentNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text")
      .select(col("a"), col("b"), col("na"), col("inter"),
        round(col("containment"), 4).as("containment"))
      .orderBy(col("a"), col("b"))

  /** The containment hot-posting audit as a first-class queryable:
    * every shingle whose posting list exceeds the cap, its df, and the
    * ordered pairs the star tier skips for it — the report a consumer
    * runs when [[Dedup.containmentPairs]]'s observed star metric fires
    * (a degraded corpus under-reports member-member pairs; this names
    * the shingles responsible and the skipped volume). The cap here is
    * deliberately LOW (4, vs the production default 1024) so the audit
    * itself is oracle-gated on organic corpora at every SF — at the
    * default cap the organic hot set is empty by construction.
    */
  private def containmentHotAudit(s: SparkSession, dir: String): DataFrame =
    Dedup.hotPostingReport(t(s, dir, "documents"), "doc_id", "text",
        maxPosting = 4)
      .orderBy(col("g"))

  /** Unicode NFC normalization pass (pre-dedup hygiene): the same
    * text arrives composed ("é") and decomposed ("e" + U+0301) from
    * different provenances, and every downstream exact/shingle dedup
    * treats them as distinct documents unless the corpus is composed
    * first. The corpus is ASCII, so the entry PLANTS decomposed
    * sequences deterministically (combining acute on 'a' for
    * doc_id%3==0, combining diaeresis on 'o' for %3==1) and runs the
    * codegen'd [[graft.functions.VectorExpressions.nfc_normalize]]
    * kernel (DuckDB twin: nfc_normalize) — map-only, no shuffle
    * beyond the 10-row bucket agg. chars are codepoint counts, so
    * composition strictly shrinks changed docs.
    */
  private def textNormalize(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExpressions.nfc_normalize
    val deco = when(col("doc_id") % 3 === 0,
        replace(col("text"), lit("a"), lit("á")))
      .when(col("doc_id") % 3 === 1,
        replace(col("text"), lit("o"), lit("ö")))
      .otherwise(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), deco.as("d"))
      .select(col("doc_id"), col("d"), nfc_normalize(col("d")).as("nd"))
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("nd") =!= col("d"), 1).otherwise(0)).cast("long").as("n_changed"),
        sum(length(col("d"))).cast("long").as("chars_decomposed"),
        sum(length(col("nd"))).cast("long").as("chars_nfc"))
      .orderBy(col("bucket"))
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES,
    * 2006): each doc gets key u^(1/w) for u ~ U(0,1) and weight w;
    * the global top-k by key IS an exact weighted sample — fully
    * deterministic here because u derives from the md5_lower64 kernel
    * (same bit-for-bit in DuckDB via md5_number_lower), so the
    * "random" sample is reproducible across engines, partitionings,
    * and reruns — the property a curation pipeline needs for
    * auditable subsampling. Maximizing u^(1/w) == maximizing
    * ln(u)/w (monotone), which avoids pow; selection is on the
    * ROUNDED key with doc_id tie-break ([[bm25TopK]] idiom). Scale
    * shape: map-only key computation + TakeOrderedAndProject — no
    * shuffle at all beyond the top-k tree aggregation.
    */
  private def weightedSample(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorExpressions
    val h = VectorExpressions.md5_lower64(
      concat(col("doc_id").cast("string"), lit(":ws")))
    val u = (shiftrightunsigned(h, 11).cast("double") + lit(0.5)) /
      lit(9007199254740992.0) // 2^53: u uniform in (0,1), exactly representable
    t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"),
        // + 0.0 canonicalizes IEEE -0.0 (a key that rounds to zero)
        // so both engines emit the same sign
        (round(log(u) / col("n_chars").cast("double"), 6) + lit(0.0)).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(100)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the CCMatrix
    * recipe): mine cross-lingual training pairs by scoring every
    * (en, de) embedding pair with the RATIO margin — cosine divided by
    * the mean of both sides' average top-k cosines — and keeping
    * MUTUAL best matches above a threshold. The margin normalization
    * is the whole point vs plain cosine top-1: hub vectors that are
    * near everything get their denominator inflated and stop
    * swallowing the alignment.
    *
    * Shapes: sides are inner joins doc->embedding (vec_id = doc_id);
    * the pair frame is a broadcast cross join (the smaller language
    * side broadcasts) — quadratic by contract, the bipartite sibling
    * of exact_cosine_pairs; at 100 TB the candidate set comes from the
    * ann_* paths instead and the margin is computed over candidates.
    * Per-side top-k averages use the native TopKPerKey bounded heaps
    * (no WindowExec); forward/backward argmax are struct-max hash
    * aggregates with yid/xid ascending tie-breaks. Cosines and margins
    * round to 1e-6 (+0.0 canonicalizes a potential -0.0) so the
    * mutual-best boundary is libm-noise independent; threshold 1.05
    * binds at every observed SF.
    */
  private def bitextMine(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
    // no spread: the margin-scoring dots ride broadcast joins over
    // k-row top lists; the input exchange measured net-negative (r19
    // A/B matrix: 1.66 off vs 2.48 on)
    val e = t(s, dir, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    def side(lang: String) =
      e.join(d.filter(col("lang") === lang), col("vec_id") === col("doc_id"))
        .select(col("vec_id").as("id"), col("v"))
    Similarity.marginBitext(side("en"), side("de"), k = 4, threshold = 1.05)
  }

  /** BPE merge TRAINING (Sennrich et al. 2016, word-level): M
    * iterations of [count all adjacent token pairs over the corpus ->
    * take the most frequent pair (ties: count DESC, left ASC, right
    * ASC) -> rewrite every doc by greedy left-to-right non-overlapping
    * merge of that pair]. The pair COUNTING is a distributed
    * position-explode aggregate each round; only the ONE-ROW argmax is
    * collected (the PQ-codebook bounded-collect contract — M rows
    * total cross the driver). The rewrite is the native codegen'd
    * [[graft.functions.VectorExpressions.bpe_merge_step]] kernel —
    * one O(len) pass per document (an `aggregate` HOF fold with a
    * string accumulator is O(len²) per document: measured ~470 s for
    * 6 rounds at sf0.1 vs ~seconds with the kernel). Each round's
    * corpus is localCheckpoint'd so round i's pair count and round
    * i+1's rewrite share ONE materialization instead of re-executing
    * the whole merge pyramid from the raw scan (the semdedup k-means
    * pattern); checkpoints unpersist as soon as the next round lands.
    * The DuckDB oracle replays ALL M rounds closed-form as chained
    * CTEs (pair CTE -> 1-row argmax CTE -> list_reduce rewrite CTE),
    * so the learned merge table is recomputed from scratch by both
    * engines — nothing is precomputed or smuggled in as literals.
    * Merged tokens join with '+' (corpus tokens never contain '+', so
    * merge products cannot collide with raw tokens).
    */
  /** Shared BPE learn loop: returns the merge table, the fully-merged
    * corpus (an unmaterialized kernel projection over the last
    * checkpoint), and that last checkpoint so callers can unpersist
    * it when done.
    */
  private def bpeLearn(s: SparkSession, dir: String)
      : (Seq[(Int, String, String, Long)], DataFrame, DataFrame) = {
    val m = 6
    // no spread: each round re-checkpoints the corpus anyway, and the
    // r19 A/B matrix measured the up-front exchange net-negative
    // across all 6 rounds (bpe_train 1.41 off vs 2.83 on)
    //
    // r20 NOTE (VERDICT #7, tried, measured SLOWER, reverted): the
    // candidate fusion — ONE base checkpoint, each round's pair count
    // reading it through the narrow chain of i merge kernels (the
    // rewrite pipelined into the count stage; half the corpus passes,
    // none of the per-round materialization jobs) — was implemented,
    // oracle-verified (bpe_train + bpe_encode pass at sf0.001 AND
    // sf0.01), and REFUTED by the interleaved A/B (3 reps/side, all
    // probes clean, min-of-3): fused bpe_train 1.509 / bpe_encode
    // 1.894 vs per-round-checkpoint 1.376 / 1.645 s. At this corpus
    // size the 0+1+..+5 = 15 serial in-pipeline kernel re-passes (the
    // base checkpoint is a single partition) cost more than the 6
    // eager materialization jobs they replace. At a scale where the
    // corpus no longer fits per-round checkpoints, the fused shape is
    // the right one — re-measure there (the page_rank r19 pattern).
    var corpus = t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .select(Dedup.tokens(col("text")).as("t"))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var prev: Option[DataFrame] = None
    var step = 1
    var exhausted = false
    while (step <= m && !exhausted) {
      val snap = corpus.localCheckpoint() // eager; frees the pyramid
      prev.foreach(_.unpersist())
      prev = Some(snap)
      val top = snap
        .filter(size(col("t")) >= 2)
        .select(col("t"),
          explode(sequence(lit(0), size(col("t")) - 2)).as("i"))
        .select(col("t")(col("i")).as("a"), col("t")(col("i") + 1).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1)
        .collect().headOption // bounded: AT MOST one row per iteration;
      // a degenerate corpus where every doc has collapsed to a single
      // token leaves no adjacent pair — stop early and emit fewer than
      // m merges instead of throwing on .head()
      top match {
        case Some(r) =>
          val (a, b, c) = (r.getString(0), r.getString(1), r.getLong(2))
          merges += ((step, a, b, c))
          corpus = snap.select(
            graft.functions.VectorExpressions.bpe_merge_step(col("t"), a, b).as("t"))
        case None =>
          corpus = snap
          exhausted = true
      }
      step += 1
    }
    (merges.result(), corpus, prev.get)
  }

  private def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    val (merges, _, last) = bpeLearn(s, dir)
    last.unpersist()
    import s.implicits._
    merges.toDF("step", "left", "right", "n_pairs")
      .orderBy(col("step"))
  }

  /** The BPE APPLY path: re-learn the 6 merges (bpe_train's loop —
    * nothing precomputed), rewrite the whole corpus through the
    * merge-step kernel chain, and report the compression the learned
    * table buys: token totals before/after and how many emitted
    * tokens are merge products. The stats pass is ONE aggregate over
    * the kernel projection (plus a 1-row broadcast of the pre-merge
    * total); at 100 TB this is the shape of the real tokenizer-apply
    * job — map-only rewrite, no shuffle of the text.
    */
  private def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val (_, corpus, last) = bpeLearn(s, dir)
    val before = t(s, dir, "documents")
      .filter(trim(col("text")) =!= "")
      .agg(sum(size(Dedup.tokens(col("text")))).cast("long").as("tokens_before"))
    val out = corpus
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("t"))).cast("long").as("tokens_after"),
        sum(size(filter(col("t"), x => x.contains("+")))).cast("long")
          .as("merged_tokens"))
      .crossJoin(broadcast(before))
      .select(col("n_docs"), col("tokens_before"), col("tokens_after"),
        col("merged_tokens"))
      .localCheckpoint() // materialize before unpersisting the chain
    last.unpersist()
    out
  }

  /** Diversity-aware curation: ONE best-quality document per
    * embedding-space cluster — the cheap distributed surrogate for
    * maximal-marginal-relevance selection (greedy MMR is inherently
    * sequential; per-cluster argmax parallelizes and caps redundancy
    * structurally, since two picks can never share a cluster). The
    * cluster key is the deterministic IVF coarse assignment (32
    * lowest-id seed centroids, argmax cosine, tie lowest cid) and the
    * quality is the hashed-linear model ([[qualityClassifier]]'s
    * bit-identical closed form), so DuckDB replays the WHOLE entry —
    * assignment included — from scratch: no contract booleans, a full
    * value match. Shape at 100 TB: one broadcast-centroid map pass,
    * one map-only scoring pass, one co-partitioned equi-join on the
    * doc id, one grouped argmax.
    */
  private def diverseSample(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    import graft.functions.VectorExpressions
    val prep = Similarity.prepared(t(s, dir, "embeddings"), "vec_id",
      "embedding")
    val (assign, _) = Similarity.ivfIndex(prep, nlist = 32, refineIters = 0)
    val toks = split(trim(lower(col("text"))), "\\s+")
    val ws = transform(toks, tk =>
      shiftrightunsigned(VectorExpressions.md5_lower64(tk), 3)
        .bitwiseAND(lit(4095L)).cast("double"))
    val meanW = aggregate(ws, lit(0.0), (acc, x) => acc + x) /
      size(toks).cast("double")
    val z = (meanW / lit(2048.0) - lit(1.0)) * lit(6.0)
    val score = round(lit(0.5) + lit(0.5) * col("z") / (lit(1.0) + abs(col("z"))), 4)
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), z.as("z"))
      .select(col("doc_id"), score.as("score"))
    assign.join(scored, col("id") === col("doc_id"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_in_cluster"),
        max_by(col("doc_id"),
          struct(col("score"), (-col("doc_id")).as("tb"))).as("pick"),
        round(max(col("score")), 4).as("best_score"))
      .orderBy(col("cid"))
  }

  /** Token-budget corpus packing: the "give me the best B tokens"
    * curation step — score every document with the hashed linear
    * quality model ([[qualityClassifier]]'s bit-identical closed
    * form), order by score descending (doc_id tie-break), and
    * greedily keep every document whose inclusive running token
    * count stays within a global budget (40% of corpus tokens here,
    * so the cut binds at every SF). The running count over a GLOBAL
    * order is the trap: a partition-less window serializes the
    * corpus through one task, so this uses
    * [[graft.operators.GlobalRank.withPrefixSum]] — range-partitioned
    * sort + the native two-pass PrefixScanExec. Shape at 100 TB: one
    * map-only scoring pass, one range shuffle (what any global sort
    * costs), the O(#partitions) offsets job, a map-side filter, one
    * aggregate. The budget itself is integer arithmetic (total*2/5)
    * so both engines compute it exactly.
    */
  private def tokenBudgetPack(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GlobalRank
    import graft.functions.VectorExpressions
    val toks = split(trim(lower(col("text"))), "\\s+")
    val ws = transform(toks, tk =>
      shiftrightunsigned(VectorExpressions.md5_lower64(tk), 3)
        .bitwiseAND(lit(4095L)).cast("double"))
    val meanW = aggregate(ws, lit(0.0), (acc, x) => acc + x) /
      size(toks).cast("double")
    val z = (meanW / lit(2048.0) - lit(1.0)) * lit(6.0)
    // same two-projection split as qualityClassifier: z feeds the
    // sigmoid twice, so materialize it once per doc
    val score = round(lit(0.5) + lit(0.5) * col("z") / (lit(1.0) + abs(col("z"))), 4)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), z.as("z"),
        size(toks).cast("long").as("ntoks"))
      .select(col("doc_id"), score.as("score"), col("ntoks"))
    // single-row aggregate to the driver: the budget is a scalar knob
    val total = docs.agg(sum(col("ntoks"))).collect()(0).getLong(0)
    val budget = total * 2 / 5
    val kept = (col("excl") + col("ntoks")) <= lit(budget)
    GlobalRank.withPrefixSum(docs,
        Seq(col("score").desc, col("doc_id")), col("ntoks"), "excl")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        lit(total).as("tokens_total"),
        lit(budget).as("budget"),
        sum(when(kept, col("ntoks")).otherwise(0L)).as("tokens_kept"),
        min(when(kept, col("score"))).as("min_kept_score"),
        max(when(!kept, col("score"))).as("max_dropped_score"))
  }

  /** Fact-fact join over BUCKETED twins of orders and lineitem — the
    * storage-layout scale pattern: both sides too big to broadcast at
    * the design point, so a plain join shuffles both corpora on every
    * run; the bucketed layout ([[graft.sources.BucketedLayout]]) pays
    * that shuffle once at write time and this whole plan — sort-merge
    * join, revenue aggregation grouped BY the bucket key, global
    * top-100 — runs with ZERO exchanges (PlanSpec pins it: no
    * ShuffleExchange anywhere; the top-100 is a TakeOrderedAndProject,
    * local top-k + driver merge, not a sort shuffle). The merge hint
    * only pre-empts the broadcast the optimizer would pick at TEST
    * scale (a few MB); at the design point sort-merge is what
    * JoinSelection picks unhinted, and the exchange elision is the
    * point. ORACLE: plain SQL join+group+top-100 — the layout must
    * never change results, only plans.
    */
  private def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.BucketedLayout
    val o = BucketedLayout.bucketedTable(s, dir, "orders", "o_orderkey", 8)
    val l = BucketedLayout.bucketedTable(s, dir, "lineitem", "l_orderkey", 8)
    o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_custkey"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Gopher-style repetition quality signal: the duplicate-trigram
    * ratio (1 - distinct/total 3-gram occurrences) per doc flags
    * boilerplate/looping text. Shape: codegen'd position explode +
    * two map-side-combined aggregates — NOT the tempting per-doc
    * `array_distinct(transform(...))`, whose interpreted lambdas cost
    * ~4x on this corpus (the minhash/winnow lesson again).
    */
  private def q49Repetition(s: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    val base = graft.operators.Par.spread(t(s, dir, "documents"))
      .filter(size(toks) >= 3)
      .select(col("doc_id"), (size(toks) - 2).as("nt"), toks.as("toks"))
    val grams = base
      .select(col("doc_id"), col("nt"),
        explode(sequence(lit(0), col("nt") - 1)).as("i"), col("toks"))
      .select(col("doc_id"), col("nt"),
        concat_ws(" ", slice(col("toks"), col("i") + 1, lit(3))).as("g"))
    val perDoc = grams.groupBy(col("doc_id"), col("g"))
      .agg(first(col("nt")).as("nt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nd"), first(col("nt")).as("nt"))
    perDoc.select(col("doc_id"),
        (lit(1.0) - col("nd").cast("double") / col("nt").cast("double")).as("dup_ratio"))
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("dup_ratio")), 4).as("avg_dup_ratio"),
        sum(when(col("dup_ratio") > 0.2, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy(col("bucket"))
  }

  /** PII scrubbing: deterministic emails/phones are INJECTED into a
    * slice of the corpus (doc_id-derived, so the oracle predicts
    * them), then redacted by pattern; the query reports per-bucket
    * injection/redaction counts and proves zero survivors. Redaction
    * is one codegen'd regexp_replace pass over the scan.
    */
  private def q50PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val injected = t(s, dir, "documents").select(d.as("doc_id"),
      when(d % 7 === 0,
        concat(col("text"), lit(" contact user"), d.cast("string"), lit("@mail.example now")))
        .when(d % 7 === 3,
          concat(lit("call 555-01"), lpad((d % 100).cast("string"), 2, "0"),
            lit("-"), lpad((d % 10000).cast("string"), 4, "0"), lit(" "), col("text")))
        .otherwise(col("text")).as("text"))
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phonePat = "\\d{3}-\\d{4,6}-\\d{4}"
    val scrubbed = injected.select(col("doc_id"),
      regexp_count(col("text"), lit(emailPat)).as("n_emails"),
      regexp_count(col("text"), lit(phonePat)).as("n_phones"),
      regexp_replace(regexp_replace(col("text"), emailPat, "<EMAIL>"),
        phonePat, "<PHONE>").as("clean"))
    scrubbed.groupBy((col("doc_id") % 10).as("bucket"))
      .agg(sum(col("n_emails")).cast("long").as("n_emails"),
        sum(col("n_phones")).cast("long").as("n_phones"),
        sum(regexp_count(col("clean"), lit(emailPat)) +
          regexp_count(col("clean"), lit(phonePat))).cast("long").as("n_survivors"),
        sum(regexp_count(col("clean"), lit("<EMAIL>|<PHONE>"))).cast("long")
          .as("n_redactions"))
      .orderBy(col("bucket"))
  }

  /** Statistical quality filter: each doc's fraction of RARE tokens
    * (corpus frequency <= 2) — the CCNet-style "unusual vocabulary"
    * signal with exact integer counting (no float LM scores to
    * hash-mismatch). The corpus frequency table and the scoring join
    * shuffle on the same token key, so the exploded token exchange is
    * computed once and reused.
    */
  private def q51RareTokenRatio(s: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    val tok = t(s, dir, "documents").select(col("doc_id"), explode(toks).as("tok"))
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val perDoc = tok.join(freq, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cnt") <= 2, 1L).otherwise(0L)).as("n_rare"))
    perDoc
      .select(col("doc_id"),
        (col("n_rare").cast("double") / col("n_tokens")).as("ratio"))
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("ratio")), 4).as("avg_rare_ratio"),
        sum(when(col("ratio") > 0.5, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy(col("bucket"))
  }

  /** CCNet-style unigram-LM quality signal: train an add-one-smoothed
    * unigram model ON the corpus itself (token frequencies — the same
    * one-shuffle token exchange as q51), score every doc by average
    * negative log2-probability (bits/token, the perplexity exponent),
    * flag high-perplexity docs. Corpus totals (N, |V|) ride in via a
    * broadcast 1-row crossJoin — no driver-side count() job. At 100 TB
    * the freq table is vocabulary-sized (millions of rows, not
    * corpus-sized) and broadcastable; everything else is map-side work
    * plus one doc_id-keyed aggregation.
    */
  private def unigramLmQuality(s: SparkSession, dir: String): DataFrame = {
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val totals = freq.agg(
      sum(col("cnt")).cast("double").as("n_total"),
      count(lit(1)).cast("double").as("n_vocab"))
    val bits = col("nll") / col("n_tokens")
    // The threshold compare quantizes bits/token to 6 dp first: the raw
    // sum of -log2 terms is order-dependent under partial aggregation,
    // and a doc landing within float-jitter of 5.2 must not flip between
    // runs (or vs the oracle, which rounds identically).
    tok.join(freq, Seq("tok"))
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(-log2((col("cnt") + 1).cast("double") /
          (col("n_total") + col("n_vocab")))).as("nll"))
      .groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(bits), 4).as("avg_bits_per_token"),
        sum(when(round(bits, 6) > 5.2, 1L).otherwise(0L)).as("n_high_ppl"))
      .orderBy(col("bucket"))
  }

  /** EXACT top-k frequent tokens via a Misra-Gries candidate pass:
    * the [[org.apache.spark.sql.graft.MisraGriesAgg]] sketch (k=256
    * counters, mergeable) produces a guaranteed SUPERSET of every
    * token with frequency > N/257; the exact count then runs
    * restricted to those candidates through a broadcast semi-join. Two
    * scans, but the groupBy shuffles at most 256 keys — an
    * unrestricted top-k would shuffle the entire vocabulary, the thing
    * that dies first on a 100 TB web corpus. The result is EXACT
    * whenever the rank-k count clears the sketch bound (spec-pinned
    * here; at this corpus the margin is ~9x), so the DuckDB oracle is
    * the plain exact top-10.
    */
  private def heavyHittersTopK(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graft.FreqSketchApi.misra_gries
    val tok = t(s, dir, "documents")
      .select(explode(Dedup.tokens(col("text"))).as("tok"))
    val cand = tok.agg(misra_gries(col("tok"), 256).as("cands"))
      .select(explode(col("cands")).as("tok"))
    tok.join(broadcast(cand), Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(10)
  }

  /** Exact-substring dedup signal (Lee et al. ACL 2022 shape): maximal
    * cross-document duplicated spans from stride-1 10-token window
    * fingerprints ([[graft.operators.Curation.duplicateSpans]]),
    * summarized per doc_id bucket. The island-merge window is
    * per-doc, the duplicated-window frame is the post-filter minority
    * — no global sort anywhere.
    */
  private def duplicateSpansQuery(s: SparkSession, dir: String): DataFrame = {
    val spans = graft.operators.Curation.duplicateSpans(
      t(s, dir, "documents"), "doc_id", "text", n = 10)
    spans.groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count_distinct(col("doc_id")).as("n_docs_with_dups"),
        count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).as("dup_tokens"),
        max(col("span_tokens")).cast("long").as("max_span_tokens"))
      .orderBy(col("bucket"))
  }

  /** The sampled-stride twin of [[duplicateSpansQuery]] — the
    * documented 100 TB knob ([[graft.operators.Curation
    * .duplicateSpansSampled]]), measurable at scale: content-defined
    * mod-8 window sampling cuts the dup-content exchange ~8x while
    * every reported span stays a true duplicate (the DuckDB oracle
    * recomputes the identical keep decision from the same md5 prefix).
    */
  private def duplicateSpansSampledQuery(s: SparkSession, dir: String): DataFrame = {
    val spans = graft.operators.Curation.duplicateSpansSampled(
      t(s, dir, "documents"), "doc_id", "text", n = 10, sampleMod = 8)
    spans.groupBy((col("doc_id") % 10).as("bucket"))
      .agg(count_distinct(col("doc_id")).as("n_docs_with_dups"),
        count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).as("dup_tokens"),
        max(col("span_tokens")).cast("long").as("max_span_tokens"))
      .orderBy(col("bucket"))
  }

  /** Tokenizer vocabulary induction: corpus token frequencies ranked
    * into contiguous 0-based vocab ids (count desc, token asc — the
    * standard "most frequent token gets the smallest id" layout).
    * The ranking runs over the VOCABULARY-sized frequency table, not
    * the corpus, through [[graft.operators.GlobalRank]]'s
    * range-partitioned sort + zipWithIndex — a bare
    * `row_number() over (order by cnt desc)` would drag every distinct
    * token through a single task, which at web-corpus vocabulary sizes
    * (hundreds of millions of distinct tokens) is the same
    * single-partition-window killer GlobalRank exists to avoid.
    */
  private def vocabBuild(s: SparkSession, dir: String): DataFrame = {
    val freq = t(s, dir, "documents")
      .select(explode(Dedup.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    graft.operators.GlobalRank.withGlobalIndex(
        freq, Seq(col("cnt").desc, col("tok")), "vocab_id")
      .select(col("vocab_id"), col("tok"), col("cnt"))
      .orderBy(col("vocab_id"))
  }

  /** k-NN label vote: classify the first 10 vectors against the rest
    * of the labeled embedding corpus — brute-force cosine (native
    * codegen'd kernel) against a BROADCAST query set, top-5 neighbors
    * per query via the bounded-heap TopKPerKey physical operator (no
    * sort, no single-task window), majority vote with deterministic
    * ties (most votes, then lowest label). The corpus never shuffles:
    * scores are map-side, the heap state is 10 keys x 5 rows.
    */
  private def knnClassify(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    import org.apache.spark.sql.graft.TopKPerKeyApi
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        col("label"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.filter(col("vec_id") >= 10)
      .crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"), col("label"),
        Similarity.cosine(col("v"), col("qv")).as("sim"))
    val top = TopKPerKeyApi.topKPerKey(scored,
      keyNames = Seq("qid"),
      order = Seq("sim" -> false, "vec_id" -> true),
      k = 5)
    val votes = top.groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"))
    votes
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("votes").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("qid"), col("label").cast("long").as("pred_label"),
        col("votes"))
      .orderBy(col("qid"))
  }

  /** Corpus snapshot diff — the bookkeeping pass every incremental
    * ingestion runs: what changed between the previous crawl/export
    * and this one, per doc id, so only `added`+`changed` docs flow
    * into the expensive re-embed/re-dedup stages. The previous
    * snapshot is SYNTHESIZED deterministically from the same table
    * (DuckDB replays it exactly): docs with id % 11 = 3 are absent
    * from prev (-> added), id % 7 = 2 carried drifted text
    * (-> changed), and prev-only tombstone rows with negated ids
    * simulate deletions (-> removed). Only (id, md5) ever shuffles —
    * see [[graft.operators.Curation.snapshotDiff]].
    */
  private def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    val docs = t(s, dir, "documents")
    val cur = docs.select(col("doc_id"), col("text"))
    val prev = docs.filter(col("doc_id") % 11 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 2, concat(col("text"), lit(" v1")))
          .otherwise(col("text")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 17 === 4)
        .select((-col("doc_id") - 1).as("doc_id"), col("text")))
    Curation.snapshotDiff(cur, prev, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** End-to-end corpus-curation funnel (the exact-stage training-data
    * shape): quality gate -> fingerprint dedup (canonical keep = min
    * doc_id, deterministic) -> stable hash split. One row of stage
    * counts; the LSH near-dup variant of the same funnel is
    * dedup_corpus.
    */
  private def corpusFunnel(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val quality = docs.filter(
      size(split(trim(col("text")), "\\s+")) >= 5 && col("n_chars") >= 30)
    val uniq = quality.groupBy(md5(normText).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
    val split2 = uniq.select(
      TextOps.stableSplit(col("doc_id")).as("split"))
    docs.agg(count(lit(1)).as("n_total"))
      .crossJoin(quality.agg(count(lit(1)).as("n_quality")))
      .crossJoin(uniq.agg(count(lit(1)).as("n_unique")))
      .crossJoin(split2.agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test")))
  }

  /** ANSI-mode safety battery: try_cast coerce-or-null on ints, longs,
    * doubles, and dates (fractional-string-to-int deliberately avoided
    * — engines disagree on round-vs-reject).
    */
  private def q43TryCast(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val cell = when(k % 4 === 0, concat(k.cast("string")))
      .when(k % 4 === 1, lit("abc"))
      .when(k % 4 === 2, concat((k % 100).cast("string"), lit(".25")))
      .otherwise(lit(""))
    // integer cell has no fractional strings: DuckDB truncates
    // '2.25'->2 where Spark's ANSI try_cast rejects to NULL
    val intCell = when(k % 3 === 0, concat(k.cast("string")))
      .when(k % 3 === 1, lit("xyz"))
      .otherwise(lit(""))
    val dateCell = when(k % 3 === 0, lit("2020-01-15"))
      .when(k % 3 === 1, lit("2020-13-01")) // invalid month
      .otherwise(lit("nope"))
    t(s, dir, "part").filter(k < 2000)
      .select(k.as("p_partkey"),
        intCell.try_cast("long").as("as_long"),
        cell.try_cast("double").as("as_double"),
        dateCell.try_cast("date").cast("string").as("as_date"),
        coalesce(cell.try_cast("double"), lit(-1.0)).as("coerced"))
      .orderBy(k)
  }

  /** Null-handling battery: coalesce / nullif / nvl2-style branching /
    * null-safe equality (Spark `<=>` == DuckDB IS NOT DISTINCT FROM).
    */
  private def q39NullFns(s: SparkSession, dir: String): DataFrame = {
    val k = col("p_partkey")
    val a = when(k % 3 === 0, lit(null).cast("long")).otherwise(k % 7)
    val b = when(k % 5 === 0, lit(null).cast("long")).otherwise(k % 7)
    t(s, dir, "part").filter(k < 2000)
      .select(k.as("p_partkey"),
        coalesce(a, b, lit(-1L)).as("first_present"),
        nullif(a, b).as("null_if_equal"),
        when(a.isNotNull, lit("has_a")).otherwise(lit("no_a")).as("nvl2_style"),
        (a <=> b).as("null_safe_eq"),
        (a.isNull && b.isNull).as("both_null"))
      .orderBy(k)
  }

  /** Bag-semantics set ops: UNION ALL / EXCEPT ALL / INTERSECT ALL
    * keep duplicates — counts differ from the distinct variants (q8)
    * exactly by multiplicity.
    */
  private def q40SetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val sn = t(s, dir, "supplier").select((col("s_nationkey") % 10).as("nk"))
    val cn = t(s, dir, "customer").select((col("c_nationkey") % 10).as("nk"))
    sn.unionAll(cn).agg(count(lit(1)).as("n_union_all"))
      .crossJoin(sn.exceptAll(cn).agg(count(lit(1)).as("n_except_all")))
      .crossJoin(sn.intersectAll(cn).agg(count(lit(1)).as("n_intersect_all")))
  }

  /** Higher-order lambda battery: transform / filter / aggregate /
    * zip_with / exists / forall over token arrays.
    */
  private def q41HigherOrder(s: SparkSession, dir: String): DataFrame = {
    val toks = Dedup.tokens(col("text"))
    t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"),
        aggregate(transform(toks, tk => length(tk)), lit(0),
          (acc, x) => acc + x).as("sum_tok_len"),
        size(filter(toks, tk => length(tk) > 4)).as("n_long_toks"),
        exists(toks, tk => tk === "the").as("has_the"),
        forall(toks, tk => length(tk) < 20).as("all_short"),
        aggregate(zip_with(toks, reverse(toks), (x, y) => (x === y).cast("int")),
          lit(0), (acc, x) => acc + x).as("n_palindrome_pos"))
      .orderBy(col("doc_id"))
  }

  /** Date arithmetic battery: date_add / datediff / month-boundary
    * arithmetic / trunc / last_day / quarter over order dates.
    * (months_between and weekday numbering are deliberately avoided —
    * Spark and DuckDB disagree on fractional-month semantics and the
    * weekday origin.)
    */
  private def q42DateArithmetic(s: SparkSession, dir: String): DataFrame = {
    val d = to_date(col("o_orderdate"))
    t(s, dir, "orders").filter(col("o_orderkey") < 5000)
      .select(col("o_orderkey"),
        date_add(d, 30).cast("string").as("plus_30d"),
        datediff(lit("1998-01-01").cast("date"), d).as("days_to_98"),
        ((lit(1998) - year(d)) * 12 + (lit(1) - month(d))).as("months_to_98"),
        trunc(d, "month").cast("string").as("month_start"),
        last_day(d).cast("string").as("month_end"),
        quarter(d).as("q"))
      .orderBy(col("o_orderkey"))
  }

  /** BPE-style pre-tokenization (the GPT-2 pre-tokenizer shape:
    * contraction suffixes, space-prefixed letter runs, digit runs,
    * punctuation runs) — the token-counting pass a training pipeline
    * runs before byte-pair merges. Same regex on both engines.
    */
  private def bpeTokenStats(s: SparkSession, dir: String): DataFrame = {
    val pat = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\\sa-z0-9]+"
    t(s, dir, "documents")
      .select((col("doc_id") % 10).as("bucket"), col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit(pat), lit(0))).as("tok"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_uniq_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(length(col("tok"))).cast("bigint").as("sum_tok_chars"))
      .orderBy(col("bucket"))
  }

  /** Approximate-percentile sketch vs exact. ORACLE-BACKED: the sketch
    * value is engine-specific, so the entry emits the EXACT
    * percentiles (hash-verified against DuckDB) plus `within_bound`
    * booleans encoding the sketch's rank-error contract — accuracy
    * 1000 guarantees rank error <= n/1000, far inside ±0.01 quantile,
    * so the approximate value must land between the exact quantiles at
    * q∓0.01. DuckDB asserts the booleans as TRUE; a sketch outside its
    * rank bound flips them and fails the hash gate.
    */
  private def approxPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").agg(
      round(expr("percentile(value, 0.5)"), 4).as("p50_exact"),
      round(expr("percentile(value, 0.99)"), 4).as("p99_exact"),
      expr("approx_percentile(value, 0.5, 1000)")
        .between(expr("percentile(value, 0.49)"), expr("percentile(value, 0.51)"))
        .as("p50_within_bound"),
      expr("approx_percentile(value, 0.99, 1000)")
        .between(expr("percentile(value, 0.98)"), expr("percentile(value, 1.0)"))
        .as("p99_within_bound"))

  /** SQL subquery battery via spark.sql: EXISTS, IN, NOT IN — with
    * the three-valued NOT-IN-with-NULLs trap pinned to the standard
    * answer (zero rows) on both engines — and a scalar subquery.
    */
  private def q46Subqueries(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_v")
    t(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql("""
      SELECT
        (SELECT count(*) FROM customer_v c WHERE EXISTS
          (SELECT 1 FROM orders_v o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000))
          AS n_big_customers,
        (SELECT count(*) FROM customer_v WHERE c_custkey IN
          (SELECT o_custkey FROM orders_v WHERE o_orderstatus = 'F'))
          AS n_f_customers,
        (SELECT count(*) FROM customer_v WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders_v WHERE o_orderstatus = 'F'))
          AS n_not_f,
        (SELECT count(*) FROM customer_v WHERE c_custkey NOT IN
          (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END
           FROM orders_v)) AS n_not_in_with_nulls,
        (SELECT round(max(o_totalprice), 2) FROM orders_v) AS max_price
    """)
  }

  /** Typed Aggregator (Dataset-native UDAF): Welford single-pass
    * variance per event type, checked against var_samp — the typed
    * entry point of the §2.10 UDAF matrix.
    */
  private def q45TypedAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TypedAggs
    t(s, dir, "events")
      .select(col("event_type"), col("value"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .agg(new TypedAggs.WelfordVarianceOf[(String, Double)](_._2)
        .toColumn.name("var"))
      .select(col("key").as("event_type"), round(col("var"), 4).as("var_value"))
      .orderBy(col("event_type"))
  }

  /** Fuzzy string join (edit distance <= 1) via the deletion-
    * neighborhood equi-join — matched against DuckDB's brute-force
    * levenshtein join, proving the blocking is lossless.
    */
  private def fuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.FuzzyJoin
    val a = t(s, dir, "part")
      .select(split(col("p_name"), " ").getItem(0).as("s")).distinct()
    val b = a.select(
      when(length(col("s")) > 3, col("s").substr(lit(1), length(col("s")) - 1))
        .otherwise(col("s")).as("t")).distinct()
    FuzzyJoin.levenshtein1Join(a, "s", b, "t")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("s")).as("n_left_matched"),
        countDistinct(col("t")).as("n_right_matched"))
  }

  /** Int8-quantized cosine top-10. ORACLE-BACKED: unlike the
    * hash-derived ANN paths, the quantization is CLOSED-FORM
    * arithmetic (max-abs scale, round-half-away-from-zero, cosine in
    * the quantized domain), and the quantized dot products are exact
    * integers well inside double precision — DuckDB reproduces the
    * rounded similarities bit-for-bit. SimilaritySpec additionally
    * bounds the quantization error and recall vs the float path.
    */
  private def annQuantizedTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    Similarity.quantizedTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10)
  }

  /** Product-quantization ANN top-10 (Jegou et al. 2011): sampled
    * per-subspace codebooks, map-only encode to m=16 codes + a stored
    * norm (~16x memory shrink at dim 64), ADC table-lookup scan,
    * exact rerank of the top ~4*sqrt(N) candidates (the sqrt scaling
    * tracks boundary crowding as the corpus grows — a fixed rerank
    * measured recall_ok=false at 10x). Same recall contract as the
    * IVF/LSH entries ([[annRecallSummary]], recall@10 >= 0.7
    * asserted; the exact-side stats are recomputed by DuckDB).
    */
  private def annPqTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val ann = Similarity.pqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, m = 16, ksub = 64, iters = 2)
    annRecallSummary(exactTop10(s, dir), ann, k = 10, minHits = 7)
  }

  /** IVF-PQ (IVFADC, Jegou et al. 2011 §IV) — the composition of the
    * two proven index halves into the public billion-vector shape:
    * coarse IVF lists bound how much of the corpus is SCANNED
    * (nprobe/nlist), PQ residual codes bound the BYTES per scanned
    * vector (~m bytes + a norm vs 4*d floats); the two pruning levers
    * multiply. One ADC table serves every probed list because
    * <q,v> = <q,c_list> + <q,residual> (the per-list term is a
    * literal-map lookup), so the scan is m lookups+adds per candidate
    * with no vector arithmetic. Same recall contract and oracle as the
    * sibling ANN entries: exact-side stats recomputed by DuckDB,
    * recall@10 >= 0.7 asserted TRUE in-plan.
    */
  private def annIvfPqTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val ann = Similarity.ivfPqTopK(t(s, dir, "embeddings"), "vec_id",
      "embedding", queryId = 0L, k = 10, nlist = 32, nprobe = 8,
      m = 16, ksub = 64, iters = 2)
    annRecallSummary(exactTop10(s, dir), ann, k = 10, minHits = 7)
  }

  /** WARM-path IVF-PQ: the full persisted-index production shape —
    * centroids, assignment, trained codebooks, and the encoded
    * residual codes are a [[graft.sources.WarmStore]] parquet artifact
    * built ONCE per corpus, with the encoded frame written PARTITIONED
    * BY cid so each probe's `isin` over nprobe list ids is PARTITION
    * PRUNING (the scan never opens the other nlist-nprobe lists'
    * files — the on-disk analogue of an inverted file). Each query
    * pays only [[graft.operators.Similarity.ivfPqSearch]]: driver ADC
    * table + the pruned m-lookups-per-candidate scan + exact rerank.
    * Deterministic seeds -> identical index -> identical answers to
    * the cold entry (same contract, same oracle).
    */
  private def annIvfPqWarm(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    import graft.sources.WarmStore
    val prep = Similarity.prepared(t(s, dir, "embeddings"), "vec_id",
      "embedding")
    val (store, ready) = WarmStore.resolve(dir, "embeddings",
      "graft_ivfpq_idx_", extraKey = "nl32_m16_k64_i2",
      successMarker = "_READY")
    if (!ready)
      WarmStore.publish(store, extraKey = "nl32_m16_k64_i2") { tmp =>
        val (cents, assign, cb, encoded) = Similarity.ivfPqIndex(prep,
          nlist = 32, m = 16, ksub = 64, iters = 2)
        cents.write.mode("overwrite")
          .parquet(tmp.resolve("centroids").toString)
        assign.write.mode("overwrite")
          .parquet(tmp.resolve("assign").toString)
        encoded.write.mode("overwrite").partitionBy("cid")
          .parquet(tmp.resolve("encoded").toString)
        Similarity.codebookToDf(s, cb).write.mode("overwrite")
          .parquet(tmp.resolve("codebook").toString)
        java.nio.file.Files.writeString(tmp.resolve("_READY"), "ok")
      }
    WarmStore.markSource(store, dir)
    val cb = Similarity.codebookFromDf(
      s.read.parquet(store.resolve("codebook").toString))
    val encoded = s.read.parquet(store.resolve("encoded").toString)
      .select(col("id"), col("cid").cast("long").as("cid"), col("codes"),
        col("norm"))
    val cents = s.read.parquet(store.resolve("centroids").toString)
    val n = prep.count()
    val ann = Similarity.ivfPqSearch(prep, encoded, cents, cb,
      queryId = 0L, k = 10, nprobe = 8,
      rerank = math.max(100, (4.0 * math.sqrt(n.toDouble)).ceil.toInt))
    annRecallSummary(exactTop10(s, dir), ann, k = 10, minHits = 7)
  }

  /** Bloom-pruned join: lineitem rows are pre-filtered by a broadcast
    * Bloom filter over the high-value order keys before the exact
    * join — shuffle volume scales with matches, not corpus. Exact
    * despite Bloom false positives, so the oracle is the plain join.
    */
  private def q38BloomJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.BloomJoin
    val hi = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey"), col("o_orderdate"))
    BloomJoin.join(t(s, dir, "lineitem"), hi, "l_orderkey", "o_orderkey")
      .groupBy(year(col("o_orderdate")).as("y"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("y"))
  }

  /** IVF ANN top-10. ORACLE-BACKED since round 9 via the
    * [[annRecallSummary]] contract (the centroid assignment itself has
    * no SQL equivalent; the exact-side stats are recomputed by DuckDB
    * and recall@10 >= 0.7 is asserted TRUE — observed 0.8-1.0 across
    * SFs; SimilaritySpec keeps the structural subset/recall pins).
    */
  private def annIvfTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val ann = Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10, nlist = 32, nprobe = 8)
    annRecallSummary(exactTop10(s, dir), ann, k = 10, minHits = 7)
  }

  /** WARM-path IVF ANN: the production shape for a 100 TB similarity
    * service — the index (centroid table + per-vector assignment) is a
    * PERSISTED artifact built once per corpus via [[graft.sources
    * .WarmStore]] (content-fingerprint keyed, parquet), and each
    * query batch pays only [[graft.operators.Similarity.ivfProbe]]:
    * one broadcast centroid ranking plus the semi-join-pruned exact
    * rerank of ~nprobe/nlist of the corpus. The cold `ann_ivf_topk`
    * entry, which rebuilds the k-means index every run, measures the
    * bootstrap cost instead. Same query, same contract, same oracle as
    * the cold entry; no refineIters drift is possible because the warm
    * probe reads the exact index the cold build wrote.
    */
  private def annIvfWarm(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    import graft.sources.WarmStore
    val prep = Similarity.prepared(t(s, dir, "embeddings"), "vec_id", "embedding")
    val (store, ready) = WarmStore.resolve(dir, "embeddings",
      "graft_ivf_idx_", extraKey = "nlist32_ri0", successMarker = "_READY")
    if (!ready)
      // same index parameters as the cold entry (nlist=32, seed
      // centroids), so the probe result — and the contract margins —
      // are identical to ann_ivf_topk's (SimilaritySpec pins equality).
      // Atomic publish: a racing JVM's loser build is discarded whole.
      WarmStore.publish(store, extraKey = "nlist32_ri0") { tmp =>
        val (assign, centroids) = Similarity.ivfIndex(prep, nlist = 32,
          refineIters = 0)
        centroids.write.mode("overwrite")
          .parquet(tmp.resolve("centroids").toString)
        assign.write.mode("overwrite")
          .parquet(tmp.resolve("assign").toString)
        java.nio.file.Files.writeString(tmp.resolve("_READY"), "ok")
      }
    WarmStore.markSource(store, dir)
    val ann = Similarity.ivfProbe(prep,
      s.read.parquet(store.resolve("assign").toString),
      s.read.parquet(store.resolve("centroids").toString),
      queryId = 0L, k = 10, nprobe = 8)
    annRecallSummary(exactTop10(s, dir), ann, k = 10, minHits = 7)
  }

  /** WARM-path BATCH IVF ANN — the amortized production shape: at
    * sf10 the cold batch entry's dominant term is the 2-iteration
    * k-means refine (~8.8 s of 12.4 s operator
    * wall; BASELINE.md round 12), work a similarity service pays ONCE
    * per corpus, not per batch. The TRAINED index (k-means centroids +
    * assignment, same nlist=32 / refineIters=2 as the cold entry) is a
    * [[graft.sources.WarmStore]] parquet artifact; each batch pays only
    * [[graft.operators.Similarity.ivfSearchBatch]] — broadcast centroid
    * ranking + the semi-join-pruned rerank of ~nprobe/nlist of the
    * corpus. Same query set, same recall contract, same oracle as the
    * cold batch entry (Lloyd from deterministic seeds -> identical
    * index, identical answers).
    */
  private def annIvfBatchWarm(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    import graft.sources.WarmStore
    val e = t(s, dir, "embeddings")
    val prep = Similarity.prepared(e, "vec_id", "embedding")
    val (store, ready) = WarmStore.resolve(dir, "embeddings",
      "graft_ivf_idx_", extraKey = "nlist32_ri2", successMarker = "_READY")
    if (!ready)
      WarmStore.publish(store, extraKey = "nlist32_ri2") { tmp =>
        val (assign, centroids) = Similarity.ivfIndex(prep, nlist = 32,
          refineIters = 2)
        centroids.write.mode("overwrite")
          .parquet(tmp.resolve("centroids").toString)
        assign.write.mode("overwrite")
          .parquet(tmp.resolve("assign").toString)
        java.nio.file.Files.writeString(tmp.resolve("_READY"), "ok")
      }
    WarmStore.markSource(store, dir)
    val qids = e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"))
    val ann = Similarity.ivfSearchBatch(prep,
      s.read.parquet(store.resolve("assign").toString),
      s.read.parquet(store.resolve("centroids").toString),
      qids, k = 10, nprobe = 8)
    annRecallBatchSummary(
      Similarity.bruteTopKBatch(e, "vec_id", "embedding", qids, k = 10),
      ann, k = 10, minHitsPerQuery = 4, minMeanRecall = 0.8)
  }

  /** INCREMENTAL IVF index growth — the frozen-coarse-quantizer append
    * path every production vector service runs (new embeddings arrive
    * daily; retraining the quantizer would invalidate every persisted
    * list): the index is built and persisted over an 80% BASE corpus,
    * and the 20% increment pays ONLY a per-vector nearest-centroid
    * assignment against the FROZEN centroids — a broadcast-centroid
    * map-only pass over the new vectors, no base work, no shuffle of
    * the existing assignment — unioned onto the stored lists at probe
    * time. Because assignment is per-vector independent given the
    * centroids, the grown index is IDENTICAL to a one-shot assignment
    * of the full corpus over the same centroids (SimilaritySpec pins
    * row equality), so append never degrades the index beyond what the
    * frozen quantizer itself implies. The quantizer is TRAINED (2
    * spherical-k-means iterations over the base — a frozen quantizer
    * only earns its freeze if it was trained) and the probe widens to
    * nprobe=16 of 32: post-append queries from the increment's
    * distribution land in neighborhoods the base training never
    * centered, the exact trade a production service pays until the
    * next quantizer retrain, and the wider probe is the standard
    * compensation. Exact side covers the FULL grown corpus, so the
    * recall boolean (floor 6/10; observed 7-9 across SFs) scores the
    * appended index against post-append ground truth.
    */
  private def annIvfAppend(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    import graft.sources.WarmStore
    val all = Similarity.prepared(t(s, dir, "embeddings"), "vec_id", "embedding")
    val base = all.filter(col("id") % 5 =!= 0)
    val inc = all.filter(col("id") % 5 === 0)
    val (store, ready) = WarmStore.resolve(dir, "embeddings",
      "graft_ivf_append_", extraKey = "nlist32_ri2_base80", successMarker = "_READY")
    if (!ready)
      WarmStore.publish(store, extraKey = "nlist32_ri2_base80") { tmp =>
        val (assign, centroids) = Similarity.ivfIndex(base, nlist = 32,
          refineIters = 2)
        centroids.write.mode("overwrite")
          .parquet(tmp.resolve("centroids").toString)
        assign.write.mode("overwrite")
          .parquet(tmp.resolve("assign").toString)
        java.nio.file.Files.writeString(tmp.resolve("_READY"), "ok")
      }
    WarmStore.markSource(store, dir)
    val centroids = s.read.parquet(store.resolve("centroids").toString)
    val grown = s.read.parquet(store.resolve("assign").toString)
      .unionByName(Similarity.assignNearest(inc, centroids))
    val ann = Similarity.ivfProbe(all, grown, centroids,
      queryId = 0L, k = 10, nprobe = 16)
    annRecallSummary(exactTop10(s, dir), ann, k = 10, minHits = 6)
  }

  /** Distributed multi-workbook ingest gate (S1 scale path): 8 xlsx
    * workbooks synthesized deterministically from the `customer`
    * parquet (bucket = c_custkey % 8), read back executor-side via
    * `WorkbookSource.readWorkbooks` (binaryFile scan + per-file
    * zip/XML parse), then aggregated per source file — so DuckDB can
    * oracle the whole round trip from the same parquet. The fixture
    * collect is bounded by the custkey filter (≤ 12001 rows at any
    * SF); WorkbookFuzzSpec separately pins distributed == per-file
    * loop and the corrupt-file degradation.
    *
    * FIXTURE LOCALITY: the fixtures are written THROUGH THE HADOOP FS
    * API (FileSystem.create against a resolved URI) — here a
    * `file:`-scheme root under tmpdir, but the identical code runs
    * against hdfs:/s3a: by changing the root string, so the gate
    * itself is multi-node honest (the operator always was: any
    * Hadoop-FS URI). The fixture dir is keyed on a full SHA-256 of
    * the data dir so two concurrent gates over different dirs can
    * never collide and delete each other's files mid-write.
    */
  private def p6WorkbooksDistributed(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{WorkbookFixtures, WorkbookSource}
    val buckets = 8
    val rows = t(s, dir, "customer")
      .filter(col("c_custkey") <= 12000)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val root = new org.apache.hadoop.fs.Path(
      "file:" + System.getProperty("java.io.tmpdir"), "graft_wb_" + sha)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)
    (0 until buckets).foreach { b =>
      val grid = Seq(Seq("Customer ID", "Name", "Segment")) ++
        rows.filter(_._1 % buckets == b)
          .map(r => Seq(r._1.toString, r._2, r._3))
      WorkbookFixtures.writeXlsx(
        fs.create(new org.apache.hadoop.fs.Path(root, s"wb$b.xlsx"), true),
        Seq("Customers" -> grid))
    }
    val corpus = WorkbookSource.readWorkbooks(s, root.toString)
    corpus.sheets("customers")
      .groupBy(regexp_extract(col("source_file"), "wb(\\d+)\\.xlsx", 1)
        .cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("customer_id").cast("bigint")).as("sum_key"),
        min(col("name")).as("min_name"),
        max(col("segment")).as("max_segment"))
      .orderBy(col("bucket"))
  }

  /** Scaffold-free semantic-dedup gate: the [[semDedupQuery]] twin
    * WITHOUT the exact all-pairs oracle scaffold, so the OPERATOR is
    * runnable and gated at 100x where the scaffold's quadratic pair
    * space excludes the full entry. Every output column is linear to
    * compute: vector count, the enumerable planted-pair set (ScaleUp
    * replicas > 0), and the ≥70% planted-recall contract — DuckDB
    * recomputes the counts exactly and the contract boolean is
    * asserted TRUE (vacuous at driver SFs with no planted ids, same
    * convention as the recall contracts).
    */
  private def semDedupPlanted(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = t(s, dir, "embeddings")
    val nVec = emb.count()
    val rootN = math.max(8, math.ceil(math.sqrt(nVec.toDouble)).toInt)
    val drops = Similarity.semDedup(emb,
      "vec_id", "embedding", nlist = rootN, refineIters = 2, threshold = 0.45,
      maxCluster = math.max(graft.operators.Dedup.DefaultMaxBucket, 8 * rootN))
      .localCheckpoint()
    val stride = 1000000000L
    val embIds = emb.select(col("vec_id"))
    val planted = embIds.select(col("vec_id").as("a"))
      .filter(col("a") >= stride && pmod(pmod(col("a"), lit(stride)), lit(50)) === 0)
      .join(embIds.select(col("vec_id").as("b")), col("b") === col("a") + lit(1L))
    val dropped = drops.select(col("id")).distinct()
    planted
      .join(dropped.select(col("id").as("a"), lit(1).as("__ca")), Seq("a"), "left")
      .join(dropped.select(col("id").as("b"), lit(1).as("__cb")), Seq("b"), "left")
      .agg(count(lit(1)).as("__n_planted"),
        coalesce(sum(when(col("__ca").isNotNull || col("__cb").isNotNull, 1L)
          .otherwise(0L)), lit(0L)).as("__n_caught"))
      .select(lit(nVec).as("n_vectors"),
        col("__n_planted").as("n_planted_pairs"),
        (col("__n_planted") === 0 ||
          col("__n_caught") * 10L >= col("__n_planted") * 7L).as("planted_recall_ok"))
  }

  // ================================================================
  // Registry
  // ================================================================

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q2_revenue_filter" -> (q2Revenue _),
    "q3_nation_revenue" -> (q3NationRevenue _),
    "q4_region_year_revenue" -> (q4RegionYearRevenue _),
    "q5_top_order_per_customer" -> (q5TopOrderPerCustomer _),
    "q6_topk_parts" -> (q6TopKParts _),
    "q7_semi_anti_join" -> (q7SemiAnti _),
    "q8_set_ops" -> (q8SetOps _),
    "q9_distinct_counts" -> (q9DistinctCounts _),
    "q10_events_agg" -> (q10EventsAgg _),
    "q11_events_window" -> (q11EventsWindow _),
    "p6_genotype_pipeline" -> (p6Genotype _),
    "p6_phenotype_pipeline" -> (p6Phenotype _),
    "p6_patient_bundles" -> (p6Bundles _),
    "p6_issue_channel" -> (p6Issues _),
    "p6_scalar_fns" -> (p6ScalarFns _),
    "p6_chrom_email_hgvs" -> (p6ChromEmailHgvs _),
    "p6_header_normalize" -> (p6Headers _),
    "p6_ontology_closure" -> (p6Closure _),
    "q12_sessionize" -> (q12Sessionize _),
    "q13_session_stats" -> (q13SessionStats _),
    "q14_salted_agg" -> (q14SaltedAgg _),
    "q15_asof_join" -> (q15AsofJoin _),
    "q16_topk_per_key" -> (q16TopKPerKey _),
    "q17_range_join" -> (q17RangeJoin _),
    "q18_rollup" -> (q18Rollup _),
    "q19_pivot" -> (q19Pivot _),
    "q20_tfidf_terms" -> (q20TfidfTerms _),
    "q21_percentiles" -> (q21Percentiles _),
    "q22_stats_agg" -> (q22StatsAgg _),
    "q23_stable_split" -> (q23StableSplit _),
    "q24_json_extract" -> (q24JsonExtract _),
    "q25_cube" -> (q25Cube _),
    "q26_ntile" -> (q26Ntile _),
    "q27_datetime_agg" -> (q27DatetimeAgg _),
    "q28_collect_set" -> (q28CollectSet _),
    "q29_string_fns" -> (q29StringFns _),
    "p6_disease_pipeline" -> (p6Disease _),
    "p6_measurement_pipeline" -> (p6Measurement _),
    "p6_biosample_pipeline" -> (p6Biosample _),
    "p6_phenopacket_json" -> (p6PhenopacketJson _),
    "p6_term_checks" -> (p6TermChecks _),
    "p6_batch_validate" -> (p6BatchValidate _),
    "ngram_jaccard_hist" -> (ngramJaccardHist _),
    "minhash_neardup" -> (minhashNearDup _),
    "dedup_corpus" -> (dedupCorpus _),
    "leakage_safe_split" -> (leakageSafeSplit _),
    "dedup_increment" -> (dedupIncrementQuery _),
    "dedup_increment_warm" -> (dedupIncrementWarmQuery _),
    "simhash_buckets" -> (simhashBuckets _),
    "media_feature_stats" -> (mediaFeatureStats _),
    "media_decode" -> (mediaDecodeQuery _),
    "media_phash" -> (mediaPhash _),
    "audio_decode" -> (audioDecodeQuery _),
    "dedup_exact" -> (dedupExact _),
    "dedup_fingerprint" -> (dedupFingerprint _),
    "text_quality" -> (textQuality _),
    "quality_classifier" -> (qualityClassifier _),
    "token_stats" -> (tokenStats _),
    "lang_id" -> (langId _),
    "ann_cosine_topk" -> (annCosineTopK _),
    "ann_batch_topk" -> (annBatchTopK _),
    "ann_lsh_batch_topk" -> (annLshBatchTopK _),
    "ann_ivf_batch_topk" -> (annIvfBatchTopK _),
    "ann_lsh_topk" -> (annLshTopK _),
    "emb_neardup" -> (embNearDup _),
    "exact_cosine_pairs" -> (exactCosinePairsQuery _),
    "approx_distinct" -> (approxDistinct _),
    "q30_window_battery" -> (q30WindowBattery _),
    "q31_array_fns" -> (q31ArrayFns _),
    "q32_grouping_sets" -> (q32GroupingSets _),
    "q33_rolling_range" -> (q33RollingRange _),
    "q34_sliding_window" -> (q34SlidingWindow _),
    "q35_conditional_agg" -> (q35ConditionalAgg _),
    "q36_stratified_sample" -> (q36StratifiedSample _),
    "q37_regexp_extract" -> (q37RegexpExtract _),
    "winnow_fingerprint" -> (winnowFingerprint _),
    "ann_ivf_topk" -> (annIvfTopK _),
    "ann_ivf_warm" -> (annIvfWarm _),
    "ann_ivf_batch_warm" -> (annIvfBatchWarm _),
    "ann_ivf_append" -> (annIvfAppend _),
    "q38_bloom_join" -> (q38BloomJoin _),
    "bpe_token_stats" -> (bpeTokenStats _),
    "approx_percentiles" -> (approxPercentiles _),
    "q39_null_fns" -> (q39NullFns _),
    "q40_set_ops_all" -> (q40SetOpsAll _),
    "q41_higher_order" -> (q41HigherOrder _),
    "q42_date_arithmetic" -> (q42DateArithmetic _),
    "q43_try_cast" -> (q43TryCast _),
    "corpus_funnel" -> (corpusFunnel _),
    "corpus_diff" -> (corpusDiff _),
    "q44_salted_join" -> (q44SaltedJoin _),
    "ann_quantized_topk" -> (annQuantizedTopK _),
    "ann_pq_topk" -> (annPqTopK _),
    "ann_ivfpq_topk" -> (annIvfPqTopK _),
    "ann_ivfpq_warm" -> (annIvfPqWarm _),
    "jl_project" -> (jlProjectEntry _),
    "ann_ivfpq_batch_topk" -> (annIvfPqBatchTopK _),
    "ann_ivfpq_batch_warm" -> (annIvfPqBatchWarm _),
    "fuzzy_join" -> (fuzzyJoin _),
    "simhash_neardup_pairs" -> (simhashNearDup _),
    "q45_typed_agg" -> (q45TypedAgg _),
    "q46_subqueries" -> (q46Subqueries _),
    "q47_contamination" -> (q47Contamination _),
    "q48_sequence_packing" -> (q48SequencePacking _),
    "boilerplate_strip" -> (boilerplateStrip _),
    "bm25_topk" -> (bm25TopK _),
    "containment_neardup" -> (containmentNearDup _),
    "containment_hot_audit" -> (containmentHotAudit _),
    "hybrid_retrieval" -> (hybridRetrieval _),
    "text_normalize" -> (textNormalize _),
    "weighted_sample" -> (weightedSample _),
    "bpe_train" -> (bpeTrain _),
    "bitext_mine" -> (bitextMine _),
    "mmr_rerank" -> (mmrRerank _),
    "page_rank" -> (pageRank _),
    "pmi_cooccur" -> (pmiCooccur _),
    "dsir_sample" -> (dsirSample _),
    "kn_bigram_lm" -> (knBigramLm _),
    "bpe_encode" -> (bpeEncode _),
    "token_shard_assign" -> (tokenShardAssign _),
    "token_budget_pack" -> (tokenBudgetPack _),
    "diverse_sample" -> (diverseSample _),
    "bucketed_join" -> (bucketedJoin _),
    "q49_repetition" -> (q49Repetition _),
    "q50_pii_scrub" -> (q50PiiScrub _),
    "q51_rare_token_ratio" -> (q51RareTokenRatio _),
    "q52_range_agg_pushdown" -> (q52RangeAggPushdown _),
    "chunk_dedup" -> (chunkDedup _),
    "cdc_chunk_dedup" -> (cdcChunkDedup _),
    "global_shuffle" -> (globalShuffle _),
    "mixture_sample" -> (mixtureSample _),
    "temperature_mixture" -> (temperatureMixtureQuery _),
    "temperature_mixture_t32" -> (temperatureMixtureT32Query _),
    "domain_cap" -> (domainCapQuery _),
    "semdedup" -> (semDedupQuery _),
    "unigram_lm_quality" -> (unigramLmQuality _),
    "heavy_hitters_topk" -> (heavyHittersTopK _),
    "knn_classify" -> (knnClassify _),
    "vocab_build" -> (vocabBuild _),
    "duplicate_spans" -> (duplicateSpansQuery _),
    "duplicate_spans_sampled" -> (duplicateSpansSampledQuery _),
    "media_dedup" -> (mediaDedup _),
    "quality_cutoff" -> (qualityCutoff _),
    "funnel_depth" -> (funnelDepth _),
    "p6_workbooks_distributed" -> (p6WorkbooksDistributed _),
    "semdedup_planted" -> (semDedupPlanted _))

  /** BATCH IVF-PQ: the amortized production shape for the composed
    * index — one plan serves the 20-query set: per-query ADC tables /
    * probed lists / <q,c> terms are bounded driver arithmetic, the
    * corpus pays a single encoded-codes scan joined against the
    * broadcast (qid, cid) probe frame (each code row fans out only to
    * the queries probing its list), and qid-partitioned windows take
    * rerank + top-k. Same recall contract and oracle as the sibling
    * batch ANN entries.
    */
  private def annIvfPqBatchTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val e = t(s, dir, "embeddings")
    val prep = Similarity.prepared(e, "vec_id", "embedding")
    val n = prep.count()
    val (cents, _, cb, encoded) = Similarity.ivfPqIndex(prep, nlist = 32,
      m = 16, ksub = 64, iters = 2, knownCount = n)
    val ann = Similarity.ivfPqSearchBatch(prep, encoded, cents, cb,
      queryIds = 0L until 20L, k = 10, nprobe = 8,
      rerank = math.max(100, (4.0 * math.sqrt(n.toDouble)).ceil.toInt))
    val qids = e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"))
    annRecallBatchSummary(
      Similarity.bruteTopKBatch(e, "vec_id", "embedding", qids, k = 10),
      ann, k = 10, minHitsPerQuery = 4, minMeanRecall = 0.8)
  }

  /** WARM batch IVF-PQ (VERDICT r12 #4): [[annIvfPqBatchTopK]] with
    * the index side amortized away — the coarse centroids, trained
    * codebooks, and cid-partitioned encoded codes come from the SAME
    * [[graft.sources.WarmStore]] artifact [[annIvfPqWarm]] persists
    * (one index per corpus serves both the single-query and the batch
    * query pattern, the production shape), so a batch run pays only
    * the driver ADC tables, the partition-pruned encoded scan against
    * the broadcast probe frame, and the qid-windowed rerank. The IVF
    * twin proved the amortization at 100x (ann_ivf_batch_warm: 12.4
    * -> 5.8 s). Deterministic seeds make the stored index identical
    * to the cold entry's, so the recall contract and DuckDB oracle
    * are shared verbatim with ann_ivfpq_batch_topk.
    */
  private def annIvfPqBatchWarm(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    import graft.sources.WarmStore
    val e = t(s, dir, "embeddings")
    val prep = Similarity.prepared(e, "vec_id", "embedding")
    val (store, ready) = WarmStore.resolve(dir, "embeddings",
      "graft_ivfpq_idx_", extraKey = "nl32_m16_k64_i2",
      successMarker = "_READY")
    if (!ready)
      WarmStore.publish(store, extraKey = "nl32_m16_k64_i2") { tmp =>
        val (cents, assign, cb, encoded) = Similarity.ivfPqIndex(prep,
          nlist = 32, m = 16, ksub = 64, iters = 2)
        cents.write.mode("overwrite")
          .parquet(tmp.resolve("centroids").toString)
        assign.write.mode("overwrite")
          .parquet(tmp.resolve("assign").toString)
        encoded.write.mode("overwrite").partitionBy("cid")
          .parquet(tmp.resolve("encoded").toString)
        Similarity.codebookToDf(s, cb).write.mode("overwrite")
          .parquet(tmp.resolve("codebook").toString)
        java.nio.file.Files.writeString(tmp.resolve("_READY"), "ok")
      }
    WarmStore.markSource(store, dir)
    val cb = Similarity.codebookFromDf(
      s.read.parquet(store.resolve("codebook").toString))
    val encoded = s.read.parquet(store.resolve("encoded").toString)
      .select(col("id"), col("cid").cast("long").as("cid"), col("codes"),
        col("norm"))
    val cents = s.read.parquet(store.resolve("centroids").toString)
    val n = prep.count()
    val ann = Similarity.ivfPqSearchBatch(prep, encoded, cents, cb,
      queryIds = 0L until 20L, k = 10, nprobe = 8,
      rerank = math.max(100, (4.0 * math.sqrt(n.toDouble)).ceil.toInt))
    val qids = e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"))
    annRecallBatchSummary(
      Similarity.bruteTopKBatch(e, "vec_id", "embedding", qids, k = 10),
      ann, k = 10, minHitsPerQuery = 4, minMeanRecall = 0.8)
  }

  /** Johnson-Lindenstrauss projection of every embedding to 16 dims —
    * the map-only distance-preserving shrink applied before
    * clustering / LSH / pair mining when the raw dimension drives the
    * cost. FULLY closed-form oracle (not a contract summary): the
    * +/-1 matrix is a data-independent hash-tabulated constant, so
    * DuckDB recomputes every projected component from the inlined
    * rows via list_dot_product — same ascending-j summation as the
    * native DotProduct kernel, bit-identical before the shared
    * round(, 4). r = 16 keeps 1/sqrt(r) = 0.25 exact in binary, so
    * the scaling introduces no cross-engine drift.
    */
  private def jlProjectEntry(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    // spread=false: jl_project's pinned contract is a shuffle-free
    // map-only plan (its per-row cost is r compiled dots — lighter
    // than the exchange that would spread it)
    val prep = Similarity.prepared(t(s, dir, "embeddings"), "vec_id",
      "embedding", spread = false)
    val p = Similarity.jlProject(prep, r = 16, dim = 64)
    // + 0.0 canonicalizes IEEE negative zero (round can yield -0.0,
    // which the engines RENDER differently and which perturbs the
    // driver's all-column row sort)
    p.select(col("id").as("vec_id") +:
        (0 until 16).map(k =>
          (round(element_at(col("p"), k + 1), 4) + lit(0.0))
            .as(f"proj_$k%02d")): _*)
      .orderBy(col("vec_id"))
  }

  /** jl_project oracle: the 16 +/-1 rows inlined as DOUBLE[] literals
    * (hash-tabulated by the same [[graft.operators.Similarity.jlRow]]
    * the operator uses — data-independent constants, the emb_neardup
    * pattern), each component recomputed closed-form.
    */
  /** bpe_train oracle: replays all M merge rounds closed-form. Stage i
    * (i >= 1): p_i counts adjacent pairs over corpus s_{i-1}, m_i is
    * the 1-row argmax (count DESC, pair ASC), s_i rewrites every doc
    * with DuckDB's list_reduce — the same greedy left-to-right scan
    * as the Spark-side BpeMergeStep kernel, expressed as a string
    * fold (accumulator = rebuilt string; a merge replaces the
    * accumulator's last token, which a just-merged '+' token can
    * never re-match within the round — identical to the kernel's
    * skip-two rule).
    */
  private lazy val BpeTrainOracleSql: String =
    BpeOracleCtes + (1 to 6).map(i =>
      s"\nSELECT $i AS step, a AS \"left\", b AS \"right\", CAST(c AS BIGINT) AS n_pairs FROM m$i")
      .mkString("", "\nUNION ALL", "\nORDER BY step")

  /** bpe_encode oracle: the same 6-round replay, finished with corpus
    * compression stats over s0 (pre-merge) and s6 (post-merge).
    */
  private lazy val BpeEncodeOracleSql: String =
    BpeOracleCtes + """
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM s0) AS n_docs,
        (SELECT CAST(sum(len(regexp_split_to_array(s, ' '))) AS BIGINT) FROM s0) AS tokens_before,
        (SELECT CAST(sum(len(regexp_split_to_array(s, ' '))) AS BIGINT) FROM s6) AS tokens_after,
        (SELECT CAST(sum(len(list_filter(regexp_split_to_array(s, ' '),
             x -> contains(x, '+')))) AS BIGINT) FROM s6) AS merged_tokens"""

  private lazy val BpeOracleCtes: String = {
    val m = 6
    val sb = new StringBuilder
    sb ++= """WITH s0 AS MATERIALIZED (
        SELECT array_to_string(regexp_split_to_array(lower(trim(text)), '\s+'), ' ') AS s
        FROM documents WHERE trim(text) <> '')"""
    for (i <- 1 to m) {
      sb ++= s""",
      p$i AS (
        SELECT t[i+1] AS a, t[i+2] AS b, count(*) AS c
        FROM (SELECT regexp_split_to_array(s, ' ') AS t,
                unnest(range(len(regexp_split_to_array(s, ' ')) - 1)) AS i
              FROM s${i - 1})
        GROUP BY 1, 2),
      m$i AS MATERIALIZED (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
      s$i AS MATERIALIZED (
        SELECT list_reduce(regexp_split_to_array(s, ' '), (acc, tk) ->
          CASE WHEN regexp_extract(acc, '[^ ]+$$') = m$i.a AND tk = m$i.b
            THEN substr(acc, 1, length(acc) - length(m$i.a)) || m$i.a || '+' || m$i.b
            ELSE acc || ' ' || tk END) AS s
        FROM s${i - 1}, m$i)"""
    }
    sb.result()
  }

  /** mmr_rerank oracle: BM25 top-50 (bm25_topk's CTEs), relevance and
    * pairwise cosines rounded to 1e-6, then the greedy MMR loop
    * replayed closed-form as chained CTEs — per pick i: sc_i scores
    * every unselected candidate as 0.7*rel - 0.3*max(sim to acc_{i-1})
    * (left join + coalesce makes pick 1 score 0.7*rel), pick_i is the
    * 1-row argmax (score DESC, doc_id ASC), acc_i accumulates. Both
    * weight literals are written as 0.7/0.3 to match the Spark side
    * exactly (never `1 - 0.7`).
    */
  /** page_rank oracle: identical edge derivation (per-user lead
    * window, ts + event_id order, self-loops dropped, multiplicity as
    * weight), then 5 power iterations as chained MATERIALIZED CTEs —
    * dangling mass via an anti-join sum, contributions via one
    * join-aggregate, damping literals 0.85/0.15 exactly as the Spark
    * side writes them.
    */
  private lazy val PageRankOracleSql: String = {
    val iters = 5
    val sb = new StringBuilder
    sb ++= """WITH ev AS (
        SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS page, ts, event_id
        FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
      eg AS (SELECT page AS src,
          lead(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        FROM ev),
      edges AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
        FROM eg WHERE dst IS NOT NULL AND src <> dst GROUP BY 1, 2),
      outw AS MATERIALIZED (SELECT src, sum(w) AS outw FROM edges GROUP BY 1),
      nodes AS MATERIALIZED (SELECT DISTINCT page FROM ev),
      nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      r0 AS MATERIALIZED (SELECT page, 1.0 / n AS r FROM nodes, nn)"""
    for (i <- 1 to iters) {
      sb ++= s""",
      dang$i AS MATERIALIZED (SELECT coalesce(sum(r), 0.0) AS ds
        FROM r${i - 1} a LEFT JOIN outw o ON o.src = a.page WHERE o.src IS NULL),
      c$i AS (SELECT e.dst, sum(a.r / o.outw * e.w) AS cin
        FROM edges e JOIN r${i - 1} a ON a.page = e.src JOIN outw o ON o.src = e.src
        GROUP BY 1),
      r$i AS MATERIALIZED (SELECT nd.page,
          0.15 / nn.n + 0.85 * (coalesce(c.cin, 0.0) + dg.ds / nn.n) AS r
        FROM nodes nd LEFT JOIN c$i c ON c.dst = nd.page, nn, dang$i dg)"""
    }
    sb ++= s"""
      SELECT page, round(r, 6) + 0.0 AS rank FROM r$iters
      ORDER BY rank DESC, page LIMIT 20"""
    sb.result()
  }

  private lazy val MmrRerankOracleSql: String = {
    val picks = 10
    val sb = new StringBuilder
    sb ++= """WITH docs AS (
        SELECT doc_id, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS dl,
               regexp_split_to_array(lower(trim(text)), '\s+') AS toks
        FROM documents WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 1),
      stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl FROM docs),
      postings AS (
        SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
        WHERE term IN ('spark', 'join', 'window', 'hash')
        GROUP BY 1, 2, 3),
      dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM postings GROUP BY 1),
      bm AS (
        SELECT doc_id,
          round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
            (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl * n / sumdl))), 6) AS bm25
        FROM postings JOIN dfs USING (term) CROSS JOIN stats
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id LIMIT 50),
      qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id = 0),
      emb AS (SELECT bm.doc_id, CAST(e.embedding AS DOUBLE[]) AS v
        FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id),
      rel AS MATERIALIZED (SELECT doc_id,
          round(list_dot_product(v, qv.qv) /
            (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv.qv, qv.qv))), 6) + 0.0 AS rel
        FROM emb, qv),
      ps AS MATERIALIZED (SELECT x.doc_id AS a, y.doc_id AS b,
          round(list_dot_product(x.v, y.v) /
            (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) + 0.0 AS sim
        FROM emb x JOIN emb y ON x.doc_id <> y.doc_id),
      acc0 AS (SELECT CAST(NULL AS BIGINT) AS doc_id, 0 AS rank, 0.0 AS mmr WHERE FALSE)"""
    for (i <- 1 to picks) {
      sb ++= s""",
      sc$i AS (SELECT r.doc_id, 0.7 * r.rel - 0.3 * coalesce(m.ms, 0.0) AS sc
        FROM rel r LEFT JOIN (
          SELECT p.a AS doc_id, max(p.sim) AS ms
          FROM ps p JOIN acc${i - 1} a ON p.b = a.doc_id GROUP BY p.a) m
        USING (doc_id)
        WHERE r.doc_id NOT IN (SELECT doc_id FROM acc${i - 1})),
      pick$i AS (SELECT doc_id, $i AS rank, round(sc, 6) + 0.0 AS mmr
        FROM sc$i ORDER BY sc DESC, doc_id LIMIT 1),
      acc$i AS MATERIALIZED (SELECT * FROM acc${i - 1} UNION ALL SELECT * FROM pick$i)"""
    }
    sb ++= s"\nSELECT rank, doc_id, mmr FROM acc$picks ORDER BY rank"
    sb.result()
  }

  private lazy val JlProjectOracleSql: String = {
    import graft.operators.Similarity
    val comps = (0 until 16).map { k =>
      val w = Similarity.jlRow(k, 64)
        .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      f"(round(list_dot_product(v, $w) * 0.25, 4) + 0.0) AS proj_$k%02d"
    }.mkString(", ")
    s"""SELECT vec_id, $comps
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      ORDER BY vec_id"""
  }

  /** One row of the sign-random-projection hyperplane matrix as a SQL
    * DOUBLE[] literal: w(k)(j) = +/-1 by bit 13 of xxhash64(j, seed
    * xxhash64(k, 42)) — the SAME data-independent constants the
    * [[org.apache.spark.sql.graft.SignProjection]] kernel tabulates, so
    * the DuckDB oracle recomputes the LSH buckets closed-form by
    * plain dot products (applying +/-1 weights via list_dot_product
    * reproduces the kernel's ascending-j summation bit for bit).
    */
  private def lshSignRow(k: Int, dim: Int): String = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.IntegerType
    val hk = XxHash64Function.hash(k, IntegerType, 42L)
    (0 until dim).map { j =>
      val h = XxHash64Function.hash(j, IntegerType, hk)
      if (((h >>> 13) & 1L) == 1L) "1.0" else "-1.0"
    }.mkString("[", ",", "]")
  }

  /** emb_neardup closed-form oracle (round 9): recompute the 6-bit
    * sign-LSH bucket of every embedding from the inlined hyperplane
    * matrix, enumerate same-bucket candidate pairs WITH the >256
    * star degradation (cappedPairs semantics — min-id representative;
    * it never binds on this corpus, max observed bucket 53, but the
    * oracle mirrors the operator exactly), verify exact cosine >= 0.5
    * on the rounded value, and summarize.
    */
  private val EmbNearDupOracleSql: String = {
    val planes = (0 until 6).map(k => s"($k, ${lshSignRow(k, 64)}::DOUBLE[])")
      .mkString(",\n        ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
        WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])) > 0),
      planes(k, w) AS (VALUES
        $planes),
      proj AS (SELECT vec_id, k, list_dot_product(v, w) AS p
        FROM e, planes),
      bucket AS (SELECT vec_id,
          sum(CASE WHEN p > 0 THEN (1 << k) ELSE 0 END) AS bucket
        FROM proj GROUP BY vec_id),
      stats AS (SELECT e.vec_id, e.v, b.bucket,
          count(*) OVER (PARTITION BY b.bucket) AS bsz,
          first_value(e.vec_id) OVER (PARTITION BY b.bucket
            ORDER BY e.vec_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS rep_id,
          first_value(e.v) OVER (PARTITION BY b.bucket
            ORDER BY e.vec_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS rep_v
        FROM e JOIN bucket b ON e.vec_id = b.vec_id),
      cand AS (
        SELECT x.vec_id AS a, y.vec_id AS b, x.v AS va, y.v AS vb
        FROM stats x JOIN stats y
          ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        WHERE x.bsz <= 256 AND y.bsz <= 256
        UNION ALL
        SELECT rep_id AS a, vec_id AS b, rep_v AS va, v AS vb
        FROM stats WHERE bsz > 256 AND vec_id <> rep_id),
      verified AS (SELECT
          round(list_dot_product(va, vb) /
            (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))),
            4) AS cos
        FROM cand)
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        round(coalesce(max(cos), 0.0), 4) AS max_cos
      FROM verified WHERE cos >= 0.5"""
  }

  /** The shared md5-basis SimHash signature CTE chain (round 9): per
    * doc, DISTINCT whitespace tokens of lower(trim(text)), per-token
    * h = md5_number_lower (the kernel's md5Basis twin), each bit votes
    * +/-1 by (h >> b) & 1, signature sets bit b where the vote sum is
    * positive — built in the UBIGINT domain so bit 63 packs without
    * overflow (the Spark side's signed long has the same bit pattern,
    * and only prefix/key/popcount derivatives reach any output).
    */
  private def simhashSigCtes(source: String): String = {
    val votes = (0 until 64).map(b =>
      s"sum(CASE WHEN (th >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n          ")
    // bit values as precomputed unsigned literals: DuckDB's << is
    // BIGINT-domain and raises on 1 << 63
    val sig = (0 until 64).map { b =>
      val pow = java.lang.Long.toUnsignedString(1L << b)
      s"(CASE WHEN v$b > 0 THEN CAST($pow AS UBIGINT) ELSE CAST(0 AS UBIGINT) END)"
    }.mkString(" +\n          ")
    s"""toks AS (SELECT doc_id,
          unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS tk
        FROM $source),
      hs AS (SELECT doc_id, md5_number_lower(tk) AS th FROM toks),
      votes AS (SELECT doc_id,
          $votes
        FROM hs GROUP BY doc_id),
      sig AS (SELECT doc_id,
          $sig AS sig
        FROM votes)"""
  }

  private val SimhashBucketsOracleSql: String =
    s"""WITH ${simhashSigCtes("documents")},
      pref AS (SELECT doc_id, sig >> 48 AS prefix FROM sig),
      counts AS (SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs
        FROM pref GROUP BY prefix)
      SELECT n_docs AS bucket_size, CAST(count(*) AS BIGINT) AS n_buckets
      FROM counts GROUP BY n_docs ORDER BY bucket_size"""

  /** simhash_neardup_pairs oracle: banding + star degradation +
    * popcount verify, mirroring Dedup.simhashNearDupPairs (maxDist 3,
    * 4 exact 16-bit bands, maxBucket 256 — which BINDS at sf0.1).
    */
  private val SimhashNearDupOracleSql: String =
    s"""WITH ${simhashSigCtes("documents WHERE doc_id < 2000")},
      banded AS (SELECT doc_id, sig, b.band,
          (sig >> (b.band * 16)) & 65535 AS key
        FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) b),
      stats AS (SELECT doc_id, sig, band, key,
          count(*) OVER (PARTITION BY band, key) AS bsz,
          first_value(doc_id) OVER (PARTITION BY band, key
            ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS rep_id,
          first_value(sig) OVER (PARTITION BY band, key
            ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS rep_sig
        FROM banded),
      cand AS (
        SELECT x.doc_id AS a, y.doc_id AS b, x.sig AS sa, y.sig AS sb
        FROM stats x JOIN stats y
          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
        WHERE x.bsz <= 256 AND y.bsz <= 256
        UNION ALL
        SELECT rep_id AS a, doc_id AS b, rep_sig AS sa, sig AS sb
        FROM stats WHERE bsz > 256 AND doc_id <> rep_id),
      pairs AS (SELECT DISTINCT a, b,
          bit_count(xor(sa, sb)) AS hamming
        FROM cand),
      ok AS (SELECT * FROM pairs WHERE hamming <= 3)
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(coalesce(min(hamming), -1) AS INT) AS min_hamming,
        coalesce(round(avg(hamming), 4), -1.0) AS avg_hamming
      FROM ok"""

  /** Shared oracle for the single-query approximate-ANN contracts
    * (ann_lsh_topk / ann_ivf_topk): the exact top-10 NEIGHBOR stats of
    * vec 0 (query excluded), closed-form, plus the contract booleans
    * asserted TRUE. Sims round to 4 decimals per pair BEFORE the sum,
    * mirroring the Spark side, so the sum is a multiple of 1e-4 and
    * immune to summation-order ULPs.
    */
  private val AnnSingleOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      s AS (SELECT e.vec_id,
          round(list_dot_product(v, qv) /
            (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
            4) AS sim
        FROM e, q WHERE e.vec_id <> 0),
      r AS (SELECT vec_id, sim,
          row_number() OVER (ORDER BY sim DESC, vec_id) AS rn FROM s)
      SELECT CAST(count(*) AS BIGINT) AS n_exact,
        round(sum(sim), 4) AS exact_sum_sim,
        round(min(sim), 4) AS exact_min_sim,
        TRUE AS recall_ok, TRUE AS returned_k_ok
      FROM r WHERE rn <= 10"""

  /** Shared oracle for the batch approximate-ANN contracts
    * (ann_lsh_batch_topk / ann_ivf_batch_topk): per-qid exact batch
    * top-10 stats + the per-query-floor and mean-recall booleans.
    */
  private val AnnBatchOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
      s AS (SELECT qid, e.vec_id,
          round(list_dot_product(v, qv) /
            (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
            4) AS sim
        FROM e, q WHERE e.vec_id != qid),
      r AS (SELECT qid, vec_id, sim,
          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
        FROM s)
      SELECT qid, CAST(count(*) AS BIGINT) AS n_exact,
        round(sum(sim), 4) AS exact_sum_sim,
        round(min(sim), 4) AS exact_min_sim,
        TRUE AS recall_floor_ok, TRUE AS mean_recall_ok
      FROM r WHERE rn <= 10
      GROUP BY qid ORDER BY qid"""

  /** semdedup oracle (round 10): the exact GLOBAL near-dup pair set at
    * the entry's 0.45 threshold, brute-force over the whole embedding
    * corpus (all-pairs cosine, round-then-filter on the 1e-4 grid like
    * emb_neardup), plus the precision and recall-floor contract
    * booleans asserted TRUE. The cluster assignment itself stays
    * engine-side; SimilaritySpec pins its semantics on planted
    * duplicates.
    */
  private val SemDedupOracleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
        WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])) > 0),
      p AS (SELECT x.vec_id AS a, y.vec_id AS b,
          round(list_dot_product(x.v, y.v) /
            (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))),
            4) AS cos
        FROM e x JOIN e y ON x.vec_id < y.vec_id),
      f AS (SELECT * FROM p WHERE cos >= 0.45)
      SELECT CAST(count(*) AS BIGINT) AS n_global_pairs,
        CAST(count(DISTINCT b) AS BIGINT) AS n_global_dups,
        round(coalesce(max(cos), 0.0), 4) AS max_global_cos,
        TRUE AS drops_valid_ok, TRUE AS recall_ok,
        (SELECT CAST(count(*) AS BIGINT) FROM embeddings x
          JOIN embeddings y ON y.vec_id = x.vec_id + 1
          WHERE x.vec_id >= 1000000000
            AND (x.vec_id % 1000000000) % 50 = 0) AS n_planted_pairs,
        TRUE AS planted_recall_ok
      FROM f"""

  /** Shared closed-form for the cold and warm incremental-dedup
    * entries (identical outputs by construction — DedupSpec pins warm
    * == cold row-for-row). Base wins on exact J >= 0.5 vs ANY base
    * doc; within the increment min id wins via components over the
    * exact edge set, computed even for base-killed members (matching
    * [[graft.operators.Dedup.dedupIncrement]], where components are
    * built before the anti join).
    */
  private val IncrementOracleSql: String =
    """WITH RECURSIVE sh0 AS (
        SELECT doc_id,
          CASE WHEN len(toks) >= 3 THEN
            list_distinct(list_transform(range(len(toks) - 2),
              i -> array_to_string(toks[i + 1: i + 3], ' ')))
          ELSE [array_to_string(toks, ' ')] END AS sh
        FROM (SELECT doc_id,
            regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents)),
      base AS (SELECT doc_id, sh FROM sh0 WHERE doc_id % 5 <> 0),
      planted AS (SELECT doc_id + 10000000 AS doc_id, sh FROM sh0
        WHERE doc_id % 5 <> 0 AND doc_id % 50 = 1),
      inc AS (SELECT doc_id, sh FROM sh0 WHERE doc_id % 5 = 0
        UNION ALL SELECT doc_id, sh FROM planted),
      killed AS (SELECT DISTINCT i.doc_id AS id
        FROM inc i JOIN base b ON
          CAST(len(list_intersect(i.sh, b.sh)) AS DOUBLE) /
          (len(i.sh) + len(b.sh) - len(list_intersect(i.sh, b.sh))) >= 0.5),
      e AS (SELECT a.doc_id AS a, b.doc_id AS b
        FROM inc a JOIN inc b ON a.doc_id < b.doc_id AND
          CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
      e2 AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
      nn AS (SELECT a AS id FROM e UNION SELECT b AS id FROM e),
      reach AS (
        SELECT id, id AS r FROM nn
        UNION
        SELECT e2.b AS id, reach.r FROM e2 JOIN reach ON reach.id = e2.a),
      comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
      surv AS (SELECT i.doc_id FROM inc i
        WHERE i.doc_id NOT IN (SELECT id FROM killed)
          AND (i.doc_id NOT IN (SELECT id FROM comp)
            OR i.doc_id = (SELECT c FROM comp WHERE id = i.doc_id)))
      SELECT (SELECT count(*) FROM inc) AS n_increment,
        (SELECT count(*) FROM planted) AS n_planted,
        (SELECT count(*) FROM surv) AS n_survivors,
        (SELECT count(*) FROM surv WHERE doc_id % 1000000000 >= 10000000)
          AS n_planted_alive"""

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity), 2) AS sum_qty,
        round(sum(l_extendedprice), 2) AS sum_base_price,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        round(avg(l_quantity), 4) AS avg_qty,
        round(avg(l_discount), 4) AS avg_disc,
        count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY 1, 2 ORDER BY 1, 2""",
    "q2_revenue_filter" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
        count(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""",
    "q3_nation_revenue" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1 ORDER BY 1""",
    "q4_region_year_revenue" ->
      """SELECT r_name, year(o_orderdate) AS o_year,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2 ORDER BY 1, 2""",
    "q5_top_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn = 1 ORDER BY o_custkey""",
    "q6_topk_parts" ->
      """SELECT l_partkey,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 100""",
    "q7_semi_anti_join" ->
      """SELECT
        CAST((SELECT count(*) FROM customer
          WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)) AS BIGINT)
          AS n_without_orders,
        CAST((SELECT count(*) FROM customer
          WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS BIGINT)
          AS n_with_orders""",
    "q8_set_ops" ->
      """SELECT
        CAST((SELECT count(*) FROM (SELECT DISTINCT s_nationkey FROM supplier
          EXCEPT SELECT DISTINCT c_nationkey FROM customer)) AS BIGINT) AS n_supplier_only,
        CAST((SELECT count(*) FROM (SELECT DISTINCT s_nationkey FROM supplier
          INTERSECT SELECT DISTINCT c_nationkey FROM customer)) AS BIGINT) AS n_both,
        CAST((SELECT count(*) FROM (SELECT s_nationkey FROM supplier
          UNION SELECT c_nationkey FROM customer)) AS BIGINT) AS n_union""",
    "q9_distinct_counts" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        count(DISTINCT l_suppkey) AS n_supps,
        count(DISTINCT l_orderkey) AS n_orders,
        count(*) AS n_rows FROM lineitem""",
    "q10_events_agg" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
        count(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1 ORDER BY 1""",
    "q11_events_window" ->
      """SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
        round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "p6_genotype_pipeline" ->
      """SELECT 'P' || CAST(p_partkey % 211 AS VARCHAR) AS genotype_patient_ID,
        CAST(sum(CASE WHEN p_partkey % 4 = 2 AND p_partkey % 3 = 2 THEN 2 ELSE 1 END) AS BIGINT) AS n_records,
        CAST(sum(CASE WHEN p_partkey % 4 IN (0, 2) THEN 1 ELSE 0 END) AS BIGINT) AS n_het,
        CAST(sum(CASE WHEN p_partkey % 4 = 1 THEN 1
          WHEN p_partkey % 4 = 2 AND p_partkey % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hom
        FROM part WHERE p_partkey % 89 <> 0
        GROUP BY 1 ORDER BY 1""",
    "p6_phenotype_pipeline" ->
      """SELECT 'P' || CAST(doc_id % 223 AS VARCHAR) AS phenotype_patient_ID,
        'HP:' || lpad(CAST(doc_id % 43000 AS VARCHAR), 7, '0') AS "HPO_ID",
        CASE WHEN doc_id % 3 IN (0, 1) THEN 'T' || CAST(doc_id % 365 AS VARCHAR)
          ELSE '' END AS date_of_observation,
        doc_id % 2 = 0 AS status
        FROM documents WHERE doc_id % 7 NOT IN (3, 4)
        ORDER BY 1, 2, 3, 4""",
    "p6_patient_bundles" ->
      """WITH g AS (
          SELECT 'P' || CAST(p_partkey % 211 AS VARCHAR) AS pid,
            CAST(sum(CASE WHEN p_partkey % 4 = 2 AND p_partkey % 3 = 2 THEN 2 ELSE 1 END) AS BIGINT) AS n
          FROM part WHERE p_partkey % 89 <> 0 GROUP BY 1),
        p AS (
          SELECT 'P' || CAST(doc_id % 223 AS VARCHAR) AS pid,
            CAST(count(*) AS BIGINT) AS n
          FROM documents WHERE doc_id % 7 NOT IN (3, 4) GROUP BY 1)
        SELECT COALESCE(g.pid, p.pid) AS patient_id,
          COALESCE(g.n, 0) AS n_genotypes, COALESCE(p.n, 0) AS n_phenotypes
        FROM g FULL JOIN p ON g.pid = p.pid ORDER BY 1""",
    "p6_issue_channel" ->
      """SELECT * FROM (VALUES
          ('genotype', 'check-hgvs', 'warning',
            (SELECT count(*) FROM part WHERE p_partkey % 89 <> 0 AND p_partkey % 17 = 0)),
          ('genotype', 'parse-genotype-row', 'error',
            (SELECT count(*) FROM part WHERE p_partkey % 89 = 0)),
          ('phenotype', 'parse-phenotype-row', 'error',
            (SELECT count(*) FROM documents WHERE doc_id % 7 = 4)),
          ('phenotype', 'parse-phenotype-row', 'warning',
            (SELECT count(*) FROM documents WHERE doc_id % 7 = 3))
        ) t(sheet, step, level, n) WHERE n > 0 ORDER BY 1, 2, 3""",
    "p6_scalar_fns" ->
      """SELECT doc_id,
        CASE doc_id % 5 WHEN 0 THEN ''
          WHEN 1 THEN 'T' || CAST(n_chars AS VARCHAR)
          WHEN 2 THEN 'T' || CAST(doc_id % 100 AS VARCHAR)
          WHEN 3 THEN 'Tvisit ' || CAST(doc_id % 10 AS VARCHAR)
          ELSE 'T' || CAST(doc_id % 1000 AS VARCHAR) END AS time_norm,
        CASE doc_id % 12 WHEN 0 THEN true WHEN 1 THEN true WHEN 2 THEN true
          WHEN 3 THEN false WHEN 4 THEN false WHEN 5 THEN true
          WHEN 6 THEN true WHEN 7 THEN false WHEN 8 THEN false
          WHEN 9 THEN true WHEN 10 THEN true ELSE false END AS bool_norm,
        CASE WHEN doc_id % 6 = 4 THEN NULL
          ELSE 'HP:' || lpad(CAST(doc_id % 43000 AS VARCHAR), 7, '0') END AS curie,
        CASE WHEN doc_id % 6 = 2 THEN 'Myopia' ELSE '' END AS label
        FROM documents ORDER BY doc_id""",
    "p6_chrom_email_hgvs" ->
      """SELECT p_partkey,
        CASE p_partkey % 4
          WHEN 0 THEN 'chr' || CAST(p_partkey % 22 + 1 AS VARCHAR)
          WHEN 1 THEN 'chr' || CAST(p_partkey % 22 + 1 AS VARCHAR)
          WHEN 2 THEN 'CHR' || CAST(p_partkey % 22 + 1 AS VARCHAR)
          ELSE 'chrX' END AS chrom,
        CASE p_partkey % 4
          WHEN 0 THEN 'unknown@example.com'
          WHEN 1 THEN 'u' || CAST(p_partkey AS VARCHAR) || '@ex.com'
          WHEN 2 THEN 'unknown@example.com'
          ELSE 'bad@@x' END AS email,
        p_partkey % 4 <> 3 AS email_ok,
        CASE p_partkey % 5
          WHEN 0 THEN '7:g.' || CAST(p_partkey + 1 AS VARCHAR) || 'A>G'
          WHEN 1 THEN '7:g.' || CAST(p_partkey + 1 AS VARCHAR) || 'A>G'
          WHEN 2 THEN 'X:g.' || CAST(p_partkey + 1 AS VARCHAR) || 'AC>GT'
          WHEN 3 THEN 'oops'
          ELSE '_something' END AS gnorm
        FROM part ORDER BY p_partkey""",
    "p6_header_normalize" ->
      """SELECT p_partkey,
        lower(replace(regexp_replace(regexp_replace(
          trim('  ' || p_type || ' (' || p_brand || '): ID'),
          '\s*\(.*?\)', '', 'g'), '\s+', '_', 'g'), ':', '')) AS header
        FROM part ORDER BY p_partkey""",
    "p6_ontology_closure" ->
      """WITH RECURSIVE edges AS (
          SELECT p_partkey AS c, p_partkey // 2 AS p FROM part WHERE p_partkey >= 2),
        anc AS (
          SELECT c AS d, p AS a FROM edges
          UNION
          SELECT anc.d, e.p FROM anc JOIN edges e ON anc.a = e.c)
        SELECT n_ancestors, CAST(count(*) AS BIGINT) AS n_nodes FROM (
          SELECT d, CAST(count(*) AS BIGINT) AS n_ancestors FROM anc GROUP BY d)
        GROUP BY 1 ORDER BY 1""",
    "q12_sessionize" ->
      """SELECT bucket, CAST(sum(is_new) AS BIGINT) AS n_sessions FROM (
          SELECT user_id % 50 AS bucket,
            CASE WHEN prev IS NULL OR epoch_ms(ts) - epoch_ms(prev) > 1800000
              THEN 1 ELSE 0 END AS is_new
          FROM (
            SELECT user_id, ts,
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events))
        GROUP BY 1 ORDER BY 1""",
    "q13_session_stats" ->
      """WITH marked AS (
          SELECT user_id, ts, event_id,
            CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000
              THEN 1 ELSE 0 END AS is_new
          FROM events),
        sess AS (
          SELECT user_id,
            sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
          FROM marked),
        g AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n
          FROM sess GROUP BY 1, 2)
        SELECT user_id % 50 AS bucket, CAST(count(*) AS BIGINT) AS n_sessions,
          CAST(sum(n) AS BIGINT) AS n_events, CAST(max(n) AS BIGINT) AS max_session_events
        FROM g GROUP BY 1 ORDER BY 1""",
    "q14_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        count(*) AS n_rows
        FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q15_asof_join" ->
      """WITH clicks AS (
          SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        purch AS (
          SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
        SELECT c.user_id % 50 AS bucket,
          CAST(count(*) AS BIGINT) AS n_clicks,
          CAST(count(p.value) AS BIGINT) AS n_with_prior_purchase,
          round(coalesce(sum(p.value), 0), 2) AS sum_attached
        FROM clicks c ASOF LEFT JOIN purch p
          ON c.user_id = p.user_id AND p.ts <= c.ts
        GROUP BY 1 ORDER BY 1""",
    "q16_topk_per_key" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice FROM (
          SELECT c_mktsegment, o_orderkey, o_totalprice,
            row_number() OVER (PARTITION BY c_mktsegment
              ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders JOIN customer ON o_custkey = c_custkey)
        WHERE rn <= 3 ORDER BY c_mktsegment, o_totalprice DESC, o_orderkey""",
    "q17_range_join" ->
      """SELECT p.p_partkey % 50 AS bucket,
        CAST(count(*) AS BIGINT) AS n_matches,
        round(sum(e.value), 2) AS sum_value
        FROM part p JOIN events e
          ON epoch_ms(e.ts) >= 1704067200000 + (p.p_partkey % 29) * 86400000
         AND epoch_ms(e.ts) <  1704067200000 + (p.p_partkey % 29) * 86400000
                                + (p.p_partkey % 3 + 1) * 86400000
        GROUP BY 1 ORDER BY 1""",
    "q18_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""",
    "q19_pivot" ->
      """SELECT l_returnflag,
        round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F",
        round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O"
        FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q20_tfidf_terms" ->
      """WITH dt AS (
          SELECT DISTINCT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
          FROM documents)
        SELECT term, count(DISTINCT doc_id) AS df,
          round(ln((SELECT count(*) FROM documents)::DOUBLE / count(DISTINCT doc_id)), 6) AS idf
        FROM dt GROUP BY term ORDER BY df DESC, term LIMIT 25""",
    "q21_percentiles" ->
      """SELECT event_type,
        round(quantile_cont(value, 0.5), 4) AS p50,
        round(quantile_cont(value, 0.9), 4) AS p90,
        round(quantile_cont(value, 0.99), 4) AS p99
        FROM events GROUP BY 1 ORDER BY 1""",
    "q22_stats_agg" ->
      """SELECT l_returnflag,
        round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qp,
        round(stddev_samp(l_quantity), 4) AS sd_qty,
        round(var_samp(l_discount), 6) AS var_disc
        FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q23_stable_split" ->
      """SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
          THEN 'test' ELSE 'train' END AS split,
        count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1 ORDER BY 1""",
    "q24_json_extract" ->
      """SELECT event_type,
        count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_with_k,
        CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k
        FROM events GROUP BY 1 ORDER BY 1""",
    "q25_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        round(sum(o_totalprice), 2) AS sum_price, count(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""",
    "q26_ntile" ->
      """SELECT quartile, count(*) AS n,
        round(min(c_acctbal), 2) AS min_bal, round(max(c_acctbal), 2) AS max_bal
        FROM (SELECT c_acctbal,
          ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
          FROM customer)
        GROUP BY 1 ORDER BY 1""",
    "q27_datetime_agg" ->
      """SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d,
        count(*) AS n,
        count(DISTINCT hour(ts)) AS n_active_hours,
        round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q28_collect_set" ->
      """SELECT o_orderstatus,
        array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
        count(DISTINCT o_orderpriority) AS n_priorities
        FROM orders GROUP BY 1 ORDER BY 1""",
    "q29_string_fns" ->
      """SELECT p_partkey,
        levenshtein(p_type, 'PROMO') AS lev_promo,
        reverse(p_brand) AS rev_brand,
        lpad(p_name, 12, '.') AS padded,
        substr(p_name, 2, 5) AS mid,
        CAST(length(p_name) + length(p_type) AS INTEGER) AS total_len
        FROM part WHERE p_partkey < 500 ORDER BY 1""",
    "p6_disease_pipeline" ->
      """SELECT 'P' || CAST(o_orderkey % 211 AS VARCHAR) AS patient_ID,
        'OMIM:' || CAST(o_orderkey % 5000 + 100000 AS VARCHAR) AS disease_term,
        CASE WHEN o_orderkey % 4 = 0 THEN NULL
          ELSE 'Cond ' || CAST(o_orderkey % 5000 AS VARCHAR) END AS disease_label,
        CAST(o_orderkey % 80 AS VARCHAR) AS disease_onset,
        o_orderkey % 3 = 0 AS disease_status
        FROM orders ORDER BY 1, 2, 4, 5""",
    "p6_measurement_pipeline" ->
      """SELECT 'P' || CAST(user_id % 97 AS VARCHAR) AS patient_ID,
        event_type AS measurement_type,
        value AS measurement_value,
        'mg' AS measurement_unit,
        CASE WHEN event_id % 5 = 0 THEN NULL
          ELSE 'T' || CAST(event_id % 365 AS VARCHAR) END AS measurement_timestamp
        FROM events WHERE event_id % 13 <> 0
        ORDER BY 1, 2, 3, 5 NULLS LAST""",
    "p6_biosample_pipeline" ->
      """SELECT 'P' || CAST(s_suppkey % 211 AS VARCHAR) AS patient_ID,
        'B' || CAST(s_suppkey AS VARCHAR) AS biosample_id,
        CASE s_suppkey % 3 WHEN 0 THEN 'blood' WHEN 1 THEN 'saliva'
          ELSE 'tissue' END AS biosample_type,
        'T' || CAST(s_suppkey % 50 AS VARCHAR) AS collection_date
        FROM supplier ORDER BY 2""",
    "p6_phenopacket_json" ->
      """WITH g1 AS (
          SELECT p_partkey AS k, 'P' || CAST(p_partkey % 211 AS VARCHAR) AS pid,
            'u' || CAST(p_partkey AS VARCHAR) || '@example.com' AS email,
            CAST(p_partkey % 22 + 1 AS VARCHAR) || ':g.' ||
              CAST(p_partkey + 1 AS VARCHAR) ||
              CASE WHEN p_partkey % 17 = 0 THEN 'C>T' ELSE 'A>G' END AS gnorm,
            p_brand AS gene,
            CASE p_partkey % 4 WHEN 0 THEN 'heterozygous' WHEN 1 THEN 'homozygous'
              WHEN 2 THEN 'heterozygous' ELSE 'hemizygous' END AS zyg
          FROM part WHERE p_partkey % 89 <> 0),
        g2 AS (
          SELECT p_partkey AS k, 'P' || CAST(p_partkey % 211 AS VARCHAR) AS pid,
            'u' || CAST(p_partkey AS VARCHAR) || '@example.com' AS email,
            CAST(p_partkey % 22 + 1 AS VARCHAR) || ':g.' ||
              CAST(p_partkey + 1 AS VARCHAR) ||
              CASE WHEN p_partkey % 17 = 0 THEN 'C>T' ELSE 'A>G' END AS gnorm,
            p_brand AS gene, 'homozygous' AS zyg
          FROM part
          WHERE p_partkey % 89 <> 0 AND p_partkey % 4 = 2 AND p_partkey % 3 = 2),
        geno AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2),
        gidx AS (
          SELECT pid, gnorm, gene, zyg,
            row_number() OVER (PARTITION BY pid ORDER BY email, zyg) - 1 AS idx
          FROM geno),
        gj AS (
          SELECT pid, string_agg(
            '{"id":"' || pid || '-interpretation-' || CAST(idx AS VARCHAR) ||
            '","progress_status":"COMPLETED","diagnosis":{"genomic_interpretations":[{"subject_or_biosample_id":"'
            || pid ||
            '","interpretation_status":"CONTRIBUTORY","variant_interpretation":{"variation_descriptor":{"expressions":[{"syntax":"hgvs","value":"'
            || gnorm || '"}],"allelic_state":{"id":"' ||
            CASE zyg WHEN 'heterozygous' THEN 'GENO:0000135'
              WHEN 'homozygous' THEN 'GENO:0000134' ELSE 'GENO:0000136' END ||
            '","label":"' || zyg || '"},"gene_context":{"symbol":"' || gene ||
            '"}}}}]}}', ',' ORDER BY idx) AS frag
          FROM gidx GROUP BY pid),
        ph AS (
          SELECT 'P' || CAST(doc_id % 223 AS VARCHAR) AS pid,
            'HP:' || lpad(CAST(doc_id % 43000 AS VARCHAR), 7, '0') AS hpo,
            CASE WHEN doc_id % 3 IN (0, 1) THEN 'T' || CAST(doc_id % 365 AS VARCHAR)
              ELSE '' END AS dt,
            doc_id % 2 = 0 AS status
          FROM documents WHERE doc_id % 7 NOT IN (3, 4)),
        pj AS (
          SELECT pid, string_agg(
            '{"type":{"id":"' || hpo || '"},"excluded":' ||
            CASE WHEN status THEN 'false' ELSE 'true' END || '}',
            ',' ORDER BY hpo, dt, status) AS frag
          FROM ph GROUP BY pid),
        di AS (
          SELECT 'P' || CAST(o_orderkey % 211 AS VARCHAR) AS pid,
            'OMIM:' || CAST(o_orderkey % 5000 + 100000 AS VARCHAR) AS term,
            CASE WHEN o_orderkey % 4 = 0 THEN NULL
              ELSE 'Cond ' || CAST(o_orderkey % 5000 AS VARCHAR) END AS label
          FROM orders),
        dj AS (
          SELECT pid, string_agg(
            '{"term":{"id":"' || term || '"' ||
            CASE WHEN label IS NULL THEN '' ELSE ',"label":"' || label || '"' END
            || '}}', ',' ORDER BY term, label NULLS FIRST) AS frag
          FROM di GROUP BY pid),
        me AS (
          SELECT 'P' || CAST(user_id % 97 AS VARCHAR) AS pid, event_type AS typ
          FROM events WHERE event_id % 13 <> 0),
        mj AS (
          SELECT pid, string_agg('{"type":{"id":"' || typ || '"}}',
            ',' ORDER BY typ) AS frag
          FROM me GROUP BY pid),
        bi AS (
          SELECT 'P' || CAST(s_suppkey % 211 AS VARCHAR) AS pid,
            'B' || CAST(s_suppkey AS VARCHAR) AS bid,
            CASE s_suppkey % 3 WHEN 0 THEN 'blood' WHEN 1 THEN 'saliva'
              ELSE 'tissue' END AS btyp
          FROM supplier),
        bj AS (
          SELECT pid, string_agg(
            '{"id":"' || bid || '","type":{"id":"' || btyp || '"}}',
            ',' ORDER BY bid) AS frag
          FROM bi GROUP BY pid),
        pids AS (
          SELECT DISTINCT pid FROM (
            SELECT pid FROM geno UNION SELECT pid FROM ph
            UNION SELECT pid FROM di UNION SELECT pid FROM me
            UNION SELECT pid FROM bi))
        SELECT p.pid AS patient_id,
          '{"id":"' || p.pid || '","subject":{"id":"' || p.pid ||
          '"},"phenotypic_features":[' || coalesce(pj.frag, '') ||
          '],"interpretations":[' || coalesce(gj.frag, '') ||
          '],"diseases":[' || coalesce(dj.frag, '') ||
          '],"measurements":[' || coalesce(mj.frag, '') ||
          '],"biosamples":[' || coalesce(bj.frag, '') || ']}' AS packet_json
        FROM pids p
        LEFT JOIN gj ON p.pid = gj.pid
        LEFT JOIN pj ON p.pid = pj.pid
        LEFT JOIN dj ON p.pid = dj.pid
        LEFT JOIN mj ON p.pid = mj.pid
        LEFT JOIN bj ON p.pid = bj.pid
        ORDER BY 1""",
    "p6_term_checks" ->
      """SELECT
        CAST((SELECT count(*) FROM documents WHERE doc_id % 7 NOT IN (3, 4)
          AND doc_id % 43000 > (SELECT max(p_partkey) FROM part)) AS BIGINT)
          AS n_not_found,
        CAST((SELECT count(*) FROM documents WHERE doc_id % 7 NOT IN (3, 4)
          AND doc_id % 43000 <= (SELECT max(p_partkey) FROM part)
          AND (doc_id % 43000) % 31 = 0) AS BIGINT) AS n_obsolete,
        CAST((SELECT count(*) FROM documents WHERE doc_id % 7 = 2
          AND doc_id % 43000 <= (SELECT max(p_partkey) FROM part)) AS BIGINT)
          AS n_label_mismatch""",
    "p6_batch_validate" ->
      """WITH RECURSIVE ids AS (
          SELECT DISTINCT doc_id % 43000 AS t FROM documents
          WHERE doc_id % 7 NOT IN (3, 4)
            AND doc_id % 43000 <= (SELECT max(p_partkey) FROM part)),
        edges AS (SELECT p_partkey AS c, p_partkey // 2 AS p FROM part
          WHERE p_partkey >= 2),
        anc AS (
          SELECT c AS d, p AS a FROM edges
          UNION
          SELECT anc.d, e.p FROM anc JOIN edges e ON anc.a = e.c)
        SELECT
          CAST((SELECT count(*) FROM ids WHERE t <> 118 AND NOT EXISTS
            (SELECT 1 FROM anc WHERE anc.d = ids.t AND anc.a = 118)) AS BIGINT)
            AS n_not_abnormality,
          CAST((SELECT count(*) FROM ids i1 WHERE EXISTS
            (SELECT 1 FROM anc JOIN ids i2 ON anc.d = i2.t WHERE anc.a = i1.t)) AS BIGINT)
            AS n_propagation""",
    "ngram_jaccard_hist" ->
      """WITH d AS (
          SELECT doc_id,
            list_distinct(list_transform(range(len(toks) - 2),
              i -> array_to_string(toks[i + 1: i + 3], ' '))) AS sh
          FROM (SELECT doc_id,
              regexp_split_to_array(lower(trim(text)), '\s+') AS toks
            FROM documents WHERE doc_id < 200))
        SELECT (10 * len(list_intersect(a.sh, b.sh)))
            // len(list_distinct(list_concat(a.sh, b.sh))) AS bucket,
          CAST(count(*) AS BIGINT) AS n_pairs
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        GROUP BY 1 ORDER BY 1""",
    "media_feature_stats" ->
      """SELECT doc_id % 10 AS bucket,
        CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        count(DISTINCT md5(text)) AS n_uniq_media,
        CAST(sum((octet_length(encode(text)) + 255) // 256) AS BIGINT) AS n_frames
        FROM documents GROUP BY 1 ORDER BY 1""",
    "media_phash" ->
      """WITH ids AS (
          SELECT doc_id FROM documents WHERE doc_id < 200
          UNION ALL
          SELECT doc_id + 16128 FROM documents WHERE doc_id < 200),
        d AS (SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
          FROM ids),
        px AS (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM d),
        cells AS (SELECT doc_id,
            ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS c,
            sum(((i % w) * 7 + (i // w) * 13 + doc_id) % 256) AS cs,
            count(*) AS cn
          FROM px GROUP BY 1, 2),
        tot AS (SELECT doc_id, sum(cs) AS ts, sum(cn) AS tn
          FROM cells GROUP BY 1),
        bits AS (SELECT cells.doc_id, c,
            CASE WHEN cs * tn > ts * cn THEN 1 ELSE 0 END AS bit
          FROM cells JOIN tot ON cells.doc_id = tot.doc_id),
        ph AS (SELECT doc_id,
            CAST(sum(CASE WHEN c >= 32
              THEN bit * (CAST(1 AS BIGINT) << CAST(c - 32 AS INT))
              ELSE 0 END) AS BIGINT) AS phash_hi,
            CAST(sum(CASE WHEN c < 32
              THEN bit * (CAST(1 AS BIGINT) << CAST(c AS INT))
              ELSE 0 END) AS BIGINT) AS phash_lo
          FROM bits GROUP BY doc_id),
        cnt AS (SELECT phash_hi, phash_lo, count(*) AS n_same_hash
          FROM ph GROUP BY 1, 2)
        SELECT ph.doc_id, ph.phash_hi, ph.phash_lo,
          CAST(cnt.n_same_hash AS BIGINT) AS n_same_hash,
          'imageio' AS codec
        FROM ph JOIN cnt USING (phash_hi, phash_lo)
        ORDER BY ph.doc_id""",
    "media_decode" ->
      """WITH d AS (
          SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS width,
                 CAST(8 + doc_id % 7 AS INT) AS height
          FROM documents WHERE doc_id < 200),
        px AS (SELECT doc_id, width, height,
                 unnest(range(width * height)) AS i FROM d)
        SELECT doc_id, width, height, CAST(1 AS INT) AS channels,
          round(avg(CAST(((i % width) * 7 + (i // width) * 13 + doc_id) % 256
            AS DOUBLE)), 4) AS mean_intensity,
          'imageio' AS codec
        FROM px GROUP BY 1, 2, 3 ORDER BY doc_id""",
    "audio_decode" ->
      """WITH d AS (
          SELECT doc_id, CAST(800 + doc_id % 100 AS BIGINT) AS n_frames
          FROM documents WHERE doc_id < 200),
        s AS (SELECT doc_id, n_frames, unnest(range(n_frames)) AS i FROM d)
        SELECT doc_id, CAST(8000 AS INT) AS sample_rate, n_frames,
          CAST(1 AS INT) AS channels,
          round(avg(CAST((i * 7 + doc_id) % 256 AS DOUBLE)), 4)
            AS mean_amplitude,
          'javax.sound' AS codec
        FROM s GROUP BY 1, 3 ORDER BY doc_id""",
    "dedup_exact" ->
      """SELECT count(*) AS n_docs, count(DISTINCT text) AS n_uniq_text,
        count(DISTINCT md5(text)) AS n_uniq_hash FROM documents""",
    "dedup_fingerprint" ->
      """SELECT count(*) AS n_docs,
        count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))
          AS n_fingerprints
        FROM documents""",
    // EXACT-Jaccard closed form for the LSH-detected pair set: only
    // pairs sharing >= 1 shingle can reach J >= 0.5, and the Spark
    // side's verify stage computes the same exact Jaccard, so the two
    // engines agree as long as LSH candidates ⊇ true pairs (DedupSpec
    // pins that recall against Spark-side brute force).
    "minhash_neardup" ->
      """WITH d AS (
          SELECT doc_id,
            CASE WHEN len(toks) >= 3 THEN
              list_distinct(list_transform(range(len(toks) - 2),
                i -> array_to_string(toks[i + 1: i + 3], ' ')))
            ELSE [array_to_string(toks, ' ')] END AS sh
          FROM (SELECT doc_id,
              regexp_split_to_array(lower(trim(text)), '\s+') AS toks
            FROM documents))
        SELECT a.doc_id AS a, b.doc_id AS b,
          round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4)
            AS jaccard
        FROM d a JOIN d b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
        ORDER BY a, b""",
    // Survivor counts via exact-Jaccard edges + recursive-CTE
    // reachability (min-id components — the same resolution rule as
    // Dedup.connectedComponents).
    "dedup_corpus" ->
      """WITH RECURSIVE d AS (
          SELECT doc_id,
            CASE WHEN len(toks) >= 3 THEN
              list_distinct(list_transform(range(len(toks) - 2),
                i -> array_to_string(toks[i + 1: i + 3], ' ')))
            ELSE [array_to_string(toks, ' ')] END AS sh
          FROM (SELECT doc_id,
              regexp_split_to_array(lower(trim(text)), '\s+') AS toks
            FROM documents)),
        e AS (SELECT a.doc_id AS a, b.doc_id AS b
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        e2 AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        n AS (SELECT a AS id FROM e UNION SELECT b AS id FROM e),
        reach AS (
          SELECT id, id AS r FROM n
          UNION
          SELECT e2.b AS id, reach.r FROM e2 JOIN reach ON reach.id = e2.a),
        comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id)
        SELECT (SELECT count(*) FROM documents) AS n_in,
          (SELECT count(*) FROM documents)
            - (SELECT count(*) FROM comp WHERE id <> c) AS n_out,
          (SELECT count(*) FROM comp WHERE id <> c) AS n_removed""",
    // Same exact-Jaccard edges + min-id components as dedup_corpus;
    // the split key is the component representative, so the
    // cross-split pair count the oracle recomputes must be zero.
    "leakage_safe_split" ->
      """WITH RECURSIVE d AS (
          SELECT doc_id,
            CASE WHEN len(toks) >= 3 THEN
              list_distinct(list_transform(range(len(toks) - 2),
                i -> array_to_string(toks[i + 1: i + 3], ' ')))
            ELSE [array_to_string(toks, ' ')] END AS sh
          FROM (SELECT doc_id,
              regexp_split_to_array(lower(trim(text)), '\s+') AS toks
            FROM documents)),
        e AS (SELECT a.doc_id AS a, b.doc_id AS b
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5),
        e2 AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
        n AS (SELECT a AS id FROM e UNION SELECT b AS id FROM e),
        reach AS (
          SELECT id, id AS r FROM n
          UNION
          SELECT e2.b AS id, reach.r FROM e2 JOIN reach ON reach.id = e2.a),
        comp AS (SELECT id, min(r) AS c FROM reach GROUP BY id),
        rep AS (SELECT doc_id, coalesce(comp.c, doc_id) AS rep
          FROM documents LEFT JOIN comp ON comp.id = doc_id),
        sp AS (SELECT doc_id,
            CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 2) < '1a'
              THEN 'test' ELSE 'train' END AS split
          FROM rep)
        SELECT
          CAST((SELECT count(*) FROM sp WHERE split = 'train') AS BIGINT)
            AS n_train,
          CAST((SELECT count(*) FROM sp WHERE split = 'test') AS BIGINT)
            AS n_test,
          CAST((SELECT count(*) FROM comp) AS BIGINT) AS n_linked_docs,
          CAST((SELECT count(DISTINCT c) FROM comp) AS BIGINT)
            AS n_components,
          CAST((SELECT count(*) FROM e) AS BIGINT) AS n_pairs,
          CAST((SELECT count(*) FROM e
            JOIN sp sa ON sa.doc_id = e.a
            JOIN sp sb ON sb.doc_id = e.b
            WHERE sa.split <> sb.split) AS BIGINT) AS n_cross_pairs""",
    // Incremental dedup closed-form: replicate the 80/20 split + the
    // planted re-idd base copies, kill any increment doc with exact
    // J >= 0.5 against base (base wins), then min-id components over
    // the intra-increment exact edges.
    "dedup_increment" -> IncrementOracleSql,
    "dedup_increment_warm" -> IncrementOracleSql,
    // The sketch estimates are engine-specific; the oracle verifies
    // the EXACT counts and asserts the sketch error contract booleans.
    "approx_distinct" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        TRUE AS parts_within_bound, TRUE AS orders_within_bound
        FROM lineitem""",
    "approx_percentiles" ->
      """SELECT round(quantile_cont(value, 0.5), 4) AS p50_exact,
        round(quantile_cont(value, 0.99), 4) AS p99_exact,
        TRUE AS p50_within_bound, TRUE AS p99_within_bound
        FROM events""",
    // Int8 quantization is CLOSED-FORM (no hashing): per-vector
    // max-abs scale, round-half-away-from-zero to [-127,127], cosine
    // in the quantized domain. The quantized dot products are exact
    // integers (<= 127^2 * dim << 2^53), so both engines' double
    // arithmetic is bit-identical and the rounded similarities
    // hash-match.
    "ann_quantized_topk" ->
      """WITH prep AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        s AS (SELECT vec_id, v,
            greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) / 127.0
              AS sc
          FROM prep),
        qz AS (SELECT vec_id, list_transform(v, x -> round(x / sc)) AS qv
          FROM s),
        q AS (SELECT qv AS query FROM qz WHERE vec_id = 0),
        d AS (SELECT z.vec_id AS id,
            list_dot_product(z.qv, q.query) /
              (sqrt(list_dot_product(z.qv, z.qv)) *
               sqrt(list_dot_product(q.query, q.query))) AS cos
          FROM qz z, q WHERE z.vec_id <> 0)
        SELECT id, round(cos, 4) AS sim FROM d
        ORDER BY sim DESC, id LIMIT 10""",
    // Hashed linear classifier: weights ARE the token hash (bit ops on
    // md5_number_lower — representation-identical to the Spark
    // kernel's signed long), rational sigmoid (no libm), per-doc sums
    // are exact integer arithmetic in doubles — both engines agree to
    // the bit before the final 1e-4 rounding.
    "quality_classifier" ->
      """WITH t AS (SELECT lang,
          regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents),
      s AS (SELECT lang,
          list_sum(list_transform(toks,
            tk -> CAST((md5_number_lower(tk) >> 3) & 4095 AS DOUBLE)))
            / CAST(len(toks) AS DOUBLE) AS meanw
        FROM t),
      z AS (SELECT lang, (meanw / 2048.0 - 1.0) * 6.0 AS z FROM s),
      sc AS (SELECT lang,
          round(0.5 + 0.5 * z / (1.0 + abs(z)), 4) AS score FROM z)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_kept,
        round(avg(score), 4) AS avg_score
      FROM sc GROUP BY 1 ORDER BY 1""",
    "text_quality" ->
      """SELECT lang, count(*) AS n_docs,
        round(avg(n_tok), 4) AS avg_tokens,
        round(avg(stop_ratio), 4) AS avg_stop_ratio,
        round(avg(len), 4) AS avg_chars
        FROM (
          SELECT lang,
            CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n_tok,
            CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
              x -> x IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE)
              / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS stop_ratio,
            CAST(length(text) AS DOUBLE) AS len
          FROM documents)
        GROUP BY 1 ORDER BY 1""",
    "token_stats" ->
      """SELECT doc_id % 10 AS bucket,
        CAST(sum(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS n_alpha_runs,
        CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS n_digit_runs,
        CAST(sum(length(regexp_replace(text, '[a-z0-9\s]', '', 'g'))) AS BIGINT) AS n_other_chars
        FROM documents GROUP BY 1 ORDER BY 1""",
    "lang_id" ->
      """SELECT lang, predicted, count(*) AS n FROM (
          SELECT lang,
            CASE
              WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
              WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
              WHEN s_de >= s_es THEN 'de'
              ELSE 'es' END AS predicted
          FROM (
            SELECT lang,
              len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                x -> x IN ('the','a','and','of','to'))) AS s_en,
              len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                x -> x IN ('le','la','les','et','des'))) AS s_fr,
              len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                x -> x IN ('der','die','und','das','ein'))) AS s_de,
              len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                x -> x IN ('el','los','las','y','una'))) AS s_es
            FROM documents))
        GROUP BY 1, 2 ORDER BY 1, 2""",
    "ann_cosine_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
          round(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
            (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
             * sqrt(list_dot_product(qv, qv))), 4) AS sim
        FROM embeddings, q
        ORDER BY sim DESC, vec_id LIMIT 50""",
    "ann_batch_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
        s AS (
          SELECT qid, e.vec_id,
            round(list_dot_product(v, qv) /
              (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
              4) AS sim
          FROM e, q WHERE e.vec_id != qid),
        r AS (SELECT qid, vec_id, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
          FROM s)
        SELECT qid, vec_id, sim FROM r WHERE rn <= 10
        ORDER BY qid, sim DESC, vec_id""",
    // The approximate-ANN recall contracts (round 9): DuckDB recomputes
    // the exact brute-force top-10's count / sum-of-sims / boundary sim
    // closed-form and asserts the recall booleans TRUE (thresholds with
    // one-hit margin below every observed SF value; BASELINE.md r9).
    "ann_lsh_topk" -> AnnSingleOracleSql,
    "ann_ivf_topk" -> AnnSingleOracleSql,
    "ann_pq_topk" -> AnnSingleOracleSql,
    "ann_ivfpq_topk" -> AnnSingleOracleSql,
    "ann_ivfpq_warm" -> AnnSingleOracleSql,
    // Round 10: warm (persisted-index) IVF — same probe, same contract.
    "ann_ivf_warm" -> AnnSingleOracleSql,
    "ann_ivf_batch_warm" -> AnnBatchOracleSql,
    // Round 9: incremental append over frozen centroids — same exact-
    // side contract, scored against the FULL grown corpus.
    "ann_ivf_append" -> AnnSingleOracleSql,
    "ann_lsh_batch_topk" -> AnnBatchOracleSql,
    "ann_ivf_batch_topk" -> AnnBatchOracleSql,
    "ann_ivfpq_batch_topk" -> AnnBatchOracleSql,
    "ann_ivfpq_batch_warm" -> AnnBatchOracleSql,
    // Closed-form hash-basis oracles (round 9): the LSH hyperplane
    // matrix is a data-independent constant (inlined), and the simhash
    // entries run the md5-low-64 token-hash basis DuckDB can recompute.
    "emb_neardup" -> EmbNearDupOracleSql,
    "jl_project" -> JlProjectOracleSql,
    // Round 9 (this round): exact pair mining — the oracle is the plain
    // all-pairs filter, so the gate proves the Spark side's int8
    // prescreen + triangle block join lossless on this corpus.
    "exact_cosine_pairs" ->
      // zero-norm exclusion mirrors the operator's contract explicitly:
      // a zero vector has no direction, and 0/0 cosine is NaN with
      // engine-divergent threshold semantics — both sides drop it
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings
          WHERE list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])) > 0),
        p AS (SELECT x.vec_id AS a, y.vec_id AS b,
            round(list_dot_product(x.v, y.v) /
              (sqrt(list_dot_product(x.v, x.v)) *
               sqrt(list_dot_product(y.v, y.v))), 4) AS cos
          FROM e x JOIN e y ON x.vec_id < y.vec_id)
        SELECT a, b, cos FROM p WHERE cos >= 0.35 ORDER BY a, b""",
    "simhash_buckets" -> SimhashBucketsOracleSql,
    "simhash_neardup_pairs" -> SimhashNearDupOracleSql,
    // Round 10: the last rows-only entry converted — exact global
    // dup stats + precision/recall-floor contract booleans.
    "semdedup" -> SemDedupOracleSql,
    // Round 10: the bucketed-layout entry — storage layout must never
    // change results, so the oracle is the PLAIN join.
    "bucketed_join" ->
      """SELECT o_orderkey, o_custkey,
        CAST(count(*) AS BIGINT) AS n_items,
        round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_custkey
        ORDER BY revenue DESC, o_orderkey LIMIT 100""",
    "q30_window_battery" ->
      """SELECT o_custkey, o_orderkey,
        row_number() OVER bydate AS rn,
        round(lag(o_totalprice, 1) OVER bydate, 2) AS prev_price,
        round(lead(o_totalprice, 1) OVER bydate, 2) AS next_price,
        round(first_value(o_totalprice) OVER bydate, 2) AS first_price,
        rank() OVER byprice AS price_rank,
        dense_rank() OVER byprice AS price_dense_rank,
        round(percent_rank() OVER byprice, 6) AS price_pct_rank,
        round(cume_dist() OVER byprice, 6) AS price_cume_dist
        FROM orders WHERE o_custkey < 200
        WINDOW bydate AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
          byprice AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        ORDER BY o_custkey, o_orderkey""",
    "q31_array_fns" ->
      """SELECT doc_id,
        len(toks) AS n_tokens,
        len(list_distinct(toks)) AS n_distinct,
        list_sort(toks)[1] AS tok_min,
        list_sort(toks)[-1] AS tok_max,
        array_to_string(list_sort(list_distinct(toks))[1:3], '-') AS first3,
        CAST(list_contains(toks, 'the') AS INT) AS has_the,
        len(list_filter(list_distinct(toks),
          x -> x IN ('the','a','of','and','to','in','is','on'))) AS n_stop_kinds
        FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
              FROM documents WHERE doc_id < 500)
        ORDER BY doc_id""",
    "q32_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows,
        CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q33_rolling_range" ->
      """SELECT user_id, event_id,
        count(*) OVER w AS n_1h,
        round(sum(value) OVER w, 2) AS sum_1h
        FROM events WHERE user_id < 50
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
          RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        ORDER BY user_id, event_id""",
    "q34_sliding_window" ->
      """SELECT time_bucket(INTERVAL '6 hours', ts) - k * INTERVAL '6 hours' AS w_start,
        event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) ks
        GROUP BY 1, 2 ORDER BY 1, 2""",
    "q35_conditional_agg" ->
      """SELECT o_orderpriority,
        CAST(count(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT) AS n_big,
        bool_or(o_orderstatus = 'F') AS any_f,
        bool_and(o_totalprice > 1000) AS all_over_1k,
        arg_max(o_orderstatus, o_orderkey) AS latest_status,
        arg_min(o_orderstatus, o_orderkey) AS first_status,
        round(avg(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS avg_f_price
        FROM orders GROUP BY 1 ORDER BY 1""",
    "q36_stratified_sample" ->
      """SELECT lang, count(*) AS n_sampled,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE lang WHEN 'en' THEN '14' WHEN 'fr' THEN '28'
                    WHEN 'de' THEN '46' ELSE '80' END
        GROUP BY 1 ORDER BY 1""",
    "q37_regexp_extract" ->
      """SELECT bucket, count(*) AS n_matches,
        CAST(count(DISTINCT num) AS BIGINT) AS n_distinct,
        CAST(max(length(num)) AS INT) AS max_len
        FROM (SELECT doc_id % 10 AS bucket,
                unnest(regexp_extract_all(text, '[0-9]+')) AS num
              FROM documents)
        GROUP BY 1 ORDER BY 1""",
    "cdc_chunk_dedup" ->
      """WITH tk AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents),
        cand AS (
          SELECT doc_id, toks,
            [0] || list_filter(range(4, len(toks)), b ->
              CAST(('0x' || substr(md5(array_to_string(toks[b-3:b], ' ')), 1, 8))
                AS BIGINT) % 16 = 0) || [len(toks)] AS bs0
          FROM tk),
        maxed AS (
          SELECT doc_id, toks,
            list_sort(bs0 || flatten(list_transform(range(len(bs0) - 1), j ->
              CASE WHEN bs0[j+2] - bs0[j+1] > 64
                THEN range(bs0[j+1] + 64, bs0[j+2], 64)
                ELSE range(0, 0) END))) AS bs
          FROM cand),
        inst AS (
          SELECT doc_id, j AS chunk_idx,
            bs[j+2] - bs[j+1] AS chunk_tokens,
            md5(array_to_string(toks[bs[j+1]+1 : bs[j+2]], ' ')) AS h
          FROM (SELECT doc_id, toks, bs, unnest(range(len(bs) - 1)) AS j
                FROM maxed)),
        ranked AS (
          SELECT doc_id, chunk_idx, chunk_tokens,
            row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
          FROM inst)
        SELECT doc_id % 10 AS bucket, count(*) AS n_chunks,
          CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(sum(chunk_tokens) AS BIGINT) AS sum_chunk_tokens,
          CAST(max(chunk_tokens) AS BIGINT) AS max_chunk_tokens,
          round(1.0 - CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 4) AS dup_ratio
        FROM ranked GROUP BY 1 ORDER BY 1""",
    "chunk_dedup" ->
      """WITH tk AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents),
        inst AS (
          SELECT doc_id, i AS chunk_idx,
            md5(array_to_string(toks[i*10+1:i*10+10], ' ')) AS h
          FROM (SELECT doc_id, toks, unnest(range((len(toks) + 9) // 10)) AS i
                FROM tk)),
        ranked AS (
          SELECT doc_id, chunk_idx,
            row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
          FROM inst)
        SELECT doc_id % 10 AS bucket, count(*) AS n_chunks,
          CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          round(1.0 - CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / count(*), 4) AS dup_ratio
        FROM ranked GROUP BY 1 ORDER BY 1""",
    "global_shuffle" ->
      """SELECT doc_id,
        row_number() OVER (
          ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS pos
        FROM documents ORDER BY doc_id""",
    "mixture_sample" ->
      """WITH n AS (SELECT count(*) AS total FROM documents),
        q AS (
          SELECT w.lang,
            least((SELECT count(*) FROM documents d WHERE d.lang = w.lang),
                  ((total * 200) // 1000) * w.pm // 1000) AS quota
          FROM (VALUES ('en', 500), ('de', 200), ('fr', 150), ('es', 100),
                       ('zh', 50)) AS w(lang, pm), n),
        r AS (
          SELECT doc_id, lang,
            row_number() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS rn
          FROM documents)
        SELECT r.doc_id, r.lang FROM r JOIN q ON r.lang = q.lang
        WHERE r.rn <= q.quota ORDER BY r.doc_id""",
    // Round 9: temperature mixture — the integer weight basis
    // (floor(sqrt(n*1e6)) + largest-remainder per-mille, ties by lang)
    // makes the derived policy engine-stable, so DuckDB recomputes
    // policy AND selection closed-form.
    "temperature_mixture" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        w AS (SELECT lang, n,
            CAST(floor(sqrt(n * 1000000.0)) AS BIGINT) AS wt FROM c),
        tot AS (SELECT CAST(sum(wt) AS BIGINT) AS ws,
            CAST(sum(n) AS BIGINT) AS total FROM w),
        b AS (SELECT lang, n, wt, ws, total,
            (wt * 1000) // ws AS base, (wt * 1000) % ws AS rem
          FROM w, tot),
        lo AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS leftover FROM b),
        rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk
          FROM b),
        pm AS (SELECT lang, n, total,
            base + (CASE WHEN rk <= (SELECT leftover FROM lo)
                         THEN 1 ELSE 0 END) AS pm
          FROM rk),
        q AS (SELECT lang,
            least(n, ((total * 200) // 1000) * pm // 1000) AS quota
          FROM pm),
        r AS (SELECT doc_id, lang,
            row_number() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS rn
          FROM documents)
        SELECT r.doc_id, r.lang FROM r JOIN q ON r.lang = q.lang
        WHERE r.rn <= q.quota ORDER BY r.doc_id""",
    // Round 10: non-default temperature T = 3/2 — weight basis is the
    // exact integer cube root of n^2 * 10^9, recomputed here as float
    // cbrt + a +-2 exact correction window over HUGEINT cubes (the
    // float root of these operands is within 1 of the true root, so
    // the window is generous); everything downstream is the same
    // integer largest-remainder policy as temperature_mixture.
    "temperature_mixture_t32" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        wx AS (SELECT lang, n,
            CAST(n AS HUGEINT) * CAST(n AS HUGEINT) * 1000000000 AS x,
            CAST(floor(cbrt(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e9))
              AS BIGINT) AS c0
          FROM c),
        w AS (SELECT lang, n,
            c0 + (CASE
              WHEN CAST(c0 + 2 AS HUGEINT) * (c0 + 2) * (c0 + 2) <= x THEN 2
              WHEN CAST(c0 + 1 AS HUGEINT) * (c0 + 1) * (c0 + 1) <= x THEN 1
              WHEN CAST(c0 AS HUGEINT) * c0 * c0 <= x THEN 0
              WHEN CAST(c0 - 1 AS HUGEINT) * (c0 - 1) * (c0 - 1) <= x THEN -1
              ELSE -2 END) AS wt
          FROM wx),
        tot AS (SELECT CAST(sum(wt) AS BIGINT) AS ws,
            CAST(sum(n) AS BIGINT) AS total FROM w),
        b AS (SELECT lang, n, wt, ws, total,
            (wt * 1000) // ws AS base, (wt * 1000) % ws AS rem
          FROM w, tot),
        lo AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS leftover FROM b),
        rk AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk
          FROM b),
        pm AS (SELECT lang, n, total,
            base + (CASE WHEN rk <= (SELECT leftover FROM lo)
                         THEN 1 ELSE 0 END) AS pm
          FROM rk),
        q AS (SELECT lang,
            least(n, ((total * 200) // 1000) * pm // 1000) AS quota
          FROM pm),
        r AS (SELECT doc_id, lang,
            row_number() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id) AS rn
          FROM documents)
        SELECT r.doc_id, r.lang FROM r JOIN q ON r.lang = q.lang
        WHERE r.rn <= q.quota ORDER BY r.doc_id""",
    "domain_cap" ->
      """WITH d AS (
          SELECT doc_id, 'h' || (doc_id % 50) AS host FROM documents),
        r AS (
          SELECT doc_id, host,
            row_number() OVER (PARTITION BY host
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM d)
        SELECT doc_id, host FROM r WHERE rn <= 5 ORDER BY doc_id""",
    "q52_range_agg_pushdown" ->
      """SELECT p.p_partkey % 50 AS bucket,
        CAST(count(*) AS BIGINT) AS n_matches,
        round(sum(e.value), 2) AS sum_value
        FROM part p JOIN events e
          ON epoch_ms(e.ts) >= 1704067200000 + (p.p_partkey % 29) * 86400000
         AND epoch_ms(e.ts) <  1704067200000 + (p.p_partkey % 29) * 86400000
                                + (p.p_partkey % 3 + 1) * 86400000
        GROUP BY 1 ORDER BY 1""",
    "q51_rare_token_ratio" ->
      """WITH tok AS (
          SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
        pd AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            CAST(sum(CASE WHEN cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
          FROM tok JOIN freq USING (tok) GROUP BY 1)
        SELECT doc_id % 10 AS bucket, count(*) AS n_docs,
          round(avg(CAST(n_rare AS DOUBLE) / n_tokens), 4) AS avg_rare_ratio,
          CAST(sum(CASE WHEN CAST(n_rare AS DOUBLE) / n_tokens > 0.5
            THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        FROM pd GROUP BY 1 ORDER BY 1""",
    "q49_repetition" ->
      """WITH tk AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents),
        g AS (
          SELECT doc_id, array_to_string(toks[i+1:i+3], ' ') AS g
          FROM (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS i
                FROM tk WHERE len(toks) >= 3)),
        pd AS (
          SELECT doc_id, CAST(count(DISTINCT g) AS DOUBLE) AS nd,
            CAST(count(*) AS DOUBLE) AS nt
          FROM g GROUP BY 1)
        SELECT doc_id % 10 AS bucket, count(*) AS n_docs,
          round(avg(1.0 - nd / nt), 4) AS avg_dup_ratio,
          CAST(sum(CASE WHEN 1.0 - nd / nt > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_flagged
        FROM pd GROUP BY 1 ORDER BY 1""",
    "q50_pii_scrub" ->
      """WITH inj AS (
          SELECT doc_id,
            CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' ||
                CAST(doc_id AS VARCHAR) || '@mail.example now'
              WHEN doc_id % 7 = 3 THEN 'call 555-01' ||
                lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' ||
                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' || text
              ELSE text END AS text
          FROM documents),
        s AS (
          SELECT doc_id,
            len(regexp_extract_all(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
            len(regexp_extract_all(text, '\d{3}-\d{4,6}-\d{4}')) AS n_phones,
            regexp_replace(regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '\d{3}-\d{4,6}-\d{4}', '<PHONE>', 'g') AS clean
          FROM inj)
        SELECT doc_id % 10 AS bucket,
          CAST(sum(n_emails) AS BIGINT) AS n_emails,
          CAST(sum(n_phones) AS BIGINT) AS n_phones,
          CAST(sum(len(regexp_extract_all(clean,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
            len(regexp_extract_all(clean, '\d{3}-\d{4,6}-\d{4}'))) AS BIGINT)
            AS n_survivors,
          CAST(sum(len(regexp_extract_all(clean, '<EMAIL>|<PHONE>'))) AS BIGINT)
            AS n_redactions
        FROM s GROUP BY 1 ORDER BY 1""",
    "q47_contamination" ->
      """WITH tk AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents),
        g AS (
          SELECT doc_id, array_to_string(toks[i+1:i+8], ' ') AS g
          FROM (SELECT doc_id, toks, unnest(range(len(toks) - 7)) AS i
                FROM tk WHERE len(toks) >= 8)),
        ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 199 = 0),
        cont AS (
          SELECT DISTINCT doc_id FROM g
          WHERE doc_id % 199 <> 0 AND g IN (SELECT g FROM ev))
        SELECT doc_id % 10 AS bucket,
          count(*) AS n_train_docs,
          CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM cont)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
        FROM tk WHERE len(toks) >= 8 AND doc_id % 199 <> 0
        GROUP BY 1 ORDER BY 1""",
    "q48_sequence_packing" ->
      """SELECT bucket, count(*) AS n_docs,
        CAST(max(bin) + 1 AS BIGINT) AS n_bins,
        CAST(sum(ntoks) AS BIGINT) AS sum_tokens,
        round(sum(ntoks) / ((max(bin) + 1) * 512.0), 4) AS avg_fill
        FROM (
          SELECT bucket, doc_id, ntoks,
            floor(coalesce(sum(ntoks) OVER (PARTITION BY bucket ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS bin
          FROM (SELECT doc_id, doc_id % 8 AS bucket,
                  len(regexp_split_to_array(lower(trim(text)), '\s+')) AS ntoks
                FROM documents))
        GROUP BY 1 ORDER BY 1""",
    "boilerplate_strip" ->
      """WITH tk AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents),
        base AS (SELECT doc_id, toks FROM tk WHERE len(toks) >= 3),
        pos AS (
          SELECT doc_id, array_to_string(toks[i+1:i+3], ' ') AS g
          FROM (SELECT doc_id, toks, unnest(range(len(toks) - 2)) AS i FROM base)),
        k AS (SELECT greatest(5, (4 * count(*) + 999) // 1000) AS k FROM base),
        boiler AS (
          SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM pos GROUP BY 1)
          WHERE df >= (SELECT k FROM k))
        SELECT p.doc_id % 10 AS bucket,
          count(DISTINCT p.doc_id) AS n_docs,
          count(*) AS n_pos,
          CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bp_pos,
          round(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) / count(*), 6) AS bp_ratio
        FROM pos p LEFT JOIN boiler b ON p.g = b.g
        GROUP BY 1 ORDER BY 1""",
    "bm25_topk" ->
      """WITH docs AS (
          SELECT doc_id, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS dl,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 1),
        stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl FROM docs),
        postings AS (
          SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
          WHERE term IN ('spark', 'join', 'window', 'hash')
          GROUP BY 1, 2, 3),
        dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM postings GROUP BY 1)
        SELECT doc_id,
          round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
            (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl * n / sumdl))), 6) AS score,
          count(*) AS n_terms_hit
        FROM postings JOIN dfs USING (term) CROSS JOIN stats
        GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 15""",
    // Brute force over shingle-sharing pairs — the prefix filter in
    // the Spark plan is lossless, so the hash gate proves it.
    "containment_neardup" ->
      """WITH tk AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents),
        sh AS (
          SELECT doc_id, list_distinct(list_transform(range(len(toks) - 2),
            i -> array_to_string(toks[i+1:i+3], ' '))) AS s
          FROM tk WHERE len(toks) >= 3),
        good AS (SELECT doc_id, s FROM sh WHERE len(s) >= 5),
        inv AS (SELECT doc_id, unnest(s) AS g FROM good),
        cand AS (
          SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id <> y.doc_id)
        SELECT a, b,
          CAST(len(ga.s) AS BIGINT) AS na,
          CAST(len(list_intersect(ga.s, gb.s)) AS BIGINT) AS inter,
          round(len(list_intersect(ga.s, gb.s))::DOUBLE / len(ga.s), 4) AS containment
        FROM cand
        JOIN good ga ON ga.doc_id = cand.a
        JOIN good gb ON gb.doc_id = cand.b
        WHERE len(list_intersect(ga.s, gb.s))::DOUBLE / len(ga.s) >= 0.8
        ORDER BY a, b""",
    "containment_hot_audit" ->
      """WITH tk AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents),
        sh AS (
          SELECT doc_id, list_distinct(list_transform(range(len(toks) - 2),
            i -> array_to_string(toks[i+1:i+3], ' '))) AS s
          FROM tk WHERE len(toks) >= 3),
        good AS (SELECT doc_id, s FROM sh WHERE len(s) >= 5),
        inv AS (SELECT doc_id, unnest(s) AS g FROM good),
        df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM inv GROUP BY g)
        SELECT g, df, CAST((df - 1) * (df - 2) AS BIGINT) AS skipped_pairs
        FROM df WHERE df > 4 ORDER BY g""",
    "hybrid_retrieval" ->
      """WITH docs AS (
          SELECT doc_id, len(regexp_split_to_array(lower(trim(text)), '\s+')) AS dl,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 1),
        stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) AS sumdl FROM docs),
        postings AS (
          SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
          FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
          WHERE term IN ('spark', 'join', 'window', 'hash')
          GROUP BY 1, 2, 3),
        dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM postings GROUP BY 1),
        bm AS (
          SELECT doc_id,
            round(sum(ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
              (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl * n / sumdl))), 6) AS bm25
          FROM postings JOIN dfs USING (term) CROSS JOIN stats
          GROUP BY doc_id
          ORDER BY bm25 DESC, doc_id LIMIT 50),
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id = 0)
        SELECT doc_id, bm25,
          round(list_dot_product(CAST(e.embedding AS DOUBLE[]), qv) /
            (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(qv, qv))), 4) AS sim
        FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id, q
        ORDER BY sim DESC, doc_id LIMIT 10""",
    "text_normalize" ->
      """WITH deco AS (
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN replace(text, 'a', 'a' || chr(769))
                 WHEN doc_id % 3 = 1 THEN replace(text, 'o', 'o' || chr(776))
                 ELSE text END AS d
          FROM documents),
        n AS (SELECT doc_id, d, nfc_normalize(d) AS nd FROM deco)
        SELECT doc_id % 10 AS bucket,
          count(*) AS n_docs,
          CAST(sum(CASE WHEN nd <> d THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
          CAST(sum(length(d)) AS BIGINT) AS chars_decomposed,
          CAST(sum(length(nd)) AS BIGINT) AS chars_nfc
        FROM n GROUP BY 1 ORDER BY 1""",
    "bpe_train" -> BpeTrainOracleSql,
    "bpe_encode" -> BpeEncodeOracleSql,
    "mmr_rerank" -> MmrRerankOracleSql,
    "page_rank" -> PageRankOracleSql,
    // Kneser-Ney: all counts from the bigram-type CTE, identical
    // parenthesization of the interpolated probability.
    "kn_bigram_lm" ->
      """WITH tk AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 2),
        bi AS (SELECT doc_id, toks[i+1] AS w1, toks[i+2] AS w2
          FROM (SELECT doc_id, toks, unnest(range(len(toks) - 1)) AS i FROM tk)),
        cb AS MATERIALIZED (SELECT w1, w2, count(*) AS cab FROM bi GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(sum(cab) AS DOUBLE) AS cw1, CAST(count(*) AS DOUBLE) AS n1r
          FROM cb GROUP BY 1),
        c2 AS (SELECT w2, CAST(count(*) AS DOUBLE) AS n1l FROM cb GROUP BY 1),
        tt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM cb),
        p AS (SELECT cb.w1, cb.w2,
            (CAST(cab AS DOUBLE) - 0.75) / cw1 + ((0.75 * n1r) / cw1) * (n1l / t) AS pkn
          FROM cb JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tt)
        SELECT doc_id, round(sum(ln(pkn)) / CAST(count(*) AS DOUBLE), 6) + 0.0 AS mean_logp
        FROM bi JOIN p USING (w1, w2)
        GROUP BY doc_id
        ORDER BY mean_logp DESC, doc_id LIMIT 20""",
    // DSIR oracle: same hashed-bucket LMs (md5 low-64 & 4095, add-1
    // smoothing), same per-position delta sum, same md5-uniform
    // Gumbel keys; a - b == a + (-b) in IEEE so the key expression
    // matches the Spark side bit-for-bit before rounding.
    "dsir_sample" ->
      """WITH tk AS (
          SELECT doc_id,
            list_contains(regexp_split_to_array(lower(trim(text)), '\s+'), 'dup') AS tgt,
            regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents WHERE trim(text) <> ''),
        tok AS (SELECT doc_id, tgt, md5_number_lower(w) & 4095 AS b
          FROM (SELECT doc_id, tgt, unnest(toks) AS w FROM tk)),
        bkt AS MATERIALIZED (SELECT b, count(*) AS cr,
            sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
          FROM tok GROUP BY 1),
        tots AS (SELECT CAST(sum(cr) AS DOUBLE) AS tr, CAST(sum(ct) AS DOUBLE) AS tt FROM bkt),
        d AS (SELECT b,
            ln(CAST(ct + 1 AS DOUBLE) / (tt + 4096.0)) -
            ln(CAST(cr + 1 AS DOUBLE) / (tr + 4096.0)) AS delta
          FROM bkt, tots),
        lw AS (SELECT doc_id, sum(delta) / CAST(count(*) AS DOUBLE) AS mlw
          FROM tok JOIN d USING (b) GROUP BY 1)
        SELECT doc_id, round(mlw, 6) + 0.0 AS mean_logw,
          round(50.0 * mlw + -ln(-ln(((md5_number_lower(CAST(doc_id AS VARCHAR) || ':dsir') >> 11)::DOUBLE
                + 0.5) / 9007199254740992.0)), 6) + 0.0 AS gumbel_key
        FROM lw
        ORDER BY gumbel_key DESC, doc_id LIMIT 50""",
    // PMI from integer-exact counts; same operand order and explicit
    // double casts as the Spark side.
    "pmi_cooccur" ->
      """WITH tk AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents WHERE trim(text) <> ''),
        uni AS (SELECT unnest(toks) AS w FROM tk),
        uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
        tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM uni),
        bi AS (SELECT toks[i+1] AS a, toks[i+2] AS b
          FROM (SELECT toks, unnest(range(len(toks) - 1)) AS i FROM tk WHERE len(toks) >= 2)),
        bc AS (SELECT a, b, count(*) AS cab FROM bi GROUP BY 1, 2),
        ptot AS (SELECT CAST(count(*) AS DOUBLE) AS p FROM bi)
        SELECT a, b, CAST(cab AS BIGINT) AS n_pair,
          round(ln((CAST(cab AS DOUBLE) * t * t) /
            (p * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 6) + 0.0 AS pmi
        FROM bc JOIN uc ua ON ua.w = bc.a JOIN uc ub ON ub.w = bc.b
        CROSS JOIN tot CROSS JOIN ptot
        WHERE cab >= 5
        ORDER BY pmi DESC, a, b LIMIT 30""",
    // bitext_mine oracle: full bipartite recompute — exact cosines,
    // per-side top-k averages, ratio margins, mutual-best via two
    // row_number windows, same 1e-6 rounding (+0.0) and tie-breaks.
    "bitext_mine" ->
      """WITH d AS (SELECT doc_id, lang FROM documents),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        x AS (SELECT vec_id AS xid, v AS xv FROM e JOIN d ON d.doc_id = e.vec_id WHERE lang = 'en'),
        y AS (SELECT vec_id AS yid, v AS yv FROM e JOIN d ON d.doc_id = e.vec_id WHERE lang = 'de'),
        s AS (SELECT xid, yid,
            round(list_dot_product(xv, yv) /
              (sqrt(list_dot_product(xv, xv)) * sqrt(list_dot_product(yv, yv))), 6) + 0.0 AS sim
          FROM x, y),
        kx AS (SELECT xid, avg(sim) AS ax FROM (
            SELECT xid, sim, row_number() OVER (PARTITION BY xid ORDER BY sim DESC, yid) AS rn FROM s)
          WHERE rn <= 4 GROUP BY xid),
        ky AS (SELECT yid, avg(sim) AS ay FROM (
            SELECT yid, sim, row_number() OVER (PARTITION BY yid ORDER BY sim DESC, xid) AS rn FROM s)
          WHERE rn <= 4 GROUP BY yid),
        m AS (SELECT s.xid, s.yid, round(sim / ((ax + ay) / 2), 6) + 0.0 AS margin
          FROM s JOIN kx ON kx.xid = s.xid JOIN ky ON ky.yid = s.yid),
        fwd AS (SELECT xid, yid, margin,
            row_number() OVER (PARTITION BY xid ORDER BY margin DESC, yid) AS rf FROM m),
        bwd AS (SELECT xid, yid,
            row_number() OVER (PARTITION BY yid ORDER BY margin DESC, xid) AS rb FROM m)
        SELECT f.xid AS x_id, f.yid AS y_id, f.margin
        FROM fwd f JOIN bwd b ON b.xid = f.xid AND b.yid = f.yid
        WHERE f.rf = 1 AND b.rb = 1 AND f.margin >= 1.05
        ORDER BY f.xid""",
    "weighted_sample" ->
      """SELECT doc_id, n_chars,
          round(ln(((md5_number_lower(CAST(doc_id AS VARCHAR) || ':ws') >> 11)::DOUBLE
                    + 0.5) / 9007199254740992.0)
                / CAST(n_chars AS DOUBLE), 6) + 0.0 AS es_key
        FROM documents
        ORDER BY es_key DESC, doc_id LIMIT 100""",
    "token_shard_assign" ->
      """SELECT shard_id, count(*) AS n_docs,
        CAST(sum(ntoks) AS BIGINT) AS sum_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM (
          SELECT doc_id, ntoks,
            CAST(floor(coalesce(sum(ntoks) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512)
              AS BIGINT) AS shard_id
          FROM (SELECT doc_id,
                  len(regexp_split_to_array(lower(trim(text)), '\s+')) AS ntoks
                FROM documents))
        GROUP BY 1 ORDER BY 1""",
    // Full closed-form replay of the diversity pick: seed centroids
    // (32 lowest-id vectors), argmax-cosine assignment (tie lowest
    // cid; list_dot_product matches the native kernel bit for bit),
    // and the hashed-linear quality score.
    "diverse_sample" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e
          ORDER BY vec_id LIMIT 32),
        a AS (SELECT id, cid FROM (
            SELECT e.vec_id AS id, c.cid,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY list_dot_product(v, cv) /
                  (sqrt(list_dot_product(v, v)) *
                   sqrt(list_dot_product(cv, cv))) DESC, c.cid) AS rn
            FROM e, c) WHERE rn = 1),
        sc AS (SELECT doc_id,
            round(0.5 + 0.5 * z / (1.0 + abs(z)), 4) AS score
          FROM (
            SELECT doc_id, (meanw / 2048.0 - 1.0) * 6.0 AS z
            FROM (
              SELECT doc_id,
                list_sum(list_transform(toks,
                  tk -> CAST((md5_number_lower(tk) >> 3) & 4095 AS DOUBLE)))
                  / CAST(len(toks) AS DOUBLE) AS meanw
              FROM (SELECT doc_id,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                FROM documents)))),
        f AS (SELECT cid, doc_id, score,
            row_number() OVER (PARTITION BY cid
              ORDER BY score DESC, doc_id) AS rn,
            count(*) OVER (PARTITION BY cid) AS n_in_cluster,
            max(score) OVER (PARTITION BY cid) AS best_score
          FROM a JOIN sc ON a.id = sc.doc_id)
        SELECT cid, CAST(n_in_cluster AS BIGINT) AS n_in_cluster,
          doc_id AS pick, round(best_score, 4) AS best_score
        FROM f WHERE rn = 1 ORDER BY cid""",
    // Same hashed-linear score closed form as quality_classifier; the
    // running token count follows the (score DESC, doc_id) order and
    // the budget is exact integer arithmetic.
    "token_budget_pack" ->
      """WITH sc AS (
          SELECT doc_id,
            round(0.5 + 0.5 * z / (1.0 + abs(z)), 4) AS score, ntoks
          FROM (
            SELECT doc_id, (meanw / 2048.0 - 1.0) * 6.0 AS z, ntoks
            FROM (
              SELECT doc_id,
                list_sum(list_transform(toks,
                  tk -> CAST((md5_number_lower(tk) >> 3) & 4095 AS DOUBLE)))
                  / CAST(len(toks) AS DOUBLE) AS meanw,
                CAST(len(toks) AS BIGINT) AS ntoks
              FROM (SELECT doc_id,
                  regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                FROM documents)))),
        tot AS (SELECT CAST(sum(ntoks) AS BIGINT) AS t,
            CAST(sum(ntoks) AS BIGINT) * 2 // 5 AS b FROM sc),
        ps AS (SELECT score, ntoks,
            coalesce(sum(ntoks) OVER (ORDER BY score DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
          FROM sc)
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(CASE WHEN excl + ntoks <= b THEN 1 ELSE 0 END) AS BIGINT)
            AS n_kept,
          t AS tokens_total, b AS budget,
          CAST(sum(CASE WHEN excl + ntoks <= b THEN ntoks ELSE 0 END)
            AS BIGINT) AS tokens_kept,
          min(CASE WHEN excl + ntoks <= b THEN score END) AS min_kept_score,
          max(CASE WHEN excl + ntoks <= b THEN NULL ELSE score END)
            AS max_dropped_score
        FROM ps, tot GROUP BY t, b""",
    "winnow_fingerprint" ->
      """WITH tk AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents),
        pos AS (
          SELECT doc_id, unnest(range(len(toks) - 4)) AS i, toks
          FROM tk WHERE len(toks) >= 5),
        sh AS (
          SELECT doc_id, i, md5(array_to_string(toks[i+1:i+5], ' ')) AS h
          FROM pos),
        win AS (
          SELECT doc_id, i,
            min(h) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
            count(*) OVER (PARTITION BY doc_id) AS nsh
          FROM sh),
        fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE i <= greatest(nsh - 4, 0))
        SELECT doc_id % 10 AS bucket,
          count(*) AS n_fps,
          CAST(count(DISTINCT fp) AS BIGINT) AS n_uniq_fps,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM fps GROUP BY 1 ORDER BY 1""",
    "q38_bloom_join" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS y,
        count(*) AS n_items,
        round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_totalprice > 400000
        GROUP BY 1 ORDER BY 1""",
    "bpe_token_stats" ->
      """SELECT bucket, count(*) AS n_tokens,
        CAST(count(DISTINCT tok) AS BIGINT) AS n_uniq_tokens,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        CAST(sum(length(tok)) AS BIGINT) AS sum_tok_chars
        FROM (SELECT doc_id % 10 AS bucket, doc_id,
                unnest(regexp_extract_all(lower(text),
                  '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+')) AS tok
              FROM documents)
        GROUP BY 1 ORDER BY 1""",
    "q39_null_fns" ->
      """SELECT p_partkey,
        coalesce(a, b, -1) AS first_present,
        nullif(a, b) AS null_if_equal,
        CASE WHEN a IS NOT NULL THEN 'has_a' ELSE 'no_a' END AS nvl2_style,
        a IS NOT DISTINCT FROM b AS null_safe_eq,
        (a IS NULL AND b IS NULL) AS both_null
        FROM (SELECT p_partkey,
                CASE WHEN p_partkey % 3 = 0 THEN NULL ELSE p_partkey % 7 END AS a,
                CASE WHEN p_partkey % 5 = 0 THEN NULL ELSE p_partkey % 7 END AS b
              FROM part WHERE p_partkey < 2000)
        ORDER BY p_partkey""",
    "q40_set_ops_all" ->
      """WITH sn AS (SELECT s_nationkey % 10 AS nk FROM supplier),
        cn AS (SELECT c_nationkey % 10 AS nk FROM customer)
        SELECT
          (SELECT count(*) FROM (SELECT nk FROM sn UNION ALL SELECT nk FROM cn)) AS n_union_all,
          (SELECT count(*) FROM (SELECT nk FROM sn EXCEPT ALL SELECT nk FROM cn)) AS n_except_all,
          (SELECT count(*) FROM (SELECT nk FROM sn INTERSECT ALL SELECT nk FROM cn)) AS n_intersect_all""",
    "q41_higher_order" ->
      """SELECT doc_id,
        CAST(list_sum(list_transform(toks, x -> length(x))) AS INT) AS sum_tok_len,
        CAST(len(list_filter(toks, x -> length(x) > 4)) AS INT) AS n_long_toks,
        list_contains(toks, 'the') AS has_the,
        len(list_filter(toks, x -> length(x) >= 20)) = 0 AS all_short,
        CAST(list_sum(list_transform(generate_series(1, len(toks)),
          i -> CASE WHEN toks[i] = toks[len(toks) + 1 - i] THEN 1 ELSE 0 END))
          AS INT) AS n_palindrome_pos
        FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
              FROM documents WHERE doc_id < 300)
        ORDER BY doc_id""",
    "q42_date_arithmetic" ->
      """SELECT o_orderkey,
        CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus_30d,
        CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT)
          AS days_to_98,
        CAST((1998 - year(o_orderdate)) * 12 + (1 - month(o_orderdate)) AS INT)
          AS months_to_98,
        CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_start,
        CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
        CAST(quarter(o_orderdate) AS INT) AS q
        FROM orders WHERE o_orderkey < 5000
        ORDER BY o_orderkey""",
    "q43_try_cast" ->
      """SELECT p_partkey,
        TRY_CAST(intcell AS BIGINT) AS as_long,
        TRY_CAST(cell AS DOUBLE) AS as_double,
        CAST(TRY_CAST(datecell AS DATE) AS VARCHAR) AS as_date,
        coalesce(TRY_CAST(cell AS DOUBLE), -1.0) AS coerced
        FROM (SELECT p_partkey,
          CASE WHEN p_partkey % 4 = 0 THEN CAST(p_partkey AS VARCHAR)
               WHEN p_partkey % 4 = 1 THEN 'abc'
               WHEN p_partkey % 4 = 2 THEN CAST(p_partkey % 100 AS VARCHAR) || '.25'
               ELSE '' END AS cell,
          CASE WHEN p_partkey % 3 = 0 THEN CAST(p_partkey AS VARCHAR)
               WHEN p_partkey % 3 = 1 THEN 'xyz'
               ELSE '' END AS intcell,
          CASE WHEN p_partkey % 3 = 0 THEN '2020-01-15'
               WHEN p_partkey % 3 = 1 THEN '2020-13-01'
               ELSE 'nope' END AS datecell
          FROM part WHERE p_partkey < 2000)
        ORDER BY p_partkey""",
    "corpus_funnel" ->
      """WITH q AS (
          SELECT doc_id,
            md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
          FROM documents
          WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 5
            AND n_chars >= 30),
        u AS (SELECT fp, min(doc_id) AS doc_id FROM q GROUP BY fp),
        s AS (SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
            THEN 'test' ELSE 'train' END AS split FROM u)
        SELECT
          (SELECT count(*) FROM documents) AS n_total,
          (SELECT count(*) FROM q) AS n_quality,
          (SELECT count(*) FROM u) AS n_unique,
          CAST((SELECT count(*) FROM s WHERE split = 'train') AS BIGINT) AS n_train,
          CAST((SELECT count(*) FROM s WHERE split = 'test') AS BIGINT) AS n_test""",
    "corpus_diff" ->
      """WITH cur AS (SELECT doc_id, md5(text) AS fp FROM documents),
        prev AS (
          SELECT doc_id,
            md5(CASE WHEN doc_id % 7 = 2 THEN text || ' v1' ELSE text END) AS fp
          FROM documents WHERE doc_id % 11 <> 3
          UNION ALL
          SELECT -doc_id - 1 AS doc_id, md5(text) AS fp
          FROM documents WHERE doc_id % 17 = 4)
        SELECT COALESCE(cur.doc_id, prev.doc_id) AS doc_id,
          CASE WHEN prev.doc_id IS NULL THEN 'added'
               WHEN cur.doc_id IS NULL THEN 'removed'
               WHEN cur.fp <> prev.fp THEN 'changed'
               ELSE 'unchanged' END AS status
        FROM cur FULL OUTER JOIN prev ON cur.doc_id = prev.doc_id
        ORDER BY doc_id""",
    "q44_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1""",
    "fuzzy_join" ->
      """WITH a AS (SELECT DISTINCT split_part(p_name, ' ', 1) AS s FROM part),
        b AS (SELECT DISTINCT CASE WHEN length(s) > 3
            THEN substr(s, 1, length(s) - 1) ELSE s END AS t FROM a)
        SELECT count(*) AS n_pairs,
          CAST(count(DISTINCT s) AS BIGINT) AS n_left_matched,
          CAST(count(DISTINCT t) AS BIGINT) AS n_right_matched
        FROM a JOIN b ON levenshtein(s, t) <= 1""",
    "q45_typed_agg" ->
      """SELECT event_type, round(var_samp(value), 4) AS var_value
        FROM events GROUP BY 1 ORDER BY 1""",
    "q46_subqueries" ->
      """SELECT
        (SELECT count(*) FROM customer c WHERE EXISTS
          (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000))
          AS n_big_customers,
        (SELECT count(*) FROM customer WHERE c_custkey IN
          (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
          AS n_f_customers,
        (SELECT count(*) FROM customer WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
          AS n_not_f,
        (SELECT count(*) FROM customer WHERE c_custkey NOT IN
          (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END
           FROM orders)) AS n_not_in_with_nulls,
        (SELECT round(max(o_totalprice), 2) FROM orders) AS max_price""",
    "unigram_lm_quality" ->
      """WITH tok AS (
          SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
          FROM documents),
        freq AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
                       CAST(count(*) AS DOUBLE) AS n_vocab FROM freq),
        pd AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
            sum(-log2((cnt + 1) / (n_total + n_vocab))) AS nll
          FROM tok JOIN freq USING (tok), tot GROUP BY 1)
        SELECT doc_id % 10 AS bucket, count(*) AS n_docs,
          round(avg(nll / n_tokens), 4) AS avg_bits_per_token,
          CAST(sum(CASE WHEN round(nll / n_tokens, 6) > 5.2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high_ppl
        FROM pd GROUP BY 1 ORDER BY 1""",
    "heavy_hitters_topk" ->
      """WITH tok AS (
          SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
          FROM documents)
        SELECT tok, count(*) AS cnt FROM tok
        GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 10""",
    "knn_classify" ->
      """WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
          FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
        s AS (
          SELECT qid, e.vec_id, e.label,
            list_dot_product(v, qv) /
              (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
              AS sim
          FROM e CROSS JOIN q WHERE e.vec_id >= 10),
        top AS (
          SELECT * FROM (
            SELECT *, row_number() OVER
              (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
            FROM s) WHERE rn <= 5),
        v AS (SELECT qid, label, count(*) AS votes FROM top GROUP BY 1, 2)
        SELECT qid, CAST(label AS BIGINT) AS pred_label, votes FROM (
          SELECT *, row_number() OVER
            (PARTITION BY qid ORDER BY votes DESC, label) AS rn
          FROM v) WHERE rn = 1 ORDER BY qid""",
    "vocab_build" ->
      """WITH freq AS (
          SELECT tok, count(*) AS cnt FROM (
            SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
            FROM documents) GROUP BY 1)
        SELECT row_number() OVER (ORDER BY cnt DESC, tok) - 1 AS vocab_id,
          tok, cnt
        FROM freq ORDER BY vocab_id""",
    "duplicate_spans" ->
      """WITH tk AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents),
        w AS (
          SELECT doc_id, i AS pos,
            md5(array_to_string(toks[i+1:i+10], ' ')) AS h
          FROM (SELECT doc_id, toks, unnest(range(len(toks) - 9)) AS i
                FROM tk WHERE len(toks) >= 10)),
        dup AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        d AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM dup)),
        r AS (SELECT doc_id, pos,
            CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
              THEN 0 ELSE 1 END AS nr
          FROM d),
        runs AS (SELECT doc_id, pos,
            sum(nr) OVER (PARTITION BY doc_id ORDER BY pos) AS run
          FROM r),
        spans AS (SELECT doc_id, min(pos) AS span_start,
            max(pos) - min(pos) + 10 AS span_tokens
          FROM runs GROUP BY doc_id, run)
        SELECT doc_id % 10 AS bucket,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_with_dups,
          count(*) AS n_spans,
          CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
          CAST(max(span_tokens) AS BIGINT) AS max_span_tokens
        FROM spans GROUP BY 1 ORDER BY 1""",
    "duplicate_spans_sampled" ->
      """WITH tk AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
          FROM documents),
        w0 AS (
          SELECT doc_id, i AS pos,
            md5(array_to_string(toks[i+1:i+10], ' ')) AS h
          FROM (SELECT doc_id, toks, unnest(range(len(toks) - 9)) AS i
                FROM tk WHERE len(toks) >= 10)),
        w AS (
          SELECT doc_id, pos, h FROM w0
          WHERE CAST(('0x' || substr(h, 1, 8)) AS BIGINT) % 8 = 0),
        dup AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        d AS (SELECT doc_id, pos FROM w WHERE h IN (SELECT h FROM dup)),
        r AS (SELECT doc_id, pos,
            CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 10
              THEN 0 ELSE 1 END AS nr
          FROM d),
        runs AS (SELECT doc_id, pos,
            sum(nr) OVER (PARTITION BY doc_id ORDER BY pos) AS run
          FROM r),
        spans AS (SELECT doc_id, min(pos) AS span_start,
            max(pos) - min(pos) + 10 AS span_tokens
          FROM runs GROUP BY doc_id, run)
        SELECT doc_id % 10 AS bucket,
          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_with_dups,
          count(*) AS n_spans,
          CAST(sum(span_tokens) AS BIGINT) AS dup_tokens,
          CAST(max(span_tokens) AS BIGINT) AS max_span_tokens
        FROM spans GROUP BY 1 ORDER BY 1""",
    "media_dedup" ->
      """WITH f AS (
          -- frame by BYTES (not characters): hex(encode(..)) is ASCII, so
          -- VARCHAR substr at 2x offsets slices the UTF-8 byte payload
          -- exactly like Spark's binary substring — encoding-independent.
          SELECT DISTINCT doc_id, substr(hx, i*512 + 1, 512) AS fh
          FROM (SELECT doc_id, hex(encode(text)) AS hx,
                  unnest(range((octet_length(encode(text)) + 255) // 256)) AS i
                FROM documents)),
        pairable AS (
          SELECT fh FROM f GROUP BY fh HAVING count(*) BETWEEN 2 AND 16),
        k AS (SELECT doc_id, fh FROM f
              WHERE fh IN (SELECT fh FROM pairable)),
        p AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS sf
              FROM k x JOIN k y ON x.fh = y.fh AND x.doc_id < y.doc_id
              GROUP BY 1, 2 HAVING count(*) >= 2),
        g AS (SELECT md5(text) AS ch, count(*) AS n
              FROM documents GROUP BY 1 HAVING count(*) >= 2)
        SELECT
          (SELECT count(*) FROM g) AS n_exact_groups,
          (SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT) FROM g)
            AS n_removable_docs,
          (SELECT count(*) FROM p) AS n_neardup_pairs,
          (SELECT CAST(coalesce(sum(sf), 0) AS BIGINT) FROM p)
            AS n_shared_frames""",
    "quality_cutoff" ->
      """WITH c AS (
          SELECT lang, quantile_cont(n_chars, 0.25) AS cutoff
          FROM documents GROUP BY 1)
        SELECT lang, count(*) AS n_docs,
          CAST(sum(CASE WHEN n_chars >= cutoff THEN 1 ELSE 0 END) AS BIGINT)
            AS n_kept,
          round(max(cutoff), 4) AS cutoff,
          CAST(sum(CASE WHEN n_chars >= cutoff THEN n_chars ELSE 0 END)
            AS BIGINT) AS kept_chars
        FROM documents JOIN c USING (lang)
        GROUP BY 1 ORDER BY 1""",
    "funnel_depth" ->
      """WITH v AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1),
        c AS (
          SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        p AS (
          SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1),
        u AS (SELECT DISTINCT user_id FROM events)
        SELECT CASE WHEN p.user_id IS NOT NULL THEN 3
                    WHEN c.user_id IS NOT NULL THEN 2
                    WHEN v.user_id IS NOT NULL THEN 1 ELSE 0 END AS depth,
          count(*) AS n_users
        FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
               LEFT JOIN p USING (user_id)
        GROUP BY 1 ORDER BY 1""",
    "p6_workbooks_distributed" ->
      """SELECT CAST(c_custkey % 8 AS INT) AS bucket,
        count(*) AS n,
        CAST(sum(c_custkey) AS BIGINT) AS sum_key,
        min(c_name) AS min_name,
        max(c_mktsegment) AS max_segment
        FROM customer WHERE c_custkey <= 12000
        GROUP BY 1 ORDER BY 1""",
    "semdedup_planted" ->
      """SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_vectors,
        (SELECT CAST(count(*) AS BIGINT) FROM embeddings x
          JOIN embeddings y ON y.vec_id = x.vec_id + 1
          WHERE x.vec_id >= 1000000000
            AND (x.vec_id % 1000000000) % 50 = 0) AS n_planted_pairs,
        TRUE AS planted_recall_ok""")
}
