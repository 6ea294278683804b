package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.{ColumnBridge, DotProduct, SortedIntersectSize}

/** Public facade over the native Catalyst vector kernels
  * (org.apache.spark.sql.graft.DotProduct).
  *
  * `aggregate(zip_with(a, b, _*_), 0d, _+_)` computes a dot product
  * through interpreted higher-order lambdas — fine for one query, a
  * bottleneck when reranking millions of candidate vectors. The native
  * expression is a codegen'd tight loop with implicit
  * array<float> -> array<double> input casting.
  */
object VectorExpressions {

  /** Codegen'd dot product over two numeric-array columns. */
  def dot_product(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Cosine similarity built on the native dot product. */
  def cosine_similarity(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    dot_product(a, b) / (sqrt(dot_product(a, a)) * sqrt(dot_product(b, b)))
  }

  /** Codegen'd exact integer dot product over two int8-quantized
    * vectors (array<byte>) — the prescreen side of lossless
    * filter-and-refine ([[graft.operators.Similarity.exactCosinePairs]]).
    */
  def byte_dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.ByteDot(
        ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd |a ∩ b| for two sorted, distinct string arrays (one
    * merge pass; no per-row hash sets). |a ∪ b| = size(a)+size(b)-∩.
    */
  def sorted_intersect_size(a: Column, b: Column): Column =
    ColumnBridge.column(
      SortedIntersectSize(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** All `tables` sign-random-projection LSH buckets for a vector in
    * one codegen'd pass (array<long>, one bucket id per table) — the
    * map-only replacement for the explode + per-plane-sum shape.
    */
  def sign_project(v: Column, bits: Int, tables: Int): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.SignProjection(
        ColumnBridge.expression(v), bits, tables))

  /** Codegen'd nearest-centroid assignment against a driver-side
    * (cid, centroid) table — the map-only replacement for the
    * crossJoin+max_by shape (highest cosine, ties to lowest cid).
    */
  def nearest_centroid(v: Column, centroids: Seq[(Long, Seq[Double])]): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.NearestCentroid(
        ColumnBridge.expression(v), centroids))

  /** Low 64 bits of md5 (little-endian digest bytes 8..15) — DuckDB's
    * `md5_number_lower` twin; use BIT ops only (see kernel scaladoc).
    */
  def md5_lower64(s: Column): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.Md5Lower64(ColumnBridge.expression(s)))

  /** Whole GA4GH phenopacket rendered as JSON in one codegen'd pass
    * over the patient's bundle arrays — the non-HOF replacement for
    * `to_json(struct(...transform×5...))`, byte-identical to it
    * (PipelineSpec pins equality). Genotype records must carry the
    * pre-shuffle `gnorm`/`genocode` render columns that
    * [[graft.p6.Assemble.groupByPatient]] appends.
    */
  def phenopacket_json(patientId: Column, phen: Column, geno: Column,
      dis: Column, meas: Column, bios: Column): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.PhenopacketJson(
        Seq(patientId, phen, geno, dis, meas, bios)
          .map(ColumnBridge.expression)))

  /** Unicode NFC normalization, codegen'd (DuckDB `nfc_normalize`
    * twin); fast-paths already-composed text with zero allocation.
    */
  def nfc_normalize(s: Column): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.NfcNormalize(ColumnBridge.expression(s)))

  /** One BPE training round's greedy left-to-right merge of the
    * adjacent pair (left, right) into `left+"+"+right` over a token
    * array — one codegen'd O(len) pass per document (the `aggregate`
    * HOF fold it replaces is O(len²) per document).
    */
  def bpe_merge_step(tokens: Column, left: String, right: String): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.BpeMergeStep(
        ColumnBridge.expression(tokens), left, right))

  /** All m product-quantization codes of a vector in one compiled
    * pass (array<int>, one argmin-L2 code per subspace) — the
    * map-only PQ encoder ([[graft.operators.Similarity.pqEncode]]).
    */
  def pq_encode(v: Column, codebook: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.PqEncodeCodes(
        ColumnBridge.expression(v), codebook))

  /** Whole-document MinHash signature in one codegen'd pass — the
    * map-only replacement for shingle_explode + minhash_agg (bit-
    * identical signatures, no generator rows, no groupBy exchange).
    */
  def minhash_signature(tokens: Column, shingleLen: Int, numPerm: Int): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.MinHashSignature(
        ColumnBridge.expression(tokens), shingleLen, numPerm))

  /** 64-bit SimHash of a token array in one codegen'd pass — the
    * map-only replacement for the explode + 64-sum-column aggregate.
    * `md5Basis = true` uses md5-low-64 per-token hashes (DuckDB's
    * `md5_number_lower`) so the signature has a closed-form SQL twin.
    */
  def simhash64(tokens: Column, md5Basis: Boolean = false): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.SimHash64(
        ColumnBridge.expression(tokens), md5Basis))

  /** Distinct n-token shingles, sorted ascending, in one codegen'd
    * pass — the exact-Jaccard verify input, replacing four interpreted
    * higher-order expressions plus a sort.
    */
  def sorted_shingles(tokens: Column, n: Int): Column =
    ColumnBridge.column(
      org.apache.spark.sql.graft.SortedShingles(ColumnBridge.expression(tokens), n))

  /** Register the graft SQL functions on an existing session (the
    * temp-function path; [[GraftExtensions]] is the config-driven
    * equivalent for sessions you don't construct). Aggregate builders
    * return the bare AggregateFunction — the analyzer wraps it.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "byte_dot",
      exprs => org.apache.spark.sql.graft.ByteDot(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "sorted_intersect_size",
      exprs => SortedIntersectSize(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "minhash_agg",
      exprs => org.apache.spark.sql.graft.MinHashAgg(
        exprs(0), GraftExtensions.intLit(exprs(1), "numPerm")), "scala_udf")
    reg.createOrReplaceTempFunction(
      "misra_gries",
      exprs => org.apache.spark.sql.graft.MisraGriesAgg(
        exprs(0), GraftExtensions.intLit(exprs(1), "k")), "scala_udf")
    reg.createOrReplaceTempFunction(
      "sign_project",
      exprs => org.apache.spark.sql.graft.SignProjection(exprs(0),
        GraftExtensions.intLit(exprs(1), "bits"),
        GraftExtensions.intLit(exprs(2), "tables")), "scala_udf")
    reg.createOrReplaceTempFunction(
      "minhash_signature",
      exprs => org.apache.spark.sql.graft.MinHashSignature(exprs(0),
        GraftExtensions.intLit(exprs(1), "shingleLen"),
        GraftExtensions.intLit(exprs(2), "numPerm")), "scala_udf")
    reg.createOrReplaceTempFunction(
      "simhash64",
      exprs => org.apache.spark.sql.graft.SimHash64(exprs(0)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "sorted_shingles",
      exprs => org.apache.spark.sql.graft.SortedShingles(exprs(0),
        GraftExtensions.intLit(exprs(1), "n")), "scala_udf")
  }
}

/** SparkSessionExtensions hook: `.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.functions.GraftExtensions` registers
  * every graft Catalyst extension on a plain SQL session: the native
  * functions, the TopKPerKey planner strategy, and the
  * MultiDistinctToJoin optimizer rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getCanonicalName, "dot_product"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("byte_dot"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.ByteDot]
        .getCanonicalName, "byte_dot"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.graft.ByteDot(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.SortedIntersectSize]
        .getCanonicalName, "sorted_intersect_size"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.graft.SortedIntersectSize(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("minhash_agg"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.MinHashAgg]
        .getCanonicalName, "minhash_agg"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.graft.MinHashAgg(
        exprs(0), GraftExtensions.intLit(exprs(1), "numPerm"))))
    e.injectFunction((
      new FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.MisraGriesAgg]
        .getCanonicalName, "misra_gries"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.graft.MisraGriesAgg(
        exprs(0), GraftExtensions.intLit(exprs(1), "k"))))
    e.injectFunction((
      new FunctionIdentifier("sign_project"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.SignProjection]
        .getCanonicalName, "sign_project"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.graft.SignProjection(
        exprs(0), GraftExtensions.intLit(exprs(1), "bits"),
        GraftExtensions.intLit(exprs(2), "tables"))))
    e.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.MinHashSignature]
        .getCanonicalName, "minhash_signature"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.graft.MinHashSignature(
        exprs(0), GraftExtensions.intLit(exprs(1), "shingleLen"),
        GraftExtensions.intLit(exprs(2), "numPerm"))))
    e.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.SimHash64]
        .getCanonicalName, "simhash64"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.graft.SimHash64(exprs(0))))
    e.injectFunction((
      new FunctionIdentifier("sorted_shingles"),
      new ExpressionInfo(classOf[org.apache.spark.sql.graft.SortedShingles]
        .getCanonicalName, "sorted_shingles"),
      (exprs: Seq[Expression]) => org.apache.spark.sql.graft.SortedShingles(
        exprs(0), GraftExtensions.intLit(exprs(1), "n"))))
    e.injectPlannerStrategy(_ => org.apache.spark.sql.graft.TopKStrategy)
    e.injectOptimizerRule(_ => org.apache.spark.sql.graft.MultiDistinctToJoin)
  }
}

object GraftExtensions {
  /** SQL-side sketch parameters must be integer literals: a sketch
    * sized per-row is meaningless, and the clear error beats Janino's.
    */
  private[functions] def intLit(e: Expression, name: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) =>
      if (v >= 1L && v <= Int.MaxValue) v.toInt
      else throw new IllegalArgumentException(
        s"$name must be a positive Int-range literal, got: $v")
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got: $other")
  }
}
