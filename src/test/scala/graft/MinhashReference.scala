package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Reference MinHash signatures for the map-only kernel the pipelines
  * run ([[Dedup.minhashSignaturesFast]]): the same hash family (ONE
  * xxhash64 of each shingle string, then per member p a seeded
  * `xxhash64(p, base)`). The first two use only Spark's own xxhash64
  * and aggregates; the third folds through the native `minhash_agg`
  * aggregate. None shares code with the map-only kernel. Output shape
  * matches the kernel's: (id, sig).
  */
object MinhashReference {

  /** Per-row signature over a shingle array, through interpreted
    * higher-order functions (re-evaluates the array once per member).
    */
  def minhashSignature(sh: Column, numPerm: Int): Column = {
    val hashes = transform(sh, s => xxhash64(s))
    array((0 until numPerm).map(p =>
      array_min(transform(hashes, h => xxhash64(lit(p), h)))): _*)
  }

  /** Explode shingles, hash each with numPerm scalar xxhash64 columns,
    * take per-member mins in one groupBy on the doc id.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerm: Int = 32): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
      explode(Dedup.shingles(Dedup.tokens(col(textCol)), shingleLen)).as("s"))
    val hashed = exploded.select(col("id"), xxhash64(col("s")).as("h"))
      .select(col("id") +:
        (0 until numPerm).map(p => xxhash64(lit(p), col("h")).as(s"h$p")): _*)
    hashed.groupBy(col("id"))
      .agg(min(col("h0")).as("h0"),
        (1 until numPerm).map(p => min(col(s"h$p")).as(s"h$p")): _*)
      .select(col("id"), array((0 until numPerm).map(p => col(s"h$p")): _*).as("sig"))
  }

  /** The aggregate formulation: `shingle_explode` rows folded by the
    * native `minhash_agg` TypedImperativeAggregate.
    */
  def minhashSignaturesAgg(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerm: Int = 32): DataFrame = {
    import org.apache.spark.sql.graft.MinHashAggApi.minhash_agg
    import org.apache.spark.sql.graft.ShingleGeneratorApi.shingle_explode
    df.select(col(idCol).as("id"),
        shingle_explode(Dedup.tokens(col(textCol)), shingleLen).as("s"))
      .groupBy(col("id"))
      .agg(minhash_agg(col("s"), numPerm).as("sig"))
  }
}
