package graft.tools

import org.apache.spark.sql.functions._

/** Write a copy of an sfDir's documents table with a planted block of
  * identical boilerplate docs (ids above the corpus max, vocabulary
  * disjoint from organic text) — the degraded-corpus fixture for
  * proving the containment star tier's `star_rows` observe metric
  * lands NONZERO in graft.Bench's artifact (r14 VERDICT #3's done
  * criterion). Only `documents.parquet` is written; point
  * SPARK_GRAFT_ONLY at the containment entries, which read
  * nothing else.
  *
  * Run: sbt "runMain graft.tools.PlantBoilerCorpus \
  *   /root/testdata/sf0.001 target/boiler 2000"
  * then: SPARK_GRAFT_SF_DIR=target/boiler \
  *   SPARK_GRAFT_ONLY=containment_neardup \
  *   SPARK_GRAFT_BENCH_OUT=target/bench_boiler.json \
  *   sbt "runMain graft.Bench"
  */
object PlantBoilerCorpus {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val blockSize = if (args.length > 2) args(2).toInt else 2000
    val spark = graft.ExecMode.session()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.Tables(spark, src, "documents")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    // same construction as ContainmentScaleGate: 40 zz-prefixed tokens
    // -> 38 distinct 3-shingles, each with df = blockSize >> the cap
    val boiler = (1 to 40).map(i => s"zzhotblock$i").mkString(" ")
    val planted = spark.range(blockSize.toLong)
      .select((col("id") + maxId + 1).as("doc_id"), lit(boiler).as("text"))
    docs.select(col("doc_id"), col("text")).unionByName(planted)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"""{"planted":$blockSize,"organic_max_id":$maxId,"out":"$out"}""")
    spark.stop()
  }
}
