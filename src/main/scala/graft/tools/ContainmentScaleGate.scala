package graft.tools

import org.apache.spark.sql.functions._

/** sf10 evidence for the containment hot-posting defense (VERDICT r13
  * #7): the star tier is stress-pinned at 50k docs in ScaleStressSpec,
  * but the sf10 scale gates run ORGANIC corpora whose hot set is
  * empty — so until this gate, the defense had never fired at 100x.
  *
  * Protocol: read the sf10 documents corpus, run containmentPairs on
  * it as-is (organic baseline), then again with a PLANTED block of
  * `blockSize` identical boilerplate docs (ids above the corpus max,
  * tokens disjoint from the organic vocabulary so no shingle mixes).
  * Assert:
  *   - the planted block materializes EXACTLY its bidirectional star
  *     (2·(blockSize-1) ordered pairs), not the ~blockSize² clique;
  *   - the organic pair set is byte-identical between the two runs
  *     (the defense is cost-free and lossless below the cap);
  *   - hotPostingReport names exactly the planted shingles.
  * Prints one JSON line with wall times for BASELINE.md + scale/.
  *
  * Run: SPARK_DRIVER_MEM=48g SPARK_GRAFT_SHUFFLE=128 SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.tools.ContainmentScaleGate target/scale/sf10 5000"
  */
object ContainmentScaleGate {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/scale/sf10")
    val blockSize = if (args.length > 1) args(1).toInt else 5000
    val spark = graft.ExecMode.session()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    // 40 zz-prefixed tokens -> 38 distinct 3-shingles, every one with
    // df = blockSize >> the 1024 cap; disjoint from organic vocabulary
    val boiler = (1 to 40).map(i => s"zzhotblock$i").mkString(" ")
    val planted = spark.range(blockSize.toLong)
      .select((col("id") + maxId + 1).as("doc_id"), lit(boiler).as("text"))

    def timedPairs(df: org.apache.spark.sql.DataFrame): (Set[(Long, Long)], Double) = {
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup.containmentPairs(df, "doc_id", "text")
        .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
      (pairs, (System.nanoTime() - t0) / 1e9)
    }

    val (organic, tOrganic) = timedPairs(docs)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val (attacked, tAttacked) = timedPairs(docs.unionByName(planted))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

    val rep = graft.operators.Dedup
      .hotPostingReport(docs.unionByName(planted), "doc_id", "text").collect()

    val blockPairs = attacked.filter { case (a, b) => a > maxId && b > maxId }
    val repId = maxId + 1
    val expectedStar = (2 to blockSize).flatMap { i =>
      val m = maxId + i
      Seq((repId, m), (m, repId))
    }.toSet
    val organicInAttacked = attacked.filter { case (a, b) => a <= maxId && b <= maxId }
    val crossPairs = attacked.size - blockPairs.size - organicInAttacked.size

    val starExact = blockPairs == expectedStar
    val organicUntouched = organicInAttacked == organic
    val hotShinglesOk = rep.length == 38 &&
      rep.forall(_.getAs[Long]("df") == blockSize.toLong)
    val skipped = rep.map(_.getAs[Long]("skipped_pairs")).sum

    println(s"""{"gate":"containment_sf10_boiler","sf":"$sfDir","organic_docs":${maxId + 1},"block":$blockSize,"organic_pairs":${organic.size},"block_pairs":${blockPairs.size},"expected_star":${expectedStar.size},"star_exact":$starExact,"organic_untouched":$organicUntouched,"cross_pairs":$crossPairs,"hot_shingles":${rep.length},"hot_shingles_ok":$hotShinglesOk,"skipped_pairs":$skipped,"organic_sec":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(tOrganic))},"attacked_sec":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(tAttacked))}}""")
    require(starExact, s"planted block did not star-degrade exactly: " +
      s"${blockPairs.size} pairs vs ${expectedStar.size} expected")
    require(organicUntouched, "defense perturbed the organic pair set")
    require(crossPairs == 0, s"$crossPairs organic-block cross pairs appeared")
    require(hotShinglesOk, s"hot report wrong: ${rep.length} shingles")
    spark.stop()
  }
}
