package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FreqSketchApi.misra_gries

/** Misra-Gries frequent-items sketch: the N/(k+1) candidate guarantee
  * (including across partition merges, which exercise the mergeable
  * subtract-the-cut rule), and the exactness of the two-pass
  * heavy_hitters_topk registry query that builds on it.
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** Skewed stream: value v_i appears i times for i in 1..60, plus
    * 3000 singleton noise values — N = 1830 + 3000, spread over many
    * partitions so partial buffers overflow and merge prunes fire.
    */
  private def skewed = {
    val heavy = (1 to 60).flatMap(i => Seq.fill(i * 5)(s"v_$i"))
    val noise = (1 to 3000).map(i => s"noise_$i")
    new scala.util.Random(42).shuffle(heavy ++ noise)
      .toDF("tok").repartition(13)
  }

  test("candidates contain every value above the N/(k+1) bound") {
    val k = 64
    val df = skewed
    val n = df.count()
    val cands = df.agg(misra_gries(col("tok"), k).as("c"))
      .select(explode(col("c")).as("tok")).as[String].collect().toSet
    assert(cands.size <= k, s"sketch kept ${cands.size} > k=$k entries")
    val bound = n.toDouble / (k + 1)
    val mustKeep = df.groupBy("tok").count()
      .filter(col("count") > bound).as[(String, Long)].collect()
    assert(mustKeep.nonEmpty, "test data must contain true heavy hitters")
    val missed = mustKeep.filter { case (t, _) => !cands.contains(t) }
    assert(missed.isEmpty,
      s"sketch dropped guaranteed heavy hitters (bound $bound): ${missed.mkString(",")}")
  }

  test("tiny k still never misses the single dominant value") {
    val df = (Seq.fill(500)("dominant") ++ (1 to 400).map(i => s"x_$i"))
      .toDF("tok").repartition(7)
    val cands = df.agg(misra_gries(col("tok"), 4).as("c"))
      .select(explode(col("c")).as("tok")).as[String].collect().toSet
    assert(cands.contains("dominant"))
  }

  test("heavy_hitters_topk equals the exact unrestricted top-10") {
    val got = graft.p6.Queries.all("heavy_hitters_topk")(spark, sfDir)
      .as[(String, Long)].collect().toSeq
    val exact = Tables(spark, sfDir, "documents")
      .select(explode(graft.operators.Dedup.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(10)
      .as[(String, Long)].collect().toSeq
    assert(got == exact)
    // and the exactness precondition holds with real margin: rank-10
    // count clears the sketch bound N/(k+1)
    val fullN = Tables(spark, sfDir, "documents")
      .select(explode(graft.operators.Dedup.tokens(col("text"))).as("tok"))
      .count()
    assert(exact.last._2 > fullN / 257.0,
      s"rank-10 count ${exact.last._2} does not clear N/257=${fullN / 257.0} — " +
        "the exact-top-k claim would be unsound at this corpus")
  }

  test("SQL registration: misra_gries and minhash_agg callable from spark.sql") {
    val df = (Seq.fill(50)("hot") ++ (1 to 30).map(i => s"cold_$i")).toDF("tok")
    df.createOrReplaceTempView("sql_sketch_in")
    val cands = sqlf("SELECT misra_gries(tok, 8) AS c FROM sql_sketch_in")
      .collect()(0).getSeq[String](0)
    assert(cands.contains("hot"))
    val sig = sqlf("SELECT minhash_agg(tok, 16) AS s FROM sql_sketch_in")
      .collect()(0).getSeq[Long](0)
    assert(sig.length == 16)
    // non-literal sketch size must fail with the explicit message
    val err = intercept[Exception] {
      sqlf("SELECT misra_gries(tok, length(tok)) FROM sql_sketch_in").collect()
    }
    assert(err.getMessage != null)
    // a Long literal beyond Int range must fail loudly, not truncate
    // into a garbage sketch size
    val err2 = intercept[Exception] {
      sqlf("SELECT misra_gries(tok, 5000000000) FROM sql_sketch_in").collect()
    }
    assert(err2.getMessage.contains("Int-range"))
    // the map-only kernels are SQL-callable too
    val row = sqlf("""SELECT
        size(minhash_signature(array('a','b','c','d'), 3, 8)) AS mh,
        simhash64(array('a','b','c')) AS sh,
        sorted_shingles(array('c','b','a'), 1) AS ss,
        size(sign_project(array(1.0d, -2.0d, 3.0d), 4, 2)) AS sp""").collect()(0)
    assert(row.getInt(0) == 8)
    assert(row.getSeq[String](2) == Seq("a", "b", "c"))
    assert(row.getInt(3) == 2)
  }

  test("knn_classify: planted near-duplicate pair outvotes closer-by-label ties") {
    // qid 0's direction appears TWICE in the train set under label 9
    // (cosine 1.0 and ~1.0) — with every other label appearing once in
    // the top-5, label 9 must win the vote 2:1:1:1.
    val dim = 8
    val base = (0 until dim).map(i => (i + 1).toFloat).toArray
    val rows = Seq((0L, base, 0)) ++ // the query (vec_id < 10)
      Seq((10L, base.map(x => x * 2.0f), 9), // same direction: cosine 1.0
        (11L, base.zipWithIndex.map { case (x, i) =>
          if (i == 0) x + 0.01f else x }, 9), // near-identical: label 9 again
        (12L, base.reverse, 1), (13L, Array.fill(dim)(1.0f), 2),
        (14L, base.map(x => x + 5.0f), 3))
    val df = rows.toDF("vec_id", "embedding", "label")
    val dirTmp = java.nio.file.Files.createTempDirectory("knn").toString
    df.write.mode("overwrite").parquet(s"$dirTmp/embeddings.parquet")
    val out = graft.p6.Queries.all("knn_classify")(spark, dirTmp)
      .as[(Long, Long, Long)].collect()
    val pred = out.find(_._1 == 0L).get
    assert(pred._2 == 9L && pred._3 == 2L,
      s"duplicated direction's label should win with 2 votes, got $pred")
  }
}
