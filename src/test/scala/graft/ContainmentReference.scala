package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Brute-force reference for the containment operators: every ordered
  * pair of distinct docs is verified exactly, with no prefix filter,
  * posting cap or candidate join, so it shares only shingling and the
  * intersect kernel with [[Dedup.containmentPairs]] and the streaming
  * increment. Quadratic: test-sized corpora only.
  */
object ContainmentReference {

  /** (a, b, na, inter) for every ordered pair with containment >= 0.8. */
  def pairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Set[(Long, Long, Long, Long)] = {
    val sh = Dedup.containmentShingles(docs, idCol, textCol)
    sh.select(col("doc_id").as("a"), col("sh").as("sha"))
      .crossJoin(sh.select(col("doc_id").as("b"), col("sh").as("shb")))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        graft.functions.VectorExpressions.sorted_intersect_size(
          col("sha"), col("shb")).cast("long").as("inter"),
        size(col("sha")).cast("long").as("na"))
      .filter(col("inter") / col("na") >= 0.8)
      .select(col("a"), col("b"), col("na"), col("inter")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
  }

  /** The ordered (a, b) pairs of [[pairs]]. */
  def abPairs(docs: DataFrame): Set[(Long, Long)] =
    pairs(docs).map(p => (p._1, p._2))
}
