package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic corpus scale-up: replicate the driver-generated SF
  * tables K-fold with disjoint key ranges, preserving referential
  * integrity and — deliberately — the per-replica workload shape, so
  * a K× run measures SCALING, not a different problem:
  *
  *  - every surrogate key (custkey/orderkey/partkey/suppkey/doc_id/
  *    vec_id/event_id/user_id) shifts by `replica * KeyStride`;
  *    foreign keys shift by the same stride, so joins match exactly
  *    the rows they matched at 1× — K× rows, K× matches, zero
  *    cross-replica fan-out. KeyStride is a multiple of every small
  *    modulus the registry buckets by (10/29/50/211/...via 1e9
  *    divisible by 10 and 50; non-dividing moduli just re-phase
  *    uniformly), so group-by-bucket outputs keep their cardinality.
  *  - `region`/`nation` stay verbatim: TPC-H dimensions do not grow
  *    with SF, and scaling them would turn broadcast joins into a
  *    different experiment.
  *  - `documents.text` on replicas > 0 gets EVERY token prefixed with
  *    a per-replica tag (`zNq<token>`): a bijective token renaming, so
  *    within-replica shingle sets map 1:1 and every Jaccard / SimHash
  *    / winnowing relation between two docs of the same replica is
  *    EXACTLY what it was at 1×, while cross-replica token sets are
  *    disjoint (Jaccard 0, uncorrelated fingerprints). Exact AND
  *    near-dup group structure therefore replicates within-replica
  *    (K× groups of the original sizes) instead of collapsing into
  *    K-wide cross-replica groups. A trailing suffix token would NOT
  *    achieve this — one extra token out of ~n leaves cross-replica
  *    Jaccard at (n-2)/(n+2) ≈ 1, reconnecting every near-dup group
  *    across replicas and scaling pair workloads quadratically.
  *    `n_chars` is recomputed to keep the generator invariant
  *    `n_chars == length(text)`.
  *  - `embeddings.embedding` on replicas > 0 is regenerated as a
  *    deterministic pseudo-Gaussian (Box–Muller over murmur3 hashes
  *    of (vec_id, dim index)): independent noise keeps cross-replica
  *    cosines at noise level (~N(0, 1/sqrt(64))), so threshold-based
  *    near-dup workloads grow linearly in planted structure while
  *    exact-mining entries keep their contractual quadratic shape.
  *
  * Usage: ScaleUp <inDir> <outDir> [replicas=10]. Single pass per
  * table via posexplode of a replica sequence — no driver loop over
  * replicas, so the same code is the 100 TB path (at real scale the
  * generator is the least of the work; the point here is that even
  * the harness tooling follows the no-driver-side-iteration rule).
  */
object ScaleUp {
  val KeyStride = 1000000000L

  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = graft.ExecMode.session()
    spark.sparkContext.setLogLevel("WARN")
    scaleAll(spark, inDir, outDir, replicas)
    spark.stop()
  }

  def scaleAll(spark: SparkSession, inDir: String, outDir: String,
      replicas: Int): Unit = {
    require(replicas >= 1, s"replicas must be >= 1, got $replicas")
    def in(name: String): DataFrame = spark.read.parquet(s"$inDir/$name.parquet")
    def out(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    // Replica-0 text is kept VERBATIM, so an original token that
    // already matches the replica tag shape (z<digits>q...) would
    // equal a renamed token of that replica and reconnect near-dup
    // relations across replicas (renamed-vs-renamed is unambiguous —
    // the first 'q' delimits the digit run — only replica 0 is
    // exposed). (?i): downstream tokenizers lower() the text, so an
    // uppercase "Z1qfoo" collides just the same after lowercasing.
    // Fail fast at generation time rather than corrupt the
    // disjointness invariant silently.
    if (replicas > 1) {
      val bad = in("documents")
        .filter(col("text").rlike("(?i)(^|\\s)z[0-9]+q")).count()
      require(bad == 0L,
        s"$bad base documents carry a token matching ^z\\d+q — replica-0 " +
          "verbatim text would collide with renamed replica tokens and " +
          "reconnect near-dup groups across replicas")
    }

    // Fixed dimensions: verbatim copy.
    out(in("region"), "region", 1)
    out(in("nation"), "nation", 1)

    /** Cross each row with replica ids 0..K-1 and shift `keys` by
      * replica * KeyStride. posexplode keeps this one narrow stage —
      * no union-of-K-reads, no shuffle. */
    def repl(df: DataFrame, keys: Seq[String]): DataFrame = {
      val exploded = df
        .withColumn("__r", explode(sequence(lit(0L), lit(replicas - 1L))))
      keys.foldLeft(exploded) { (d, k) =>
        d.withColumn(k, col(k) + col("__r") * KeyStride)
      }
    }
    def replDrop(df: DataFrame, keys: Seq[String]): DataFrame =
      repl(df, keys).drop("__r")

    out(replDrop(in("customer"), Seq("c_custkey")), "customer", 2)
    out(replDrop(in("supplier"), Seq("s_suppkey")), "supplier", 1)
    out(replDrop(in("part"), Seq("p_partkey")), "part", 2)
    out(replDrop(in("orders"), Seq("o_orderkey", "o_custkey")), "orders", 4)
    out(replDrop(in("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem", 8)
    out(replDrop(in("events"), Seq("event_id", "user_id")), "events", 4)

    val docs = repl(in("documents"), Seq("doc_id"))
      .withColumn("text",
        when(col("__r") === 0L, col("text"))
          // Bijective per-replica token renaming (see scaladoc): the
          // tag is lowercase-alnum so lower()/\s+ tokenizers see one
          // token where the original had one. trim + empty-filter
          // first: regex split keeps empty leading/trailing elements,
          // and tagging those would mint bare "zNq" tokens that break
          // the within-replica Jaccard bijection for edge-whitespace
          // docs.
          .otherwise(array_join(
            transform(
              filter(split(trim(col("text")), "\\s+"), t => length(t) > 0),
              t => concat(lit("z"), col("__r").cast("string"), lit("q"), t)),
            " ")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__r")
    out(docs, "documents", 4)

    // Replica-0 vectors verbatim (keeps the planted near-dup/recall
    // structure); later replicas drawn fresh via Box–Muller over
    // murmur3 of (vec_id, replica, dim) — deterministic, norm > 0
    // almost surely, cosine to any other vector at noise level.
    //
    // PLANTED SEMANTIC DUPS (round 11): within each replica > 0,
    // every vector whose local id ≡ 1 (mod 50) becomes a PERTURBED
    // COPY of its neighbor (local id - 1, same replica): partner noise
    // + 0.15 × independent noise, cosine ≈ 0.989 ≫ any dedup
    // threshold. This makes semantic-dedup recall MEASURABLE at
    // scale: the planted pair set is exact and enumerable ((a, a+1)
    // with a ≥ KeyStride, local a % 50 = 0), intra-cluster by
    // construction (near-identical vectors share a nearest centroid),
    // and grows linearly — unlike the dim-64 noise pairs at 3.6σ that
    // drowned the global recall floor at sf1 (BASELINE.md round 10).
    // The semdedup entry reports planted_recall over exactly this set
    // and tools/sf1_invariant.py gates it at scale.
    val emb0 = in("embeddings")
    val dim = emb0.selectExpr("size(embedding) AS d").head().getInt(0)
    // pmod (not abs): abs(Int.MinValue) stays negative and would feed
    // ln a negative argument once per ~2^32 draws.
    def gauss(id: String, s1: Int, s2: Int): String =
      s"""sqrt(-2.0D * ln((CAST(pmod(hash($id, j, $s1), 2147483648L) AS DOUBLE) + 0.5D)
                          / 2147483648.0D))
          * cos(2.0D * pi() * (CAST(pmod(hash($id, j, $s2), 2147483648L) AS DOUBLE) + 0.5D)
                          / 2147483648.0D)"""
    val embs = repl(emb0, Seq("vec_id"))
      .withColumn("embedding",
        when(col("__r") === 0L, col("embedding"))
          .when(pmod(pmod(col("vec_id"), lit(KeyStride)), lit(50)) === 1,
            expr(
              s"""transform(sequence(0, $dim - 1), j -> CAST(
                 ${gauss("vec_id - 1L", 7, 13)}
                 + 0.15D * ${gauss("vec_id", 23, 31)}
                 AS FLOAT))"""))
          .otherwise(expr(
            s"""transform(sequence(0, $dim - 1), j -> CAST(
               ${gauss("vec_id", 7, 13)}
               AS FLOAT))""")))
      .drop("__r")
    out(embs, "embeddings", 2)
  }
}
