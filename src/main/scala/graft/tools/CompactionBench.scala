package graft.tools

import org.apache.spark.sql.functions._

/** Measure the minor-vs-major compaction cost split on a realistic
  * store shape: a LARGE seeded base (the sfDir documents corpus) plus
  * a handful of SMALL committed micro-batch partitions — the
  * steady-state layout of continuous ingestion. Times
  * `DedupStore.compact(foldBase=false)` (fold only the batches into a
  * delta) against `compact(foldBase=true)` (full rewrite including
  * the base) on twin stores, and prints the store doc counts so the
  * O(new data) vs O(store) claim is a measured ratio, not prose.
  *
  * A second mode measures the READ side (r14 VERDICT #5): minor folds
  * keep compaction WRITE cost flat, but every micro-batch's LSH build
  * reads base + EVERY live delta + uncompacted batches — a long
  * `delta-g*` chain between majors grows that read. `chain` mode
  * builds stores whose live layout is base + {1,4,16} deltas (via the
  * real compact() API, two batches per delta) and times ONE
  * additional [[graft.streaming.EventStreams.dedupIncrementBatch]]
  * against each — the steady-state per-micro-batch cost as a function
  * of chain length — at the sfDir base size and a 10x id-shift
  * replication of it. The output pins the `minorEvery`/`compactEvery`
  * cadence guideline in BASELINE.md.
  *
  * Run: SPARK_GRAFT_SHUFFLE=32 sbt "runMain graft.tools.CompactionBench [sfDir] [batches] [batchDocs]"
  *      SPARK_GRAFT_SHUFFLE=32 sbt "runMain graft.tools.CompactionBench [sfDir] chain [batchDocs]"
  */
object CompactionBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val chainMode = args.length > 1 && args(1) == "chain"
    val nBatches = if (!chainMode && args.length > 1) args(1).toInt else 8
    val batchDocs = if (args.length > 2) args(2).toInt else 200
    val spark = graft.ExecMode.session()
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val baseN = docs.count()
    val root = java.nio.file.Files.createTempDirectory("graft_cbench").toFile

    if (chainMode) {
      // base + exactly `deltas` live delta partitions, built through
      // the real compact() protocol (two fresh batches per minor fold
      // — a single-partition fold is a protocol no-op)
      def buildChain(name: String, base: org.apache.spark.sql.DataFrame,
          deltas: Int): String = {
        val store = new java.io.File(root, name).getAbsolutePath
        graft.streaming.EventStreams.seedDedupBase(base, "doc_id", "text", store)
        (0 until deltas).foreach { d =>
          (0 until 2).foreach { j =>
            val b = 2 * d + j
            // ids above every base_10x replication band (r*100000000):
            // the old 10000000*(b+1) scheme landed on band boundaries
            // at b+1 = 10/20/30, planting duplicate doc_ids in the
            // measured store (same class as the r16 ADVICE finding on
            // ContainmentStreamGate)
            val rows = spark.range(batchDocs).select(
              (col("id") + 1000000000L + 10000000L * b).as("doc_id"),
              concat(lit(s"novel batch $b doc "), col("id"),
                lit(" alpha beta gamma delta epsilon")).as("text"))
            rows.write.mode("overwrite").parquet(s"$store/docs/batch=b$b")
            graft.operators.Dedup
              .minhashSignaturesFast(rows, "doc_id", "text", 3, 32)
              .write.mode("overwrite").parquet(s"$store/sigs/batch=b$b")
          }
          graft.streaming.DedupStore
            .compact(spark, store, 2L * d + 1, foldBase = false)
        }
        store
      }
      def timedBatch(store: String, batchId: Long): Double = {
        // 2e9 base: 900000000 sat EXACTLY on replica 9's id-shift band
        // (9*100000000), so probe ids duplicated replica-9 docs in the
        // 10x store — measurement-only skew, now impossible
        val rows = spark.range(batchDocs).select(
          (col("id") + 2000000000L).as("doc_id"),
          concat(lit("probe doc "), col("id"),
            lit(" zeta eta theta iota kappa")).as("text"))
        val t0 = System.nanoTime()
        graft.streaming.EventStreams.dedupIncrementBatch(rows, batchId,
          store, "doc_id", "text", 0.7, 3, 32, 8,
          graft.operators.Dedup.DefaultMaxBucket)
        (System.nanoTime() - t0) / 1e9
      }
      val results = for {
        (label, base) <- Seq(
          ("base_1x", docs),
          ("base_10x", (0 until 10).map(r => docs.select(
              (col("doc_id") + r.toLong * 100000000L).as("doc_id"),
              col("text"))).reduce(_.unionByName(_))))
        deltas <- Seq(1, 4, 16)
      } yield {
        val store = buildChain(s"chain_${label}_$deltas", base, deltas)
        // JIT/plan warm-up batch, then the measured one
        timedBatch(store, 1000L)
        val sec = timedBatch(store, 1001L)
        val live = graft.streaming.EventStreams
          .dedupStoreDocs(spark, store).select(col("batch"))
          .distinct().count()
        s""""${label}_deltas$deltas":{"sec":$sec,"live_parts":$live}"""
      }
      println(results.mkString(
        s"""{"metric":"chain_read","base_docs":$baseN,"batch_docs":$batchDocs,""",
        ",", "}"))
      spark.stop()
      return
    }

    def build(name: String): String = {
      val store = new java.io.File(root, name).getAbsolutePath
      graft.streaming.EventStreams.seedDedupBase(
        docs, "doc_id", "text", store)
      // committed micro-batch partitions, written in the store's own
      // format (novel synthetic docs — content is irrelevant to the
      // compaction cost being measured)
      (0 until nBatches).foreach { b =>
        val rows = spark.range(batchDocs).select(
          (col("id") + 10000000L * (b + 1)).as("doc_id"),
          concat(lit(s"novel batch $b doc "), col("id"),
            lit(" alpha beta gamma delta epsilon")).as("text"))
        rows.write.mode("overwrite").parquet(s"$store/docs/batch=b$b")
        graft.operators.Dedup
          .minhashSignaturesFast(rows, "doc_id", "text", 3, 32)
          .write.mode("overwrite").parquet(s"$store/sigs/batch=b$b")
      }
      store
    }

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val minorStore = build("minor")
    val majorStore = build("major")
    val up = (nBatches - 1).toLong
    val tMinor = timed(graft.streaming.DedupStore
      .compact(spark, minorStore, up, foldBase = false))
    val tMajor = timed(graft.streaming.DedupStore
      .compact(spark, majorStore, up, foldBase = true))
    val newDocs = nBatches.toLong * batchDocs
    println(s"""{"metric":"compaction","base_docs":$baseN,"new_docs":$newDocs,"minor_sec":$tMinor,"major_sec":$tMajor,"ratio":${tMajor / tMinor}}""")
    spark.stop()
  }
}
