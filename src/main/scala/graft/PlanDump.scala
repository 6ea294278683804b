package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Regenerates PLANS.md: formatted physical plans for the flagship
  * queries, as evidence of the plan properties PlanSpec pins —
  * pushdown, pruning, broadcast joins, whole-stage codegen spans, and
  * the custom operators. Run: `SPARK_GRAFT_CPUS=8 sbt "runMain graft.PlanDump"`.
  */
object PlanDump {

  private val picks: Seq[(String, String)] = Seq(
    "q1_pricing_summary" ->
      "Scan/filter/agg: predicates pushed to parquet, partial aggregation, one codegen span",
    "q3_nation_revenue" ->
      "Dimension joins: customer/nation broadcast — no shuffle join",
    "q16_topk_per_key" ->
      "Custom physical operator: TopKPerKey bounded heaps, no sort in the plan",
    "q17_range_join" ->
      "Range join as bin equi-join: intervals exploded to bins, broadcast hash join + residual filter",
    "q38_bloom_join" ->
      "Bloom runtime filter: bloom_might_contain(bloom_blob(...)) sits on the scan, not a join condition",
    "q26_ntile" ->
      "Distributed global NTILE: range-partitioned sort + offsets — no single-partition WindowExec",
    "token_shard_assign" ->
      "Balanced shard layout over the GLOBAL doc order: the partition-less running sum is the native PrefixScanExec (range-partitioned sort feeding an InternalRow-level offset-seeded scan — no WindowExec, no ExistingRDD/createDataFrame boundary), then the per-shard hash aggregation on top",
    "minhash_neardup" ->
      "MinHash + LSH: MAP-ONLY native minhash_signature kernel (no shingle explode, no groupBy) -> band self-join (hot buckets capped to star pairs) -> semi-join-restricted verify",
    "winnow_fingerprint" ->
      "Window-free winnowing: exploded positions + least() of offset-guarded md5s — no per-doc WindowExec, split aggregates instead of a multi-distinct Expand",
    "ann_lsh_topk" ->
      "Multi-table multi-probe LSH ANN: one scan builds all 8 tables' membership, broadcast probe list, semi-join-pruned exact rerank",
    "p6_phenopacket_json" ->
      "A2 packet assembly: five tables union into nullable struct slots, ONE groupBy on patient_id collects all bundles, then a single native phenopacket_json projection (no to_json, no HOF lambdas; gnorm/genocode computed per-row pre-shuffle)",
    "q52_range_agg_pushdown" ->
      "Aggregate pushdown through a bin-aligned range join: events collapse to per-day partials BEFORE the join — same oracle answer as q17 at 1/9 the cost",
    "chunk_dedup" ->
      "CCNet chunk dedup: chunk fingerprints at the source (16-byte md5 on the wire, never text), one hash agg for first occurrences, shuffle-sharing join back on the same key",
    "mixture_sample" ->
      "Histogram-pruned exact mixture: whole leading-byte hash buckets pass via broadcast-joined filter; ONLY each domain's boundary bucket (~1/256) is ranked",
    "unigram_lm_quality" ->
      "Corpus-trained unigram LM scoring: ONE token exchange shared (AQE ReusedExchange) by frequency build and scoring join; corpus totals broadcast via 1-row crossJoin",
    "heavy_hitters_topk" ->
      "Misra-Gries candidates -> broadcast semi-join-restricted exact count: the groupBy shuffles <=256 keys, never the vocabulary",
    "knn_classify" ->
      "k-NN vote: broadcast query vectors, codegen cosine map-side, TopKPerKey bounded heaps, 10-key vote window",
    "duplicate_spans" ->
      "Exact-substring dedup signal: stride-1 window fingerprints, cross-doc dup semi-join, per-doc island merge (window partitioned by doc_id — never global)",
    "ann_lsh_batch_topk" ->
      "Batch LSH ANN: the membership index is built ONCE and joined ONCE against the broadcast probe set for ALL 20 queries; per-query top-k is a qid-partitioned window, no per-query jobs",
    "media_decode" ->
      "Real javax.imageio decode: DeserializeToObject -> MapPartitions -> SerializeFromObject sandwich over the per-partition codec batch, everything before and after stays columnar",
    "domain_cap" ->
      "Executor-side histogram pruning: cumulative bucket sums window over <=256 rows per domain, (domain, bucket) join back, boundary-bucket-only ranking — no driver collect, no whole-domain window",
    "exact_cosine_pairs" ->
      "Exact cosine pair mining: int8-quantized prescreen rows meet in a triangle block-pair EQUI-join (never a cartesian), ByteDot upper-bound filter inside the join, exact double-vector verify only for survivors",
    "bucketed_join" ->
      "Storage-layout co-location: both fact scans carry the catalog bucket spec, so the sort-merge join, the bucket-key aggregation, and the TakeOrderedAndProject top-100 all run with ZERO exchanges — the one shuffle was paid at layout-write time",
    "containment_neardup" ->
      "PPJoin containment join, scale-invariant shape: the shingle table is computed ONCE into an InMemoryRelation (five consumers), every corpus-sized join is a pinned shuffle_hash/merge (static post-explode estimates would otherwise broadcast the corpus at small SF), the verify is ONE merge join over melted candidate endpoints, and the only broadcasts are the bounded df>cap hot set; the star tier carries an observe() metric that logs when the degradation fires",
    "duplicate_spans_sampled" ->
      "Content-defined window sampling: the mod-8 md5-prefix filter sits map-side BEFORE the dup-content aggregate, so the exchange carries ~1/8 of the windows; merge window stays doc_id-partitioned",
    "cdc_chunk_dedup" ->
      "Content-defined chunking: boundary candidates, the max-cut pass, and chunk fingerprints are THREE stacked projections (bounds materialized once per row — re-inlining the bounds expression into the forced-cut lambda re-evaluates every window hash per gap); dedup shares chunk_dedup's one-agg-one-join shape",
    "ann_ivf_batch_warm" ->
      "Warm-index batch IVF: centroids/assignment are parquet scans of the persisted store (no k-means stages in the plan); broadcast probe set, qid-partitioned top-k window",
    "token_budget_pack" ->
      "Token-budget packing: map-only hashed-linear scoring on the scan, ONE range exchange (what any global sort costs) feeding the native PrefixScanExec running sum, keep-filter + final aggregate map-side — no single-task WindowExec anywhere",
    "ann_pq_topk" ->
      "Product-quantization ANN recall summary (the operator side — pq_encode kernel as ONE projection on the scan, map-side ADC scores, TakeOrdered candidate bound, exact rescore of candidates only — executes under the summary's localCheckpoint, so this dump shows the contract join over its pinned <=k rows: Scan ExistingRDD)",
    "hybrid_retrieval" ->
      "Retrieve-then-rerank: BM25 postings agg -> TakeOrdered(50) candidates BROADCAST into the embedding join, 1-row query-vector BNLJ (the ann_cosine shape), TakeOrdered(10) rerank — the corpus is scanned once for BM25 and once for the 50-row hash join probe",
    "weighted_sample" ->
      "Deterministic A-ES weighted sampling: md5_lower64 kernel + ln(u)/w key as ONE map-side projection on the scan, TakeOrderedAndProject(100) — zero exchanges in the whole plan",
    "bitext_mine" ->
      "Margin-based bitext mining: broadcast bipartite cross join scores the pairs once, TopKPerKey bounded heaps feed both sides' top-k averages (no WindowExec), struct-max hash-aggregate argmaxes, mutual-best equi-join — the only BNLJ is the quadratic-by-contract pair frame",
    "pmi_cooccur" ->
      "PMI collocations: unigram and adjacent-bigram hash aggregates over ONE scan, min-support filter BEFORE the keyed vocabulary joins, 1-row total broadcasts, TakeOrderedAndProject(30)",
    "dsir_sample" ->
      "DSIR importance resampling: token explode -> fixed 4096-bucket hash aggregate (hashing trick: broadcastable at ANY corpus size) -> broadcast delta join -> per-doc mean + Gumbel key, TakeOrderedAndProject(50) — two exchanges total, both on the bucket/doc keys")

  def main(args: Array[String]): Unit = {
    val spark = ExecMode.session()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans for the flagship queries\n\n"
    sb ++= "Generated by `SPARK_GRAFT_CPUS=8 sbt \"runMain graft.PlanDump\"` at sf0.001 (plan\n"
    sb ++= "STRUCTURE is scale-independent; AQE may re-plan sizes at runtime).\n"
    sb ++= "What to look for: `PushedFilters`/`ReadSchema` on every scan,\n"
    sb ++= "`BroadcastHashJoin` for dimension sides, wide `WholeStageCodegen`\n"
    sb ++= "spans, and the custom `TopKPerKey` / `bloom_might_contain` nodes.\n"
    picks.foreach { case (name, note) =>
      val df = graft.p6.Queries.all(name)(spark, dir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb ++= s"\n## $name\n\n$note.\n\n```\n${plan.trim}\n```\n"
    }
    sb ++= skewComparison(spark)
    Files.write(Paths.get("PLANS.md"),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[plandump] wrote PLANS.md (${picks.size} queries + skew A/B)")
    spark.stop()
  }

  /** AQE-vs-manual-salting evidence (SkewSpec runs the same corpus as
    * a test): the FINAL adaptive plan of a plain hot-key join with the
    * skew thresholds scaled to test volume — the join node carries
    * `skew=true` — next to the explicit [[graft.operators.Skew.saltedJoin]]
    * shape. See the [[graft.operators.Skew]] scaladoc for when each is
    * the right tool.
    */
  private def skewComparison(spark: SparkSession): String = {
    import org.apache.spark.sql.functions._
    val sb = new StringBuilder
    val fact = spark.range(50000L).select(
      when(col("id") % 2 === 0, lit(7L)).otherwise(col("id") % 100).as("k"),
      (col("id") % 1000).cast("double").as("v"),
      concat(lit("payload-"), col("id").cast("string"), lit("-" * 64)).as("pad"))
    val dim = spark.range(100L).select(
      col("id").as("dk"), concat(lit("d"), col("id").cast("string")).as("dname"))
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (key, _) => key -> spark.conf.getOption(key) }
    confs.foreach { case (key, v) => spark.conf.set(key, v) }
    try {
      val plain = fact.join(dim, col("k") === col("dk"))
        .select(col("k"), col("v"), col("pad"), col("dname"))
      // collect() on the df's own queryExecution finalizes the
      // adaptive plan and records the skew split (SkewSpec proves the
      // single collect is sufficient)
      plain.collect()
      val adaptive = plain.queryExecution.executedPlan.toString
      val salted = graft.operators.Skew.saltedJoin(fact, dim, "k", "dk", salts = 8)
        .select(col("k"), col("v"), col("pad"), col("dname"))
      val saltedPlan =
        salted.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb ++= "\n## skew: AQE vs manual salting (50%-hot join key, same corpus as SkewSpec)\n\n"
      sb ++= "Plain join + AQE (thresholds scaled to test volume): the FINAL\n"
      sb ++= "adaptive plan splits the hot partition — `skew=true` on the\n"
      sb ++= "SortMergeJoin node, no code change. This is the default tool for\n"
      sb ++= "runtime-discovered join skew; Skew.saltedJoin (below) is for\n"
      sb ++= "shapes AQE leaves alone, and Skew.saltedSum for skewed\n"
      sb ++= "AGGREGATION keys, which AQE never splits (see Skew scaladoc).\n\n"
      sb ++= s"```\n${adaptive.trim}\n```\n\n"
      sb ++= "The explicit salted join of the same corpus — the salt column\n"
      sb ++= "spreads the hot key over 8 partial groups, the dim side\n"
      sb ++= "replicates over the salt domain:\n\n"
      sb ++= s"```\n${saltedPlan.trim}\n```\n"
      val hotKey = graft.operators.Skew
        .hotKeySaltedJoin(fact, dim, "k", "dk", salts = 8, maxHot = 16)
        .select(col("k"), col("v"), col("pad"), col("dname"))
      val hotKeyPlan =
        hotKey.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb ++= "\nHot-key-only salting (round 11, the 100 TB default over the\n"
      sb ++= "full salt): a one-pass Misra-Gries sketch flags heavy keys, ONLY\n"
      sb ++= "those rows salt and only the matching dim rows replicate\n"
      sb ++= "(|hot|x8, not |dim|x8 — the r10 sf10 spill term); the cold tail\n"
      sb ++= "takes the plain join in the union's other branch, where AQE\n"
      sb ++= "remains free to act:\n\n"
      sb ++= s"```\n${hotKeyPlan.trim}\n```\n"
      sb.toString
    } finally prev.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }
}
