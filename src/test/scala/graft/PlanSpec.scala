package graft

import graft.p6.Queries

/** Physical-plan regression checks — the properties that make these
  * queries scale: predicate pushdown into the parquet scan, column
  * pruning, broadcast (not shuffle) joins for dimension tables, and
  * whole-stage codegen coverage. If one of these regresses, the query
  * still returns correct rows but stops being a 100 TB plan.
  */
class PlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Pre-AQE physical plan (structure asserts). */
  private def plan(q: String): String =
    Queries.all(q)(spark, sfDir).queryExecution.sparkPlan.toString

  /** Full untruncated (filters, schema) metadata of every parquet scan. */
  private def scanMeta(q: String): Seq[(String, String)] =
    Queries.all(q)(spark, sfDir).queryExecution.sparkPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        (s.metadata.getOrElse("PushedFilters", ""), s.requiredSchema.simpleString)
    }

  /** Final adaptive plan after execution (codegen asserts). */
  private def executedPlan(q: String): String = {
    val df = Queries.all(q)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("plan hygiene, whole registry: no partition-less window, no cartesian product") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    Queries.all.foreach { case (name, fn) =>
      val p = fn(spark, sfDir).queryExecution.sparkPlan
      val globalWindows = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      assert(globalWindows.isEmpty,
        s"$name: partition-less WindowExec (single-partition bottleneck at scale)")
      val cartesian = p.collect { case c: CartesianProductExec => c }
      assert(cartesian.isEmpty,
        s"$name: CartesianProductExec (unbounded pairwise shuffle at scale)")
    }
  }

  test("plan hygiene, whole registry: fixed dimensions never on the shuffled side of a join") {
    // region/nation have FIXED cardinality (5/25 rows at every SF):
    // a plan that sort-merge- or shuffled-hash-joins them pays a full
    // shuffle of the fact side for a table that will always fit in a
    // broadcast. Structural sweep like the no-cartesian property:
    // any shuffle-join whose one input subtree reads ONLY fixed dims
    // is a lost broadcast. supplier/customer/part scale with SF, so
    // they are legitimately shuffle-joined and excluded here.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    val fixedDims = Seq("region.parquet", "nation.parquet")
    def fixedDimOnly(p: SparkPlan): Boolean = {
      val leaves = p.collectLeaves()
      leaves.nonEmpty && leaves.forall {
        case s: FileSourceScanExec =>
          val files = s.relation.location.inputFiles
          files.nonEmpty && files.forall(f => fixedDims.exists(f.contains))
        case _ => false
      }
    }
    Queries.all.foreach { case (name, fn) =>
      val p = fn(spark, sfDir).queryExecution.sparkPlan
      val lost = p.collect {
        case j: SortMergeJoinExec if fixedDimOnly(j.left) || fixedDimOnly(j.right) => j
        case j: ShuffledHashJoinExec if fixedDimOnly(j.left) || fixedDimOnly(j.right) => j
      }
      assert(lost.isEmpty,
        s"$name: shuffle join against a fixed dimension (should broadcast):\n" +
          lost.map(_.nodeName).mkString(", "))
    }
  }

  test("q38 bloom probe is a scan-level filter, not a join condition") {
    val s = plan("q38_bloom_join")
    assert(s.contains("bloom_might_contain(bloom_blob("))
    assert(!s.contains("BroadcastNestedLoopJoin"))
  }

  test("q2: all three predicates push down to the parquet scan") {
    val (filters, schema) = scanMeta("q2_revenue_filter").head
    assert(filters.contains("GreaterThanOrEqual(l_shipdate"))
    assert(filters.contains("LessThan(l_quantity,24.0)"))
    assert(filters.contains("GreaterThanOrEqual(l_discount,0.03)"))
    // and the scan reads only the four referenced columns
    assert(schema ==
      "struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz>")
  }

  test("q6: scan pruned to exactly the three needed lineitem columns") {
    val (_, schema) = scanMeta("q6_topk_parts").head
    assert(schema == "struct<l_partkey:bigint,l_extendedprice:double,l_discount:double>")
  }

  test("q3/q4: dimension joins broadcast; no shuffle join anywhere") {
    for (q <- Seq("q3_nation_revenue", "q4_region_year_revenue")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast join")
      assert(!p.contains("SortMergeJoin"), s"$q fell back to a shuffle join")
    }
  }

  test("q1: aggregation runs inside whole-stage codegen with partial aggregation") {
    val p = executedPlan("q1_pricing_summary")
    // '*(n)' marks whole-stage-codegen stages in Spark's plan strings
    assert(p.contains("*("), s"no codegen stages in:\n${p.take(800)}")
    // partial (map-side) HashAggregate before the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("p6 genotype pipeline: narrow scan->explode stage, single shuffle for the groupBy") {
    // Exchanges are inserted by EnsureRequirements: read the adaptive
    // plan's initial physical plan, not the bare sparkPlan.
    val p = Queries.all("p6_genotype_pipeline")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "mapper pipeline should shuffle exactly once (final groupBy)")
    assert(p.contains("Generate explode"), "G1 explode missing from plan")
  }

  test("ann_cosine_topk: query side broadcast, no shuffle of the embedding scan") {
    val p = plan("ann_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q17 range join: bin equi-join, never a nested-loop plan") {
    val p = plan("q17_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join degraded to a nested-loop plan")
    assert(p.contains("Join") || p.contains("BroadcastHashJoin"))
  }

  test("q15 as-of join: one keyed window, no join operator at all") {
    val p = plan("q15_asof_join")
    assert(p.contains("Window"), "as-of lost its window formulation")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q47 contamination: eval grams broadcast into a semi join; train side never shuffle-joins") {
    val p = plan("q47_contamination")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "eval-gram side must broadcast into a left-semi join")
    assert(!p.contains("SortMergeJoin LeftSemi"),
      "train grams fell back to a shuffle semi join")
  }

  test("p6_phenopacket_json: single record shuffle (union bundling), no join re-shuffles") {
    val p = Queries.all("p6_phenopacket_json")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // one exchange for the union groupBy; the orderBy adds a range
    // exchange — anything more means the full-outer-join re-shuffle
    // regression is back
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "patient bundling should shuffle the records exactly once")
    assert(!p.contains("SortMergeJoin"), "bundle join chain reappeared")
  }

  test("p6_phenopacket_json: the native kernel renders the packet — no to_json, no codegen fallback on the projection") {
    // The byte pin (PipelineSpec: kernel == old to_json form) and the
    // shuffle pin above both SURVIVE a silent fallback to the
    // interpreted HOF + StructsToJson path — which would re-pay the
    // 2.2x sf10 cost while staying green. Assert the plan actually
    // CONTAINS the kernel expression and none of the old shapes.
    val p = plan("p6_phenopacket_json")
    assert(p.contains("phenopacket_json("),
      "the native PhenopacketJson kernel is gone from the physical plan")
    assert(!p.contains("to_json") && !p.contains("StructsToJson"),
      "interpreted StructsToJson rendering reappeared")
    // the packet projection must be codegen'd: CodegenFallback
    // expressions print inside the final Project in sparkPlan only
    // when Catalyst couldn't compile them
    assert(!p.contains("CodegenFallback"),
      "packet projection fell back to interpreted evaluation")
  }

  test("bm25_topk: top-k is a TakeOrderedAndProject over broadcast stats — no global sort, no shuffle join") {
    val p = plan("bm25_topk")
    assert(p.contains("TakeOrderedAndProject(limit=15"),
      "top-k regressed to a global Sort + Limit (full-corpus range exchange)")
    assert(!p.contains("SortMergeJoin"),
      "df/corpus-stats join fell off the broadcast path")
  }

  test("boilerplate_strip: term filter reaches the scan; no global sort before the bucket agg") {
    val p = plan("boilerplate_strip")
    // one ORDER BY bucket at the very top over <= 10 rows is fine; a
    // WindowExec or cartesian would mean the df-threshold semantics
    // got re-planned pairwise
    assert(!p.contains("Window"), "df-thresholding regressed to a window plan")
    assert(p.contains("size(split(lower(trim("),
      "the >=3-token gate left the scan side")
  }

  test("hybrid_retrieval: BM25 candidates broadcast into the embedding rerank — corpus never shuffle-joins") {
    val p = plan("hybrid_retrieval")
    assert(!p.contains("SortMergeJoin"),
      "the 50-row candidate set fell off the broadcast path")
    assert(p.contains("TakeOrderedAndProject(limit=10"),
      "rerank regressed to a global sort")
  }

  test("winnow_fingerprint: no WindowExec — the sliding min is scan-side scalar work") {
    val p = plan("winnow_fingerprint")
    assert(!p.contains("Window"), "winnowing regressed to a window plan")
  }

  test("q51 rare-token ratio: the exploded-token exchange is computed once and reused") {
    val p = Queries.all("q51_rare_token_ratio")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage") ||
      "Exchange hashpartitioning\\(tok".r.findAllIn(p).size == 1,
      s"frequency build and scoring join should share the token shuffle:\n${p.take(1200)}")
  }

  test("unigram_lm_quality: LM training and scoring share the token shuffle; totals broadcast") {
    // the totals (N, |V|) branch and the scoring join both consume the
    // token-frequency aggregate; AQE's exchange reuse only shows in the
    // FINAL plan, so execute before inspecting
    val df = Queries.all("unigram_lm_quality")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage") ||
      "Exchange hashpartitioning\\(tok".r.findAllIn(p).size == 1,
      s"the totals branch should reuse the frequency-build token shuffle:\n${p.take(1200)}")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      "corpus totals (N, |V|) should ride in via broadcast, not a shuffle")
  }

  test("heavy_hitters_topk: candidate set broadcast; no full-vocabulary sort") {
    val p = Queries.all("heavy_hitters_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"candidates should reach the exact count as a broadcast semi-join:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"))
  }

  test("knn_classify: query vectors broadcast; corpus scoring never shuffle-joins") {
    val p = Queries.all("knn_classify")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query set must broadcast:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("ann_lsh_batch_topk: probes broadcast; per-query top-k is a qid-partitioned window") {
    // pin the ANN operator's own plan: since the round-10 contract fix
    // the registry entry localCheckpoints the per-qid frame (so the
    // index build doesn't execute twice), which hides the ANN subtree
    // behind an RDD scan in the entry's final plan
    import org.apache.spark.sql.functions.col
    val e = graft.Tables(spark, sfDir, "embeddings")
    val qids = e.filter(col("vec_id") < 20).select(col("vec_id").as("qid"))
    val s = graft.operators.Similarity
      .annTopKBatch(e, "vec_id", "embedding", qids, k = 10, bits = 6, tables = 16)
      .queryExecution.sparkPlan.toString
    // the probe set must hit the membership index as a broadcast, and
    // the batch must rank per query (qid window), never globally
    assert(s.contains("BroadcastHashJoin"), s.take(1200))
    assert(s.contains("windowspecdefinition(qid"), s.take(1200))
  }

  test("bucketed_join: layout-co-located fact-fact join — zero exchanges in the whole plan") {
    val df = Queries.all("bucketed_join")(spark, sfDir)
    val p = df.queryExecution.sparkPlan
    // both scans carry the catalog bucket spec (HashPartitioning from
    // the layout, not from a shuffle) …
    val bucketedScans = p.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.bucketSpec.isDefined => s
    }
    assert(bucketedScans.size == 2,
      s"expected two bucketed scans:\n${p.toString.take(1500)}")
    // … the join is sort-merge (the 100 TB shape; broadcast is pre-empted
    // by the hint at test scale) …
    assert(p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.nonEmpty, s"no sort-merge join:\n${p.toString.take(1500)}")
    // … and NOTHING in the plan shuffles: join + groupBy(bucket key)
    // ride the layout partitioning, the top-100 is TakeOrderedAndProject
    assert(p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, s"exchange crept into the bucketed plan:\n${p.toString.take(1500)}")
    assert(p.toString.contains("TakeOrderedAndProject"),
      s"top-100 is not a local-topk merge:\n${p.toString.take(1500)}")
    // bonus layout property: an equality filter on the bucket key
    // prunes the scan to a single bucket (the point-lookup path — at
    // the design point, 1/n of the corpus is read, no shuffle, no scan
    // of the other buckets' files). A filter-only plan has no
    // interchange requirement, so DisableUnnecessaryBucketedScan would
    // demote the scan and lose the pruning — pin it off for the probe,
    // which is also what a production point-lookup service would set.
    import org.apache.spark.sql.functions.{col, lit}
    val confKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.get(confKey)
    try {
      spark.conf.set(confKey, "false")
      val pruned = graft.sources.BucketedLayout
        .bucketedTable(spark, sfDir, "orders", "o_orderkey", 8)
        .filter(col("o_orderkey") === lit(42L))
        .queryExecution.executedPlan
      assert(pruned.toString.contains("SelectedBucketsCount: 1 out of 8"),
        s"bucket pruning did not engage:\n${pruned.toString.take(1500)}")
    } finally spark.conf.set(confKey, prev)
  }

  test("token_shard_assign: native PrefixScan over the range sort — no window, no RDD boundary") {
    val df = Queries.all("token_shard_assign")(spark, sfDir)
    val p = df.queryExecution.sparkPlan
    assert(p.collect {
      case e: org.apache.spark.sql.graft.PrefixScanExec => e
    }.nonEmpty, s"prefix scan exec missing:\n${p.toString.take(1200)}")
    val s = p.toString
    // the old formulation round-tripped through createDataFrame — an
    // ExistingRDD scan that deserialized every row off the Tungsten path
    assert(!s.contains("ExistingRDD") && !s.contains("Scan ExistingRDD"),
      s"RDD round-trip boundary is back:\n${s.take(1200)}")
    assert(!s.contains("Window"), "shard layout regressed to a window plan")
  }

  test("q26_ntile: global index via PrefixScan, no single-partition stage") {
    val s = plan("q26_ntile")
    assert(s.contains("PrefixScan"), s.take(1200))
    assert(!s.contains("ExistingRDD") && !s.contains("Window"), s.take(1200))
  }

  test("plan hygiene, whole registry: no unbounded BroadcastNestedLoopJoin outside documented scaffolds") {
    // The cartesian sweep above misses BNLJ, and BNLJ is how Spark
    // physically plans BOTH the benign scalar crossJoins (1-row
    // aggregate broadcast — linear, ubiquitous here) AND the
    // quadratic all-pairs non-equi oracle scaffolds. Split them
    // structurally: a BNLJ whose BUILD side subtree provably yields
    // bounded rows (grouping-free aggregate, or a global limit) costs
    // O(stream); a data-sized build side is O(n·m) and must be one of
    // the explicitly quadratic-by-contract scaffold entries below.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val quadraticByContract: Set[String] = Set(
      // ANN recall contracts: the brute-force EXACT side nested-loops
      // a literal-filter-bounded query set against the corpus —
      // O(|queries|·N), linear in the corpus by design, but the bound
      // lives in a predicate the structural check can't prove:
      "ann_batch_topk", "ann_cosine_topk", "ann_ivf_topk",
      "ann_ivf_append", "ann_ivf_warm", "ann_lsh_topk",
      "ann_quantized_topk", "ann_pq_topk", "ann_ivfpq_topk",
      "ann_ivfpq_warm", "knn_classify",
      // retrieve-then-rerank: the BNLJ is the 1-row query-vector
      // cross join (same shape as ann_cosine_topk) against a 50-row
      // TakeOrdered candidate set — O(candidates), but the filter
      // bound is predicate-level, invisible to the structural check:
      "hybrid_retrieval",
      // exact all-pairs scaffold, quadratic by contract over a
      // literal-capped doc set (ngram: doc_id < 200). semdedup left
      // this list in r20: its global-stats scaffold is now the
      // blocked int8 filter-and-refine equi-join (exactCosinePairs),
      // no BNLJ — only the 1-row stat crossJoins remain, and those
      // are aggregate-bounded:
      "ngram_jaccard_hist",
      // bipartite all-pairs margin scoring (CCMatrix recipe): the
      // en x de cross join is quadratic by contract — the ann_*
      // candidate paths are the 100 TB shape (see bitextMine doc):
      "bitext_mine")
    def boundedRows(p: SparkPlan): Boolean = p.exists {
      case a: HashAggregateExec       => a.groupingExpressions.isEmpty
      case a: ObjectHashAggregateExec => a.groupingExpressions.isEmpty
      case a: SortAggregateExec       => a.groupingExpressions.isEmpty
      case _: GlobalLimitExec         => true
      case _: LocalLimitExec          => true
      // orderBy().limit(n) compiles to TakeOrderedAndProject — yields
      // at most n rows, the same bound a GlobalLimit proves
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _                          => false
    }
    val offenders = Queries.all.keys.toSeq.sorted.filter { name =>
      val p = Queries.all(name)(spark, sfDir).queryExecution.sparkPlan
      p.collect {
        case j: BroadcastNestedLoopJoinExec =>
          j.buildSide match {
            case BuildLeft  => j.left
            case BuildRight => j.right
          }
      }.exists(build => !boundedRows(build))
    }.toSet
    // Exact set equality both ways: a NEW unbounded BNLJ fails loudly,
    // and a stale allowlist entry (scaffold refactored away) fails too.
    assert(offenders == quadraticByContract,
      s"unbounded-BNLJ entries changed.\n" +
        s"new (add to QUERIES.md + allowlist ONLY if quadratic-by-contract): " +
        s"${(offenders -- quadraticByContract).toSeq.sorted.mkString(", ")}\n" +
        s"stale (remove from allowlist): " +
        s"${(quadraticByContract -- offenders).toSeq.sorted.mkString(", ")}")
  }

  test("p6_phenopacket_json: output rows arrive globally sorted by patient_id") {
    // The entry sorts the BUNDLE frame and relies on the packet
    // projection preserving order — an implementation property of the
    // current narrow plan, not a Spark contract. If a future change
    // re-introduces a shuffle inside Assemble.phenopackets, the ORDER
    // BY oracle comparison would silently break; this pins it loudly.
    val ids = Queries.all("p6_phenopacket_json")(spark, sfDir)
      .select("patient_id").collect().map(_.getString(0))
    assert(ids.nonEmpty)
    assert(ids.sameElements(ids.sorted),
      "p6_phenopacket_json output is no longer sorted by patient_id — " +
        "the projection stopped preserving the bundle-frame sort")
  }

  test("duplicate_spans_sampled: the mod-8 keep filter sits BELOW the dup-content exchange") {
    // the whole point of the sampled twin is that only ~1/8 of the
    // windows enter the aggregate shuffle: the conv(substring(md5..))
    // filter must appear map-side (in the pre-exchange stage), never
    // after a shuffle
    val p = plan("duplicate_spans_sampled")
    val lines = p.split("\n")
    val filterIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("conv(substring"))
    assert(filterIdx >= 0, "mod-8 keep filter missing from the plan:\n" + p.take(1500))
    // below the filter (deeper in the tree) there must be NO
    // content-keyed Exchange: the filter feeds off the narrow window
    // generation, so the dup-content hashpartitioning shuffle only
    // ever sees the kept ~1/8. The r19 Par.spread round-robin input
    // exchange is allowed below it — it carries the RAW doc rows
    // (paid once, before the md5 grid kernel), not the window fan-out
    // the sampling exists to prune.
    val below = lines.drop(filterIdx)
    assert(!below.exists(l =>
        l.contains("Exchange") && !l.contains("RoundRobinPartitioning")),
      "keep filter is above a content exchange — sampling no longer prunes the shuffle:\n" +
        below.mkString("\n").take(1200))
    // ... and the RoundRobin exemption is for ONE exchange per input,
    // sitting DIRECTLY above the scan (r19 ADVICE, low: a blanket
    // exemption would also pass a repartition() of the exploded window
    // fan-out, the exact shuffle this pin exists to prune). Scope to
    // the filter's OWN subtree by indentation (the entry is a
    // self-join; the sibling branch carries its own input spread), and
    // between the spread exchange and the scan only narrow
    // row-preserving ops may appear — no Generate/explode fan-out.
    // a node's depth is the column of its connector: "+- " for the
    // last child, ":- " for the others; the root line has neither
    val connector = "^[ :]*(?:\\+- |:- )".r
    def depth(l: String): Int =
      connector.findPrefixOf(l).fold(-1)(_.length)
    val subtree = below.tail.takeWhile(l => depth(l) > depth(below.head))
    assert(subtree.nonEmpty, "the keep filter's subtree came out empty:\n" +
      below.mkString("\n").take(1200))
    val rrIdx = subtree.zipWithIndex
      .filter(_._1.contains("RoundRobinPartitioning")).map(_._2)
    assert(rrIdx.size <= 1,
      "more than one RoundRobin exchange below the keep filter:\n" +
        subtree.mkString("\n").take(1200))
    rrIdx.foreach { i =>
      val beforeScan = subtree.drop(i + 1)
        .takeWhile(l => !l.contains("FileScan") && !l.contains("Scan parquet"))
      assert(!beforeScan.exists(l => l.contains("Generate")),
        "the input spread no longer sits directly above the scan — a " +
          "Generate fan-out runs below it:\n" +
          subtree.drop(i).mkString("\n").take(1200))
    }
  }

  test("cdc_chunk_dedup: documents scan prunes to (doc_id, text); no window operators") {
    val schemas = scanMeta("cdc_chunk_dedup").map(_._2)
    assert(schemas.exists(s => s.contains("doc_id") && s.contains("text") &&
        !s.contains("lang") && !s.contains("source")),
      schemas.mkString("; "))
    assert(!plan("cdc_chunk_dedup").contains("Window"),
      "CDC chunking regressed to a window plan")
  }

  test("warm batch IVF search: index from parquet scans, no RDD-backed k-means stage") {
    // The entry's recall summary localCheckpoints its perQ frame, so
    // the ENTRY plan is opaque; pin the SEARCH operator itself over
    // the persisted store (built by running the entry once): the warm
    // path must be pure scans + joins + qid-window — >= 3 parquet
    // scans (embeddings + centroids + assignment), no ExistingRDD (the
    // cold path's k-means iterations pin through RDDs).
    import graft.operators.Similarity
    import graft.sources.WarmStore
    Queries.all("ann_ivf_batch_warm")(spark, sfDir) // ensures the store exists
    val (store, ready) = WarmStore.resolve(sfDir, "embeddings",
      "graft_ivf_idx_", extraKey = "nlist32_ri2", successMarker = "_READY")
    assert(ready, "warm store missing after running the entry")
    val e = Tables(spark, sfDir, "embeddings")
    val prep = Similarity.prepared(e, "vec_id", "embedding")
    val qids = e.filter(org.apache.spark.sql.functions.col("vec_id") < 20)
      .select(org.apache.spark.sql.functions.col("vec_id").as("qid"))
    val search = Similarity.ivfSearchBatch(prep,
      spark.read.parquet(store.resolve("assign").toString),
      spark.read.parquet(store.resolve("centroids").toString),
      qids, k = 10, nprobe = 8)
    val sp = search.queryExecution.sparkPlan
    val parquetScans = sp.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(parquetScans.size >= 3,
      s"expected >=3 parquet scans in the warm search, got ${parquetScans.size}")
    assert(!sp.toString.contains("ExistingRDD"),
      "warm search path re-grew an RDD-backed stage:\n" + sp.toString.take(1200))
  }

  test("media_decode: per-partition codec batch is a MapPartitions sandwich over a doc_id-only scan") {
    val s = plan("media_decode")
    assert(s.contains("MapPartitions"), s.take(1200))
    // PNG generation needs only doc_id — the documents scan must not
    // drag text/lang/source along
    val schemas = scanMeta("media_decode").map(_._2)
    assert(schemas.exists(_ == "struct<doc_id:bigint>"), schemas.mkString("; "))
  }

  test("containment_neardup: the verify is one merge join; no cartesian or BNLJ; the shingle table is never broadcast") {
    // The batch operator runs the melted verify: each candidate pair is
    // split into its two endpoints and the shingle table is joined ONCE
    // on doc_id. Two join-backs (one per endpoint) would show as two
    // sort-merge joins. Every broadcast build side must sit on an
    // aggregate (the df>cap hot set) on every path to its scan, so the
    // corpus-sized shingle table is never a broadcast side.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      CartesianProductExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
    val p = Queries.all("containment_neardup")(spark, sfDir)
      .queryExecution.sparkPlan
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    val smj = p.collect { case j: SortMergeJoinExec => j }
    assert(smj.size == 1,
      s"expected the single melted-verify merge join, got ${smj.size}:\n" +
        p.toString.take(2000))
    def aggBounded(n: SparkPlan): Boolean = n match {
      case _: BaseAggregateExec => true
      case leaf if leaf.children.isEmpty => false
      case other => other.children.forall(aggBounded)
    }
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "expected the hot-set broadcasts")
    bhj.foreach { j =>
      val buildSide = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
        case _ => j.right
      }
      assert(aggBounded(buildSide) && !buildSide.output.exists(_.name == "sh"),
        "a broadcast build side reaches the shingle table without an " +
          "aggregate:\n" + buildSide.toString.take(800))
    }
  }

  /** Representative inputs of one streaming containment micro-batch,
    * built as containmentIncrementBatch builds them (any sizes — the
    * pins below assert structure): the store and batch shingle
    * tables, the batch-pruned store postings and prefix, the batch
    * prefix and the hot table.
    */
  private case class IncrementInputs(storeSh: org.apache.spark.sql.DataFrame,
      newSh: org.apache.spark.sql.DataFrame,
      postsStore: org.apache.spark.sql.DataFrame,
      hotTab: org.apache.spark.sql.DataFrame,
      storePrefix: org.apache.spark.sql.DataFrame,
      prefixNew: org.apache.spark.sql.DataFrame)

  private def incrementInputs(): IncrementInputs = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import graft.operators.Dedup
    import spark.implicits._
    val docs = (1L to 40L).map(i =>
      (i, (0 to 11).map(j => s"w${(i + j) % 23}").mkString(" ")))
      .toDF("doc_id", "text")
    val storeSh = Dedup.containmentShingles(
      docs.filter(col("doc_id") <= 30), "doc_id", "text")
    val newSh = Dedup.containmentShingles(
      docs.filter(col("doc_id") > 30), "doc_id", "text")
    val postsNew = Dedup.containmentPostings(newSh)
    val newG = postsNew.select(col("g")).distinct()
    val postsStore = Dedup.containmentPostings(storeSh)
      .join(broadcast(newG), Seq("g"), "left_semi")
    val aggAll = Dedup.containmentShingleStats(postsStore.unionByName(postsNew))
    val hotTab = aggAll.filter(col("df") > 4)
    val storePrefix = Dedup.containmentPrefixRows(storeSh,
        aggAll.select(col("g"), col("df")))
      .join(broadcast(newG), Seq("g"), "left_semi")
    val prefixNew = Dedup.containmentPrefixRows(newSh,
      aggAll.select(col("g"), col("df")))
    IncrementInputs(storeSh, newSh, postsStore, hotTab, storePrefix,
      prefixNew)
  }

  /** The candidate tiers of one micro-batch, composed from the shared
    * Dedup core exactly as containmentIncrementBatch composes them: a
    * in NEW vs anyone, a in STORE (stored prefix plus any refreshed
    * rows) vs NEW, and the star tier over the batch's postings.
    */
  private def incrementCandidates(in: IncrementInputs,
      refreshedPrefix: Option[org.apache.spark.sql.DataFrame] = None) = {
    import graft.operators.Dedup
    val postsNew = Dedup.containmentPostings(in.newSh)
    Dedup.containmentCandidates(
      Seq(in.prefixNew -> in.postsStore.unionByName(postsNew),
        refreshedPrefix.fold(in.storePrefix)(in.storePrefix.unionByName(_)) ->
          postsNew),
      postsNew, in.hotTab)
  }

  test("streaming containment per-batch plan: pinned shuffle_hash/merge joins, broadcasts only on batch-bounded aggregates, no cartesian") {
    // The plan one micro-batch of streamingContainment executes, built
    // over representative inputs exactly as containmentIncrementBatch
    // assembles them (any sizes — structure is what is asserted):
    // corpus-sized sides must never broadcast (the sf0.1 parquet
    // footprint fools size estimates, the r14 containment lesson).
    // Broadcast builds are the batch's distinct-shingle set (prunes
    // the store's postings/prefix map-side — r16 VERDICT #3) and the
    // hot set/table; all are aggregates bounded by the batch or the
    // hot cap. Cold joins stay shuffle_hash, verify joins merge.
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      CartesianProductExec, BroadcastNestedLoopJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    val in = incrementInputs()
    val p = Dedup.containmentVerify(in.storeSh.unionByName(in.newSh),
        incrementCandidates(in), pruneCorpus = false)
      .queryExecution.sparkPlan
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty,
      "cartesian product in the streaming containment batch plan")
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "BNLJ in the streaming containment batch plan")
    // every broadcast build side must sit on an aggregate (the batch's
    // distinct-g set, the hot-set filter of the df aggregate, or the
    // hot table) — never a raw corpus table
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "expected the pruning/hot-set broadcasts")
    bhj.foreach { j =>
      val buildSide = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
        case _ => j.right
      }
      val hasAgg = buildSide.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty
      assert(hasAgg, "broadcast build side is not a bounded aggregate:\n" +
        buildSide.toString.take(800))
    }
    assert(p.collect { case j: ShuffledHashJoinExec => j }.size >= 2,
      "cold joins lost their shuffle_hash pins")
    // ONE corpus verify join since the one-pass melt (r17): the
    // corpus side must shuffle exactly once, as a sort-merge join
    assert(p.collect { case j: SortMergeJoinExec => j }.size == 1,
      "verify lost its single-pass merge-join shape")
  }

  test("streaming containment pruned verify: corpus semi-pruned by the broadcast endpoint aggregate, merge join intact, corpus never the broadcast side") {
    // The r18 verify shape containmentIncrementBatch picks when the
    // counted candidate set is broadcast-safe: the docs corpus is
    // semi-pruned by the candidates' distinct endpoints BEFORE the
    // one-pass merge join, so the last store-sized shuffle in the
    // batch (sorting the whole corpus's shingle arrays) becomes
    // candidate-bounded. The broadcast build must be the endpoint
    // DISTINCT (an aggregate), never the corpus.
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      CartesianProductExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
    val in = incrementInputs()
    val p = Dedup.containmentVerify(in.storeSh.unionByName(in.newSh),
        incrementCandidates(in), pruneCorpus = true)
      .queryExecution.sparkPlan
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(p.collect { case j: SortMergeJoinExec => j }.size == 1,
      "pruned verify lost its single-pass merge-join shape")
    // the corpus prune: a broadcast LEFT SEMI whose build side is the
    // endpoint distinct (an aggregate)
    val semis = p.collect {
      case j: BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.nonEmpty, "corpus prune semi join missing:\n" +
      p.toString.take(1200))
    semis.foreach { j =>
      val buildSide = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
        case _ => j.right
      }
      assert(buildSide.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty, "corpus prune broadcasts a non-aggregate side:\n" +
        buildSide.toString.take(800))
    }
  }

  test("streaming containment stale-prefix refresh plan: semi-join pinned shuffle_hash, broadcasts stay on bounded aggregates") {
    // The refresh path (r15 ADVICE fix) re-ranks stale store docs'
    // prefixes with hot shingles forced last. Its joins must never
    // broadcast a corpus side: the staleDocs detection probes the
    // (pruned) prefix store against the BOUNDED newly-hot set
    // (broadcast is fine — it is a filtered aggregate), but staleDocs
    // itself is contractually unbounded on degenerate corpora, so the
    // storeSh-semi-join is pinned shuffle_hash.
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      CartesianProductExec, BroadcastNestedLoopJoinExec}
    val in = incrementInputs()
    // the refresh subplan exactly as containmentIncrementBatch builds it
    val newlyHot = in.hotTab.select(col("g"))
    val staleDocs = in.storePrefix.join(broadcast(newlyHot), Seq("g"))
      .select(col("a").as("doc_id")).distinct()
    val staleSh = in.storeSh.join(staleDocs.hint("shuffle_hash"),
      Seq("doc_id"), "left_semi")
    val refreshed = Dedup.containmentPrefixRows(staleSh,
      newlyHot.withColumn("df", lit(5L)))
    val p = Dedup.containmentVerify(in.storeSh.unionByName(in.newSh),
        incrementCandidates(in, refreshedPrefix = Some(refreshed)),
        pruneCorpus = false)
      .queryExecution.sparkPlan
    assert(p.collect { case c: CartesianProductExec => c }.isEmpty)
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    // every broadcast build side must sit on an aggregate-derived,
    // contractually bounded set (batch distinct-g / hot-g / hot-rep)
    // — never a corpus table
    val bhj = p.collect { case j: BroadcastHashJoinExec => j }
    bhj.foreach { j =>
      val buildSide = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
        case _ => j.right
      }
      val hasAgg = buildSide.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty
      assert(hasAgg, "broadcast build side is not a bounded aggregate:\n" +
        buildSide.toString.take(800))
    }
    // the storeSh-vs-staleDocs semi join kept its shuffle_hash pin
    // (the newG prunes are broadcast semis, so look for the shuffled one)
    val semis = p.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semis.nonEmpty, "stale-doc semi join lost its shuffle_hash pin")
  }
}
