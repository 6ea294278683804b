package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection operators for large-scale training-data
  * pipelines (SURVEY.md §7.4). Everything is expressed as Catalyst
  * column expressions + joins, so it distributes: no driver-side
  * pairwise loops, no O(n^2) shuffle for the LSH path.
  *
  * Scale design (100 TB): the LSH candidate join shuffles only
  * (band, key, id) tuples — a few dozen bytes per doc per band — and
  * the verify join re-reads shingle sets only for the candidate pairs,
  * which for near-dup-rate corpora is orders of magnitude smaller than
  * the corpus itself. Brute-force Jaccard is provided as the oracle
  * baseline for bounded subsets.
  */
object Dedup {

  /** Whitespace tokens, lower-cased. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Distinct n-token shingles ("w1 w2 w3"). Documents shorter than n
    * tokens collapse to a single whole-document shingle.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " "))))
      .otherwise(array(array_join(toks, " ")))

  /** MinHash permutation family: ONE xxhash64 of the shingle STRING,
    * then per member a seeded xxhash64 of that base LONG. Hashing the
    * string once instead of numPerm times is the dominant cost at
    * scale; re-hashing a fixed 8-byte long is a handful of multiplies.
    * (A plain affine permutation would be cheaper still, but ANSI mode
    * makes wrapping long multiplication throw.)
    */
  def minhashSignature(sh: Column, numPerm: Int): Column = {
    val hashes = transform(sh, s => xxhash64(s))
    array((0 until numPerm).map(p =>
      array_min(transform(hashes, h => xxhash64(lit(p), h)))): _*)
  }

  /** LSH banding: hash each band's slice of the signature to a bucket
    * key. Docs sharing any (band, key) become candidates.
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(slice(sig, b * rowsPerBand + 1, rowsPerBand)).as("key"))): _*)

  /** MinHash signatures as a DataFrame op: explode shingles, hash each
    * with numPerm codegen'd scalar xxhash64 columns, take per-perm mins
    * in ONE partial-aggregated groupBy. This is the scale path — the
    * expression form above re-evaluates the shingle array once per
    * permutation through interpreted higher-order functions (measured
    * ~40x slower), while this shape is whole-stage-codegen end to end
    * with a single map-side-combined shuffle on the doc id.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerm: Int = 32): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
      explode(shingles(tokens(col(textCol)), shingleLen)).as("s"))
    val hashed = exploded.select(col("id"), xxhash64(col("s")).as("h"))
      .select(col("id") +:
        (0 until numPerm).map(p => xxhash64(lit(p), col("h")).as(s"h$p")): _*)
    hashed.groupBy(col("id"))
      .agg(min(col("h0")).as("h0"),
        (1 until numPerm).map(p => min(col(s"h$p")).as(s"h$p")): _*)
      .select(col("id"), array((0 until numPerm).map(p => col(s"h$p")): _*).as("sig"))
  }

  /** MinHash signatures via the native TypedImperativeAggregate
    * (org.apache.spark.sql.graft.MinHashAgg): one array-buffer
    * aggregate instead of numPerm scalar min() columns — same hash
    * family, same signatures, half the shuffle bookkeeping. Kept as
    * the aggregate formulation (DedupSpec pins its equivalence); the
    * pipelines use the map-only [[minhashSignaturesFast]].
    */
  def minhashSignaturesAgg(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerm: Int = 32): DataFrame = {
    import org.apache.spark.sql.graft.MinHashAggApi.minhash_agg
    import org.apache.spark.sql.graft.ShingleGeneratorApi.shingle_explode
    df.select(col(idCol).as("id"),
        shingle_explode(tokens(col(textCol)), shingleLen).as("s"))
      .groupBy(col("id"))
      .agg(minhash_agg(col("s"), numPerm).as("sig"))
  }

  /** MinHash signatures MAP-ONLY via the native
    * [[graft.functions.VectorExpressions.minhash_signature]] kernel:
    * one codegen'd pass per document, bit-identical to
    * [[minhashSignaturesAgg]] (DedupSpec-pinned) with no generator
    * row blowup and no groupBy exchange — at 100 TB the exploded
    * shingle frame was the near-dup pipelines' widest intermediate,
    * and it existed only to be aggregated straight back down.
    */
  def minhashSignaturesFast(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerm: Int = 32): DataFrame =
    // NO Par.spread here: the native minhash kernel is cheap enough
    // that exchanging raw text rows to parallelize it costs more than
    // it saves — r19 A/B matrix (SPARK_GRAFT_SPREAD=off vs on):
    // minhash_neardup 1.33 vs 1.97 s, dedup_increment 3.77 vs 6.13,
    // leakage_safe_split 1.70 vs 2.47 (guide §8)
    df.select(col(idCol).as("id"),
      graft.functions.VectorExpressions.minhash_signature(
        tokens(col(textCol)), shingleLen, numPerm).as("sig"))

  /** Default per-(band,key) bucket size above which the self-join
    * degrades to representative-star linking (see [[cappedPairs]]).
    */
  val DefaultMaxBucket = 256

  /** All within-bucket pairs (a < b) with hot-bucket defense.
    *
    * Input columns: (id, band, key, p) where p is an arbitrary payload
    * carried through to the output as (pa, pb) — pass `lit(0)` when
    * unused. One window shuffle on (band, key) computes each bucket's
    * size and its minimum-id representative (the struct min carries
    * the representative's payload along); the pair join then reuses
    * that partitioning, so the defense costs no extra shuffle.
    *
    * Buckets with <= maxBucket members emit every pair, exactly as the
    * plain self-join would. A DEGENERATE bucket — boilerplate docs or
    * near-constant embeddings all colliding on one key — would make
    * that self-join quadratic in the bucket (the classic skew-killer
    * at 100 TB), so oversized buckets instead emit only the star
    * (representative, member) pairs: O(n) per bucket, and every member
    * stays reachable from the representative, which is what the
    * connected-components stage needs — a cluster of true duplicates
    * is fully merged via the representative PROVIDED the representative
    * itself verifies against each member (true for mutual near-dups of
    * the rep; a heterogeneous hot bucket holding a near-dup pair A,B
    * that both fail to verify against the rep keeps both — recall loss
    * inside oversized buckets is bounded by the star shape, not zero).
    * What is given up is the explicit enumeration of the other
    * intra-bucket pairs; [[hotBucketReport]] returns exactly which
    * buckets degraded and how many pairs were skipped, so the loss is
    * queryable, not silent — run it alongside [[dedupDocuments]] /
    * [[dedupIncrement]] whenever the corpus may contain boilerplate.
    */
  private[operators] def cappedPairs(buckets: DataFrame, maxBucket: Int): DataFrame = {
    // Bucket stats via a (band,key) window, NOT a groupBy joined back:
    // the join-back shape evaluates the expensive upstream (signature
    // computation) twice — once under the aggregate, once on the probe
    // side — because the two branches shuffle differently and reuse no
    // exchange (measured slower on every pair query). The window pays
    // one pass and one exchange that the pair self-join then reuses.
    val w = Window.partitionBy(col("band"), col("key"))
    val stats = buckets.select(col("id"), col("band"), col("key"), col("p"),
      count(lit(1)).over(w).as("bsz"),
      min(struct(col("id"), col("p"))).over(w).as("rep"))
    val small = stats.filter(col("bsz") <= maxBucket)
      .select(col("id"), col("band"), col("key"), col("p"))
    val smallPairs = small.as("x").join(small.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.p").as("pa"), col("y.p").as("pb"))
    // rep.id is the bucket minimum, so a < b holds by construction
    val starPairs = stats.filter(col("bsz") > maxBucket && col("id") =!= col("rep.id"))
      .select(col("rep.id").as("a"), col("id").as("b"),
        col("rep.p").as("pa"), col("p").as("pb"))
    smallPairs.unionByName(starPairs)
  }

  /** Buckets that exceeded `maxBucket` and the number of intra-bucket
    * pairs the star degradation skipped for each — the queryable audit
    * trail for [[cappedPairs]]. Empty on a corpus with no hot buckets.
    */
  def hotBucketReport(buckets: DataFrame, maxBucket: Int = DefaultMaxBucket): DataFrame =
    buckets.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("size"))
      .filter(col("size") > maxBucket)
      .select(col("band"), col("key"), col("size"),
        ((col("size") * (col("size") - 1) / 2).cast("long") - (col("size") - 1))
          .as("skipped_pairs"))

  /** (id, band, key) rows from an (id, sig) signature frame — the
    * banding step shared by [[minhashBuckets]] and [[dedupIncrement]]
    * (which bands persisted base signatures). Feed the result to
    * [[hotBucketReport]] to audit degenerate buckets.
    */
  def bandedBuckets(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("id"), explode(lshBands(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))

  /** (id, band, key) LSH bucket membership for a corpus — the shared
    * candidate-generation input for [[minhashCandidates]] and
    * [[hotBucketReport]].
    */
  def minhashBuckets(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerm: Int = 32, bands: Int = 8): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    bandedBuckets(minhashSignaturesFast(df, idCol, textCol, shingleLen, numPerm),
      bands, numPerm / bands)
  }

  /** Candidate near-dup pairs (a < b) via MinHash + LSH.
    * numPerm must be divisible by bands. Buckets larger than
    * `maxBucket` degrade to representative-star linking (see
    * [[cappedPairs]]) so one degenerate bucket cannot go quadratic.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, numPerm: Int = 32, bands: Int = 8,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val buckets = minhashBuckets(df, idCol, textCol, shingleLen, numPerm, bands)
    cappedPairs(buckets.withColumn("p", lit(0)), maxBucket)
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Exact Jaccard over shingle sets for a pair table (a, b) —
    * the verification stage after LSH candidate generation. Shingle
    * sets are computed ONLY for docs that appear in a candidate pair
    * (left-semi join first): for near-dup-rate corpora that is a tiny
    * fraction, so at scale the expensive re-shingling touches
    * O(candidates) docs, not O(corpus). Any extra columns on `pairs`
    * ride through unchanged (callers tag pair provenance and split
    * after ONE verify pass instead of running two).
    */
  def jaccardVerify(pairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String, shingleLen: Int = 3): DataFrame = {
    import graft.functions.VectorExpressions.sorted_intersect_size
    val ids = pairs.select(col("a").as("__pid"))
      .union(pairs.select(col("b").as("__pid")))
    // sorted + distinct shingles => the codegen'd merge kernel counts
    // |∩| in one pass per pair; |∪| = |a|+|b|-|∩|
    // NO Par.spread on the verify side either: the candidate set is
    // already pair-pruned (small), and the r19 A/B matrix put the
    // dedup family consistently faster without the input exchange
    val sh = df.join(ids, col(idCol) === col("__pid"), "left_semi")
      .select(col(idCol).as("id"),
        graft.functions.VectorExpressions.sorted_shingles(
          tokens(col(textCol)), shingleLen).as("sh"))
    pairs
      .join(sh.select(col("id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sh.select(col("id").as("b"), col("sh").as("shb")), Seq("b"))
      .select(pairs.columns.map(col).toSeq :+
        ((sorted_intersect_size(col("sha"), col("shb")).cast("double") /
          (size(col("sha")) + size(col("shb")) -
            sorted_intersect_size(col("sha"), col("shb"))).cast("double"))
          .as("jaccard")): _*)
  }

  /** Connected components over an undirected pair table (a, b).
    * Returns (id, component) where component = min id in the cluster.
    *
    * Two-tier, mirroring Ontology.transitiveClosure: a verified
    * near-dup PAIR set is orders of magnitude smaller than the corpus
    * (it is the output of LSH + Jaccard filtering), so up to
    * `driverMaxPairs` edges are closed ON THE DRIVER with union-find
    * (one collect, no per-round Spark jobs); larger graphs fall back
    * to the distributed min-label-propagation fixpoint below
    * (exercised in tests via driverMaxPairs = 0).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
      driverMaxPairs: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    // Materialize the pair set ONCE before the tier decision. The
    // previous probe — limit(cap+1).collect() straight off the verify
    // lineage — ran Spark's INCREMENTAL limit: try 1 partition, then
    // scaleUpFactor× more, re-executing the post-shuffle Jaccard
    // stage per retry round, with the retry count depending on how
    // rows happened to distribute — a nondeterministic work
    // amplifier implicated in the sf10 heavy tail (BASELINE.md round
    // 12: identical runs 17-46 s). persist + count runs the verify
    // lineage exactly once; both tiers then read the cached pairs
    // (the distributed fixpoint re-reads them per direction + round).
    val cached = pairs.select(col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      connectedComponentsOn(cached, spark, maxIters, driverMaxPairs)
    } finally { cached.unpersist(false); () }
  }

  private def connectedComponentsOn(pairs: DataFrame,
      spark: org.apache.spark.sql.SparkSession, maxIters: Int,
      driverMaxPairs: Long): DataFrame = {
    if (driverMaxPairs > 0) {
      val cap = math.min(driverMaxPairs, Int.MaxValue - 2L).toInt
      if (pairs.count() <= cap)
        return driverComponents(spark, pairs.collect(),
          pairs.schema.fields.head.dataType)
    }
    def pin(df: DataFrame): DataFrame = {
      val out = spark.createDataFrame(df.rdd, df.schema)
      out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out
    }
    val edges = pin(pairs.select(col("a").as("x"), col("b").as("y"))
      .union(pairs.select(col("b").as("x"), col("a").as("y"))).distinct())
    var labels = pin(edges.select(col("x").as("id")).distinct()
      .select(col("id"), col("id").as("component")))
    var i = 0
    var done = false
    // Min-label propagation only ever DECREASES labels, so the label
    // sum is a strictly decreasing convergence measure: comparing one
    // cheap aggregate per round replaces a join-with-previous +
    // isEmpty check (one scan of the cached frame vs an extra shuffle).
    // Decimal sum: exact and overflow-free for any long id domain.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast("decimal(38,0)")).as("s"))
        .collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    while (!done && i < maxIters) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "y2"), col("y") === col("y2"))
        .groupBy(col("x").as("id")).agg(min(col("component")).as("ncomp"))
      val next = pin(labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("ncomp"), col("component")))
            .as("component")))
      val nextSum = labelSum(next) // materializes `next`, so the
      // superseded iteration's cached blocks can be released (long
      // sessions would otherwise accumulate one frame per round)
      if (nextSum == prevSum) done = true
      prevSum = nextSum
      labels.unpersist()
      labels = next
      i += 1
    }
    edges.unpersist()
    labels
  }

  /** Driver-side union-find with path compression; component label =
    * minimum member id (same contract as the distributed path). Ids
    * must be mutually Comparable (long doc ids, string keys).
    */
  private def driverComponents(spark: org.apache.spark.sql.SparkSession,
      pairRows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import scala.collection.mutable
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairRows.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val minOf = mutable.HashMap.empty[Any, Any]
    def lt(x: Any, y: Any): Boolean =
      x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    parent.keysIterator.foreach { id =>
      val r = find(id)
      minOf.get(r) match {
        case Some(m) => if (lt(id, m)) minOf(r) = id
        case None => minOf(r) = id
      }
    }
    val rows = parent.keysIterator
      .map(id => org.apache.spark.sql.Row(id, minOf(find(id)))).toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("component", idType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows,
        math.max(2, spark.sparkContext.defaultParallelism / 4)), schema)
  }

  /** End-to-end near-dup RESOLUTION: detect candidate pairs (MinHash +
    * LSH), verify by Jaccard, cluster transitively, keep the smallest
    * id per cluster. Returns the deduplicated corpus.
    */
  def dedupDocuments(df: DataFrame, idCol: String, textCol: String,
      jaccardThreshold: Double = 0.7, shingleLen: Int = 3,
      numPerm: Int = 32, bands: Int = 8,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val verified = jaccardVerify(
      minhashCandidates(df, idCol, textCol, shingleLen, numPerm, bands, maxBucket),
      df, idCol, textCol, shingleLen)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("a"), col("b"))
    val comps = connectedComponents(verified)
    df.join(comps.withColumnRenamed("id", "__cid"),
        col(idCol) === col("__cid"), "left")
      .filter(col("__cid").isNull || col(idCol) === col("component"))
      .drop("__cid", "component")
  }

  /** INCREMENTAL near-dup resolution: drop from `increment` every doc
    * that near-duplicates the already-deduped `base` corpus or an
    * earlier-id doc in the increment itself. The production shape at
    * scale: base signatures are computed once and persisted (pass them
    * via `baseSigs` — e.g. yesterday's output of
    * [[minhashSignaturesAgg]]); each new batch only shingles its own
    * docs, and the candidate join touches base state through the
    * banded bucket index, never the base text.
    *
    * Returns the SURVIVING increment docs. Base docs always win
    * against increment docs (regardless of id); within the increment,
    * min id wins via [[connectedComponents]] — so appending the result
    * to base preserves the "no two near-dups" invariant.
    *
    * Hot-bucket defense on BOTH joins: the intra-increment pairs go
    * through [[cappedPairs]], and the inc-vs-base join passes a base
    * (band, key) bucket in full while it has at most `maxBucket`
    * members but degrades an oversized bucket to its single min-id
    * representative — a degenerate bucket shared by base and increment
    * (the boilerplate scenario) would otherwise emit |inc| x |base|
    * candidate pairs into the Jaccard verify, the exact quadratic
    * blowup [[cappedPairs]] exists to prevent. With the cap, candidate
    * pairs are bounded by |increment| x bands x maxBucket — linear in
    * the batch regardless of base skew. The trade matches
    * [[cappedPairs]]: an increment doc whose only base near-dup is a
    * buried (non-representative) member of oversized buckets in EVERY
    * colliding band can slip through vs-base; audit with
    * `hotBucketReport(bandedBuckets(baseSigs, bands, numPerm/bands))`.
    */
  def dedupIncrement(base: DataFrame, increment: DataFrame, idCol: String,
      textCol: String, jaccardThreshold: Double = 0.7, shingleLen: Int = 3,
      numPerm: Int = 32, bands: Int = 8,
      maxBucket: Int = DefaultMaxBucket,
      baseSigs: Option[DataFrame] = None,
      incrementBounded: Boolean = false): DataFrame = {
    val rowsPerBand = numPerm / bands
    require(numPerm % bands == 0, "numPerm must be divisible by bands")
    def buckets(df: DataFrame, sigs: Option[DataFrame]) =
      bandedBuckets(
        sigs.getOrElse(minhashSignaturesFast(df, idCol, textCol, shingleLen, numPerm)),
        bands, rowsPerBand)
    // r20 (VERDICT #6): the increment's signature+band build feeds
    // THREE consumers (vs-base candidates, the intra cappedPairs, and
    // the bounded-mode base prune) and was re-executed by each — the
    // r19 StageProbe's "~30 fixed-cost stages" profile counted the
    // same 5k-row shingle+minhash+explode subtree several times. Pin
    // it once behind an eager localCheckpoint on the BATCH path; the
    // streaming path (incrementBounded, trigger-sized micro-batches,
    // byte-equality twin gates) keeps its lazy frame — a per-batch
    // checkpoint job there costs latency the micro-batch cannot
    // amortize. Same rows either way. Measured (interleaved solo A/B,
    // 5 reps/side, dedup_increment+_warm together): FLAT at sf0.1 —
    // probe-matched pairs read −0.1/−0.2 s for the pin (rep3
    // 4.180/3.971 vs 4.296/4.068; rep5 4.905/4.457 vs 5.003/4.679),
    // min-of-5 inconclusive (one old-side rep caught a cool box
    // window). Kept for the scale shape: the pin removes two full
    // re-shingles of the increment text per batch, which is real
    // corpus-pass work once the increment no longer fits a page
    // cache, while the pinned frame stays increment-bounded.
    val incBuckets0 = buckets(increment, None)
    val incBuckets =
      if (incrementBounded) incBuckets0 else incBuckets0.localCheckpoint()
    // increment vs base: any banded collision that verifies kills the
    // increment doc outright (base always wins) — capped, see
    // [[incBaseCandidates]] and the scaladoc trade.
    //
    // `incrementBounded = true` declares the increment BOUNDED (a
    // streaming micro-batch, trigger-sized — never the batch
    // operator's contractually unbounded increment): the base bucket
    // table is then broadcast-semi-pruned to the increment's
    // (band, key) set BEFORE the bucket-size window, turning the
    // former per-batch O(base)-bucket shuffle+sort into a map-side
    // scan plus a window over the colliding buckets only. Pruning by
    // the window's own partition key keeps every retained group
    // intact, so bucket sizes and representatives are EXACT (r16
    // VERDICT #3's dedup-family half).
    val baseBuckets0 = buckets(base, baseSigs)
    val baseBuckets =
      if (!incrementBounded) baseBuckets0
      else baseBuckets0.join(
        broadcast(incBuckets.select(col("band"), col("key")).distinct()),
        Seq("band", "key"), "left_semi")
    val vsBase = incBaseCandidates(incBuckets, baseBuckets, maxBucket)
    // Two SEPARATE verify passes, not one union-tagged pass: the two
    // outputs feed diverging consumers (a driver collect inside
    // connectedComponents vs the final anti join), so a shared merged
    // frame would recompute the whole verify per consumer — measured
    // 4.8 -> 7.3 s steady at sf0.1, worse than the duplicate
    // shingling of increment docs it was meant to save.
    val baseKilled = jaccardVerify(vsBase,
        increment.select(col(idCol), col(textCol))
          .unionByName(base.select(col(idCol), col(textCol))),
        idCol, textCol, shingleLen)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("a").as("__dead")).distinct()
    // increment vs itself: the standard capped pipeline
    val intra = jaccardVerify(
        cappedPairs(incBuckets.withColumn("p", lit(0)), maxBucket)
          .select(col("a"), col("b")).distinct(),
        increment, idCol, textCol, shingleLen)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("a"), col("b"))
    val comps = connectedComponents(intra)
    increment
      .join(baseKilled, col(idCol) === col("__dead"), "left_anti")
      .join(comps.withColumnRenamed("id", "__cid"),
        col(idCol) === col("__cid"), "left")
      .filter(col("__cid").isNull || col(idCol) === col("component"))
      .drop("__cid", "component")
  }

  /** Candidate (inc_id `a`, base_id `b`) pairs for [[dedupIncrement]]:
    * banded bucket collisions with hot-bucket defense on the BASE side,
    * in the same shape as [[cappedPairs]] — one UNORDERED (band, key)
    * window computes each base bucket's size and min-id representative
    * (no per-bucket ordering, so the only sort is the (band, key) sort
    * the join needs anyway); buckets <= maxBucket join in full, while
    * a DEGENERATE bucket degrades to its representative alone. Distinct
    * pair count is therefore bounded by |incBuckets| x maxBucket
    * (linear in the increment) no matter how hot the shared buckets
    * are; uncapped, a boilerplate bucket present in both corpora would
    * emit |inc-bucket| x |base-bucket| pairs into the Jaccard verify.
    * The trade matches [[cappedPairs]]'s star degradation: an inc doc
    * colliding only inside hot buckets is verified against each
    * bucket's representative (one per band — up to `bands` independent
    * chances), not against every buried member.
    */
  private[graft] def incBaseCandidates(incBuckets: DataFrame,
      baseBuckets: DataFrame, maxBucket: Int): DataFrame = {
    val w = Window.partitionBy(col("band"), col("key"))
    val baseCapped = baseBuckets
      .select(col("id"), col("band"), col("key"),
        count(lit(1)).over(w).as("__bsz"), min(col("id")).over(w).as("__rep"))
      .filter(col("__bsz") <= maxBucket || col("id") === col("__rep"))
      .select(col("id"), col("band"), col("key"))
    incBuckets.as("i").join(baseCapped.as("b"),
        col("i.band") === col("b.band") && col("i.key") === col("b.key"))
      .select(col("i.id").as("a"), col("b.id").as("b")).distinct()
  }

  /** SimHash near-dup pairs with hamming(sig_a, sig_b) <= maxDist via
    * PIGEONHOLE banding: split the 64-bit signature into maxDist+1
    * equal bands — a pair within maxDist differs in at most maxDist
    * bits, so at least one band matches EXACTLY (the banding itself is
    * lossless). Candidates come from band equi-joins; a popcount of
    * the XOR verifies. Work scales with band collisions, never
    * |corpus|^2 — BECAUSE buckets above `maxBucket` degrade to star
    * pairs against the bucket representative: below the cap the
    * enumeration is exact (DedupSpec proves it against brute force);
    * above it, member-member pairs not co-located in any small bucket
    * are traded away for the O(n) bound. Pass maxBucket =
    * Int.MaxValue to restore unconditional exact enumeration, and use
    * [[hotBucketReport]] to see what a given cap would skip.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, maxBucket: Int = DefaultMaxBucket,
      md5Basis: Boolean = false): DataFrame = {
    val bands = maxDist + 1
    require(64 % bands == 0, s"maxDist+1 must divide 64 (got $bands bands)")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sigs = simhash(df, idCol, textCol, md5Basis)
    val banded = sigs.select(col("id"), col("sig").as("p"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * width).bitwiseAND(mask).as("key"))): _*))
        .as("bk"))
      .select(col("id"), col("p"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // Hot buckets (boilerplate corpora where one band value dominates)
    // degrade to star pairs against the bucket representative — the
    // hamming verify below still applies, so no false pair survives.
    cappedPairs(banded, maxBucket)
      .select(col("a"), col("b"),
        bit_count(col("pa").bitwiseXOR(col("pb"))).as("hamming"))
      .distinct() // a pair may collide on several bands
      .filter(col("hamming") <= maxDist)
  }

  /** 64-bit SimHash over distinct tokens: per bit, tokens vote +/-1
    * according to that bit of their xxhash64; the sign of the vote sum
    * becomes the signature bit. Hamming-close signatures => similar docs.
    */
  def simhash64(toks: Column): Column = {
    val dt = array_distinct(toks)
    (0 until 64).map { b =>
      val vote = aggregate(dt, lit(0),
        (acc, tk) => acc + when(shiftright(xxhash64(tk), b).bitwiseAND(1) === 1, 1)
          .otherwise(-1))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((x, y) => x + y)
  }

  /** SimHash as a DataFrame op (the scale path): MAP-ONLY via the
    * native [[graft.functions.VectorExpressions.simhash64]] kernel —
    * one codegen'd pass per document, bit-identical to the
    * interpreted [[simhash64]] fold and to the historical explode +
    * 64-sum-column aggregate (DedupSpec-pinned), with no token
    * explode and no groupBy exchange.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      md5Basis: Boolean = false): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.VectorExpressions.simhash64(
        tokens(col(textCol)), md5Basis).as("sig"))

  /** Default per-shingle posting-list size above which the containment
    * prefix join degrades to representative-star linking (see
    * [[containmentPairs]]). Measured organic shingle document
    * frequencies top out at 25 on the sf0.1 corpus (and stay there
    * under ScaleUp's per-replica token renaming), so the cap is
    * dormant on every oracle/gate corpus and fires only on
    * boilerplate-degenerate data.
    */
  val DefaultMaxPosting = 1024

  /** Sorted distinct shingle sets for [[containmentPairs]]: (doc_id,
    * sh) with docs below `minShingles` distinct shingles dropped
    * (containment against a near-empty set is noise, matching the
    * brute-force oracle's filter).
    */
  def containmentShingles(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, minShingles: Int = 5): DataFrame =
    Par.spread(df).select(col(idCol).as("doc_id"),
      graft.functions.VectorExpressions.sorted_shingles(
        tokens(col(textCol)), shingleLen).as("sh"))
      .filter(size(col("sh")) >= minShingles)

  /** Asymmetric containment near-dup pairs: (a, b, na, inter,
    * containment) for every ordered pair with
    * C(a→b) = |sh(a) ∩ sh(b)| / |sh(a)| >= 0.8 — the near-SUBSET
    * relation Jaccard misses when a short doc is wholly embedded in a
    * long one. PRECONDITION: `idCol` is unique per row (the verify
    * reassembles each pair from one row per endpoint id).
    *
    * This operator and the streaming increment
    * ([[graft.streaming.EventStreams.streamingContainment]]) share one
    * candidate-and-verify core, the PPJoin prefix filter (Xiao et al.,
    * WWW 2008):
    *   - Pigeonhole bound: if C(a→b) >= 4/5 then a misses at most
    *     floor(|sh(a)|/5) of its own shingles in b, so ANY
    *     floor(n/5)+1 of a's n shingles must hit b. a is indexed on
    *     that many shingles ([[containmentPrefixRows]], rarest first by
    *     df, which minimizes join fan-out but never decides coverage —
    *     so a prefix ranked against an older df snapshot stays
    *     complete) and joined against b's full postings
    *     ([[containmentCandidates]]).
    *   - Length filter: C(a→b) >= 4/5 forces 5·|sh(b)| >= 4·|sh(a)|,
    *     checked in exact integer math (a float ceil(0.8n) overshoots
    *     by 1 ulp at n%5==0 and would prune true boundary pairs).
    *   - Hot-star trade: the prefix bounds candidates only while dfs
    *     VARY. On N identical docs every shingle has df=N and each
    *     prefix row would join N full postings: ~0.2·|sh|·N² rows. So
    *     a shingle whose posting list exceeds `maxPosting` leaves the
    *     cold join (anti join against the hot set) and instead pairs
    *     each member with its min-id representative, BOTH orientations
    *     — O(df) per hot shingle instead of O(df²). Below the cap the
    *     filter is LOSSLESS (DedupSpec and the DuckDB brute-force
    *     oracle prove it); above it, member-member pairs whose every
    *     shared shingle is hot are traded for the linear bound,
    *     surfaced by an observed metric ([[observeStarPairs]]) and
    *     audited by [[hotPostingReport]].
    *   - Verify ([[containmentVerify]]): exact sorted-merge intersect
    *     of both endpoints' shingle sets, looked up in ONE doc-id
    *     merge join over the melted candidate endpoints; this is where
    *     the unique-id precondition binds.
    *
    * Scale shape: every stage is a keyed shuffle (df aggregate on g,
    * per-doc rank window, postings join on the prefix g, verify join
    * on doc ids); nothing is quadratic in the corpus. Corpus-sized
    * joins are pinned shuffle_hash/merge because post-explode size
    * estimates undershoot (the 0.6 MB sf0.1 parquet footprint made
    * the planner broadcast the exploded postings and the shingle
    * table); the only broadcasts are the hot set, bounded at
    * |postings|/maxPosting rows.
    * ref: the reference has no containment operator — §7.4 expansion.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, minShingles: Int = 5,
      maxPosting: Int = DefaultMaxPosting): DataFrame = {
    // The plan reads the shingle table five times (df aggregate,
    // prefix rank, cold-join postings, star postings, verify).
    // Unpersisted, each read re-ran the scan + tokenize + shingle
    // lineage, the dominant CPU term (BASELINE.md round 14); the df
    // aggregate stays unpersisted (cheap aggs over the cache beat
    // another cache's build/read stage — measured). The caller
    // unpersists after the action.
    val sh = containmentShingles(df, idCol, textCol, shingleLen, minShingles)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    containmentPairsOf(sh, containmentShingleStats(containmentPostings(sh)),
      maxPosting)
  }

  /** [[containmentPairs]] over an already-built shingle table `sh`
    * (doc_id, sh) and its [[containmentShingleStats]] `stats`.
    */
  private[graft] def containmentPairsOf(sh: DataFrame, stats: DataFrame,
      maxPosting: Int): DataFrame = {
    val posts = containmentPostings(sh)
    containmentVerify(sh,
      containmentCandidates(Seq(containmentPrefixRows(sh, stats) -> posts),
        posts, stats.filter(col("df") > maxPosting)),
      pruneCorpus = false)
  }

  /** Posting rows (doc_id, nsh, g) of a shingle table: one row per
    * (doc, shingle), carrying the doc's shingle count for the length
    * filter.
    */
  private[graft] def containmentPostings(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), size(col("sh")).as("nsh"),
      explode(col("sh")).as("g"))

  /** Per-shingle (g, df, rep) over posting rows: the document
    * frequency and the min-id posting as the star representative. min
    * over (doc_id, nsh) structs orders by doc_id first, so `rep.nsh`
    * rides along for the star tier's length filter.
    */
  private[graft] def containmentShingleStats(posts: DataFrame): DataFrame =
    posts.groupBy(col("g")).agg(count(lit(1)).as("df"),
      min(struct(col("doc_id"), col("nsh"))).as("rep"))

  /** Candidate pairs (a, b), deduplicated, of the [[containmentPairs]]
    * core:
    *   - cold tier, one per `(prefix, posts)` element: prefix rows
    *     (a, nsha, g) minus currently-hot shingles (broadcast anti
    *     join), shuffle-hash-joined on g against posting rows
    *     (doc_id, nsh, g), length-filtered;
    *   - star tier: `starPosts` members of each hot shingle in
    *     `hotTab` (g, df, rep) paired with the representative, both
    *     orientations, map-only against the broadcast hot table.
    * `hotTab` must be exact for every shingle the tiers route on.
    */
  private[graft] def containmentCandidates(
      cold: Seq[(DataFrame, DataFrame)], starPosts: DataFrame,
      hotTab: DataFrame): DataFrame = {
    val hotG = broadcast(hotTab.select(col("g")))
    val coldPairs = cold.map { case (prefix, posts) =>
      prefix.join(hotG, Seq("g"), "left_anti")
        .hint("shuffle_hash")
        .join(posts.select(col("doc_id").as("b"), col("nsh").as("nshb"),
          col("g")), Seq("g"))
        .filter(col("a") =!= col("b") && col("nshb") * 5 >= col("nsha") * 4)
        .select(col("a"), col("b"))
    }
    // One map-only pass emitting both orientations through one explode:
    // routing them through a fwd/rev union of shared join frames
    // re-evaluated the posting lineage per consumer — measured 2-4x the
    // whole batch entry at sf0.1.
    val idT = starPosts.schema("doc_id").dataType.catalogString
    val pairT = s"array<struct<a:$idT,b:$idT>>"
    val stars = observeStarPairs(starPosts
      .join(broadcast(hotTab), Seq("g"))
      .filter(col("doc_id") =!= col("rep.doc_id"))
      .select(explode(concat(
        // rep contained in member (a = rep, b = member)
        when(col("nsh") * 5 >= col("rep.nsh") * 4,
          array(struct(col("rep.doc_id").as("a"), col("doc_id").as("b"))))
          .otherwise(array().cast(pairT)),
        // member contained in rep (a = member, b = rep)
        when(col("rep.nsh") * 5 >= col("nsh") * 4,
          array(struct(col("doc_id").as("a"), col("rep.doc_id").as("b"))))
          .otherwise(array().cast(pairT)))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b")))
    (coldPairs :+ stars).reduce(_.unionByName(_)).distinct()
  }

  /** Exact verify of [[containmentPairs]]' candidates: look up both
    * endpoints' shingle sets in `sh` (doc_id, sh) and keep pairs with
    * containment >= 0.8, as (a, b, na, inter, containment).
    *
    * Each candidate is melted into its two endpoints, joined to `sh`
    * ONCE on doc_id (merge-pinned: both sides are contractually
    * unbounded, and the shingle table is never broadcast), and
    * reassembled per pair. Two doc-id joins, one per endpoint, cost
    * 9.5 of 10.5 s of a 500k-doc streaming batch (Spark does not reuse
    * the exchange across differently-aliased sides). Each (a, b) group
    * holds one side=a and one side=b row when doc ids are unique, so
    * the ignoreNulls-first picks are deterministic.
    *
    * `pruneCorpus`: when the caller has counted the candidates and they
    * are broadcast-safe, `sh` is first semi-pruned by the distinct
    * endpoint ids, so only candidate-matched rows reach the merge
    * join's shuffle + sort (at the 500k-doc streaming tier the unpruned
    * sort moved the whole store's shingle arrays every batch). Only
    * the bounded endpoint aggregate is ever broadcast.
    */
  private[graft] def containmentVerify(sh: DataFrame, cand: DataFrame,
      pruneCorpus: Boolean): DataFrame = {
    import graft.functions.VectorExpressions.sorted_intersect_size
    val corpus =
      if (!pruneCorpus) sh
      else sh.join(
        broadcast(cand.select(explode(array(col("a"), col("b")))
          .as("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
    val melted = cand.select(col("a"), col("b"), explode(array(
        struct(lit("a").as("side"), col("a").as("doc_id")),
        struct(lit("b").as("side"), col("b").as("doc_id")))).as("m"))
      .select(col("a"), col("b"), col("m.side").as("side"),
        col("m.doc_id").as("doc_id"))
    melted.hint("merge")
      .join(corpus, Seq("doc_id"))
      .groupBy(col("a"), col("b"))
      .agg(
        first(when(col("side") === "a", col("sh")), ignoreNulls = true)
          .as("sha"),
        first(when(col("side") === "b", col("sh")), ignoreNulls = true)
          .as("shb"))
      .select(col("a"), col("b"),
        sorted_intersect_size(col("sha"), col("shb")).cast("long").as("inter"),
        size(col("sha")).cast("long").as("na"))
      .filter(col("inter") / col("na") >= 0.8)
      .select(col("a"), col("b"), col("na"), col("inter"),
        (col("inter") / col("na")).as("containment"))
  }

  private val starObservationId = new java.util.concurrent.atomic.AtomicLong()
  private val starListenerSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  /** Wrap the star tier of [[containmentCandidates]] in a named
    * `observe` (unique per call — CollectMetrics names must not
    * collide inside one query) and register, once per session, a
    * QueryExecutionListener that WARN-logs whenever the metric is
    * nonzero: the consumer's signal that hot postings fired and the
    * pair set is star-linked above the df cap, without paying an
    * extra job for [[hotPostingReport]] on every healthy run.
    *
    * The metric counts the branch's PRE-dedup rows (one per member
    * doc x hot shingle x orientation — an upper bound on distinct
    * star pairs, exact when each hot member carries one hot shingle).
    * observe() cannot host a DISTINCT aggregate and deduplicating the
    * branch first would re-add an exchange to a deliberately map-only
    * path, so the signal stays zero/nonzero + magnitude;
    * [[hotPostingReport]] is the exact per-shingle audit.
    */
  private[graft] def observeStarPairs(stars: DataFrame): DataFrame = {
    val session = stars.sparkSession
    if (starListenerSessions.put(session, java.lang.Boolean.TRUE) == null) {
      session.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith("containment_hot_") && row.getLong(0) > 0L)
                log.warn(s"containmentPairs: hot-posting star tier emitted " +
                  s"${row.getLong(0)} candidate rows ($name; pre-dedup upper " +
                  "bound on star pairs) — output is star-linked, not " +
                  "complete, above the posting cap; run hotPostingReport " +
                  "for the per-shingle audit")
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
    }
    stars.observe(s"containment_hot_${starObservationId.incrementAndGet()}",
      count(lit(1)).as("star_rows"))
  }

  /** The floor(|sh|/5)+1-shingle PREFIX rows (a, nsha, g) for each doc
    * in `sh`, rarest-first by the supplied (g, df) snapshot: the index
    * side of the [[containmentPairs]] core. Any such subset is
    * lossless (the pigeonhole bound), so streaming stores persist
    * these rows and reuse them as the corpus grows. Shingles absent
    * from the snapshot rank as df=0 (rarest).
    */
  private[graft] def containmentPrefixRows(sh: DataFrame,
      dfByG: DataFrame): DataFrame =
    containmentPostings(sh)
      .join(dfByG.select(col("g"), col("df")).hint("shuffle_hash"),
        Seq("g"), "left")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(coalesce(col("df"), lit(0L)), col("g"))))
      .filter(col("rk") <= floor(col("nsh") / 5) + 1)
      .select(col("doc_id").as("a"), col("nsh").as("nsha"), col("g"))

  /** Shingles whose posting list exceeds `maxPosting` and the number
    * of ordered candidate pairs the star degradation skipped for each
    * (full bidirectional clique df·(df−1) minus the 2·(df−1) star) —
    * the queryable audit trail for [[containmentPairs]], analogous to
    * [[hotBucketReport]]. Empty on a corpus with no hot shingles.
    */
  def hotPostingReport(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, minShingles: Int = 5,
      maxPosting: Int = DefaultMaxPosting): DataFrame =
    containmentShingles(df, idCol, textCol, shingleLen, minShingles)
      .select(explode(col("sh")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxPosting)
      .select(col("g"), col("df"),
        ((col("df") - 1) * (col("df") - 2)).cast("long").as("skipped_pairs"))
}
