package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal}

/** Specs for the §7.4 expansion operators: MinHash+LSH near-dup,
  * SimHash, n-gram shingles, and multimodal binary plumbing.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: sliding distinct n-grams, short-doc fallback") {
    val out = Seq(("a b c d", 1), ("a b", 2)).toDF("text", "id")
      .select(Dedup.shingles(Dedup.tokens(col("text")), 3).as("sh"), col("id"))
      .collect().map(r => r.getInt(1) -> r.getSeq[String](0)).toMap
    assert(out(1) == Seq("a b c", "b c d"))
    assert(out(2) == Seq("a b"))
  }

  test("minhash: identical docs share the full signature; disjoint docs do not") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different words compose this other document text"))
      .toDF("id", "text")
    val sigs = df.select(col("id"),
      Dedup.minhashSignature(Dedup.shingles(Dedup.tokens(col("text")), 3), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("shingle_explode generator matches the built-in shingle formulation") {
    import org.apache.spark.sql.graft.ShingleGeneratorApi.shingle_explode
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val viaGen = docs.select(col("doc_id"),
        shingle_explode(Dedup.tokens(col("text")), 3).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val viaBuiltins = docs.select(col("doc_id"),
        explode(Dedup.shingles(Dedup.tokens(col("text")), 3)).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaGen == viaBuiltins && viaGen.nonEmpty)
    // short-doc fallback matches too
    val short = Seq((1L, "a b")).toDF("doc_id", "text")
      .select(shingle_explode(Dedup.tokens(col("text")), 3).as("s"))
      .collect().map(_.getString(0)).toSeq
    assert(short == Seq("a b"))
  }

  test("native MinHashAgg produces the same signatures as the min-column formulation") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val viaCols = Dedup.minhashSignatures(docs, "doc_id", "text", numPerm = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaAgg = Dedup.minhashSignaturesAgg(docs, "doc_id", "text", numPerm = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaAgg == viaCols && viaAgg.nonEmpty)
    // the map-only kernel the pipelines run is bit-identical too
    val viaFast = Dedup.minhashSignaturesFast(docs, "doc_id", "text", numPerm = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaFast == viaCols)
  }

  test("minhash LSH: near-identical pair surfaces as candidate, verified by jaccard") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(df, "doc_id", "text", numPerm = 32, bands = 16)
    val verified = Dedup.jaccardVerify(cands, df, "doc_id", "text")
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Double]("jaccard"))
      .toMap
    assert(verified.contains((1L, 2L)))
    assert(verified((1L, 2L)) > 0.5)
    assert(!verified.contains((1L, 3L)) || verified((1L, 3L)) == 0.0)
  }

  test("simhash: identical docs equal; one-token edit stays hamming-close") {
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val sigs = Seq(
      (1L, "spark catalyst tungsten codegen shuffle broadcast partition"),
      (2L, "spark catalyst tungsten codegen shuffle broadcast partition"),
      (3L, "spark catalyst tungsten codegen shuffle broadcast pipeline"),
      (4L, "completely unrelated content about cooking pasta and sauce"))
      .toDF("id", "text")
      .select(col("id"), Dedup.simhash64(Dedup.tokens(col("text"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(hamming(sigs(1L), sigs(3L)) < hamming(sigs(1L), sigs(4L)))
    assert(hamming(sigs(1L), sigs(3L)) <= 16)
  }

  test("native simhash64 kernel equals the interpreted fold on the corpus") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val viaFold = docs
      .select(col("doc_id"), Dedup.simhash64(Dedup.tokens(col("text"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaKernel = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaKernel == viaFold && viaKernel.nonEmpty)
  }

  test("md5-basis simhash64 matches a direct MessageDigest reference (DuckDB md5_number_lower twin)") {
    // the oracle contract: per-token hash = digest bytes 8..15 of
    // md5(token), little-endian — exactly DuckDB's md5_number_lower.
    // Recompute a signature from first principles and compare.
    val toks = Seq("alpha", "beta", "gamma", "beta", "")
    def md5Lower64(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(d, 8, 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    }
    val votes = new Array[Int](64)
    toks.distinct.foreach { tk =>
      val h = md5Lower64(tk)
      (0 until 64).foreach(b =>
        votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1))
    }
    val expected = (0 until 64).foldLeft(0L)((acc, b) =>
      if (votes(b) > 0) acc | (1L << b) else acc)
    val got = Seq(Tuple1(toks)).toDF("toks")
      .select(graft.functions.VectorExpressions
        .simhash64(col("toks"), md5Basis = true).as("sig"))
      .collect()(0).getLong(0)
    assert(got == expected)
    // and the basis genuinely differs from the xxhash64 default
    val xx = Seq(Tuple1(toks)).toDF("toks")
      .select(graft.functions.VectorExpressions.simhash64(col("toks")).as("sig"))
      .collect()(0).getLong(0)
    assert(got != xx)
  }

  test("simhash64 kernel drops null tokens like the explode formulation did") {
    // explode(array_distinct(tokens)) silently dropped nulls; the
    // map-only kernel must match rather than NPE on a null element
    val sigs = Seq((1, Seq("a", null, "b")), (2, Seq("a", "b")))
      .toDF("id", "toks")
      .select(col("id"),
        graft.functions.VectorExpressions.simhash64(col("toks")).as("sig"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sigs(1) == sigs(2))
  }

  test("connected components: transitive clusters resolve to the min id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: the pair lineage evaluates EXACTLY once per partition (no incremental-limit retries)") {
    // The r12 sf10 heavy tail came from limit(cap+1).collect() running
    // Spark's incremental limit over the expensive verify lineage —
    // a data-distribution-dependent number of re-executions. Pin the
    // fix: with persist+count+collect, every input partition's lineage
    // runs exactly once for the whole call.
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("lineage-evals")
    val pairs = spark.range(0L, 1000L, 1L, 8)
      .as[Long]
      .mapPartitions { it => acc.add(1); it.map(i => (i, i + 1L)) }
      .toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs)
    assert(comps.count() == 1001L) // one chain: 0..1000
    assert(acc.value == 8L,
      s"pair lineage partitions evaluated ${acc.value} times (expected 8 = once each)")
  }

  test("driver union-find and distributed label propagation agree") {
    // ring + chain + star + isolated pair, shuffled edge order
    val edges = Seq((5L, 1L), (1L, 3L), (3L, 5L), (20L, 21L), (21L, 22L),
      (30L, 31L), (30L, 32L), (30L, 33L), (40L, 41L)).toDF("a", "b")
    val viaDriver = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaSpark = Dedup.connectedComponents(edges, driverMaxPairs = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaSpark)
    assert(viaDriver(5L) == 1L && viaDriver(22L) == 20L && viaDriver(33L) == 30L)
  }

  test("simhash pigeonhole banding is LOSSLESS vs brute-force hamming<=3") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 120).select(col("doc_id"), col("text"))
    // plant an identical doc (hamming 0) so at least one true pair exists;
    // a one-token edit can flip >3 of 64 bits on short docs
    val t0 = docs.filter(col("doc_id") === 0L).collect()(0).getString(1)
    val corpus = docs.unionByName(Seq((9000L, t0)).toDF("doc_id", "text"))
    val banded = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = Dedup.simhash(corpus, "doc_id", "text")
    val brute = sigs.as("x").join(sigs.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("h"))
      .filter(col("h") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute)
    assert(banded.exists { case (a, b) => a == 0L && b == 9000L })
  }

  test("dedupDocuments keeps one canonical doc per near-dup chain") {
    val base = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val t0 = base.filter(col("doc_id") === 0L).collect()(0).getString(1)
    // chain: 9001 ~ doc0 (identical), 9002 ~ 9001 (one extra token) —
    // transitively one cluster even if 9002 vs doc0 misses the bar
    val planted = Seq((9001L, t0), (9002L, t0 + " extra")).toDF("doc_id", "text")
    val deduped = Dedup.dedupDocuments(base.unionByName(planted),
      "doc_id", "text", jaccardThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!deduped.contains(9001L) && !deduped.contains(9002L))
    assert(deduped.contains(0L))
    // untouched docs survive
    assert(deduped.contains(1L))
  }

  test("hot-bucket defense: 1k identical docs stay linear and still dedup to one") {
    val n = 1000
    val boiler = "the same boilerplate sentence repeated across every single document in the batch"
    val hot = spark.range(n).select(col("id").as("doc_id"), lit(boiler).as("text"))
    // a normal near-dup pair OUTSIDE the hot cluster must be unaffected
    val pairDocs = Seq(
      (8001L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (8002L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
      .toDF("doc_id", "text")
    val corpus = hot.unionByName(pairDocs)

    // the audit trail reports the degenerate buckets and the skipped pairs
    val report = Dedup.hotBucketReport(
      Dedup.minhashBuckets(corpus, "doc_id", "text"), maxBucket = 64).collect()
    assert(report.nonEmpty)
    assert(report.forall(_.getAs[Long]("size") == n))
    assert(report.forall(_.getAs[Long]("skipped_pairs") == n.toLong * (n - 1) / 2 - (n - 1)))

    val cands = Dedup.minhashCandidates(corpus, "doc_id", "text", maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // hot cluster: star pairs only — n-1 edges to doc 0, not ~n^2/2
    assert(cands.count(_._1 == 0L) == n - 1)
    assert(cands.size <= n + 8) // star + the small-bucket pair
    assert(cands.contains((8001L, 8002L)))

    // end-to-end: the whole hot cluster still collapses to one doc
    val deduped = Dedup.dedupDocuments(corpus, "doc_id", "text",
      jaccardThreshold = 0.5).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(deduped.contains(0L))
    assert((1L until n.toLong).forall(i => !deduped.contains(i)))
    assert(deduped.contains(8001L) && !deduped.contains(8002L))
  }

  test("incremental dedup: base wins, in-batch dups resolve to min id, novel docs survive") {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val inc = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of base 1 -> dies
      (11L, "totally new content nine ten eleven twelve thirteen"), // novel
      (12L, "totally new content nine ten eleven twelve thirteen"), // dup of 11 -> dies
      (13L, "completely different words for the last document here")) // novel
      .toDF("doc_id", "text")
    val out = Dedup.dedupIncrement(base, inc, "doc_id", "text", jaccardThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(11L, 13L))
    // the persisted-state path: precomputed base signatures, same answer
    val sigs = Dedup.minhashSignaturesAgg(base, "doc_id", "text")
    val out2 = Dedup.dedupIncrement(base, inc, "doc_id", "text",
      jaccardThreshold = 0.5, baseSigs = Some(sigs))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out2 == out)
    // appending survivors preserves the no-two-near-dups invariant
    val appended = base.unionByName(inc.filter(col("doc_id").isin(11L, 13L)))
    assert(Dedup.dedupDocuments(appended, "doc_id", "text",
      jaccardThreshold = 0.5).count() == appended.count())
  }

  test("incremental dedup: shared hot bucket stays linear in the increment, dups still die") {
    val nBase = 500
    val nInc = 200
    val maxBucket = 16
    val boiler = "the same boilerplate sentence repeated across every single document in the batch"
    // base and increment share ONE degenerate (band,key) bucket per band
    val base = spark.range(nBase).select(col("id").as("doc_id"), lit(boiler).as("text"))
      .unionByName(Seq((9000L, "organic base content alpha beta gamma delta epsilon zeta"))
        .toDF("doc_id", "text"))
    val inc = spark.range(nInc).select((col("id") + 10000L).as("doc_id"),
        lit(boiler).as("text"))
      .unionByName(Seq(
        (20001L, "novel increment content one two three four five six seven"),
        (20002L, "organic base content alpha beta gamma delta epsilon zeta"))
        .toDF("doc_id", "text"))
    // the capped candidate join is LINEAR in the increment: each inc
    // bucket row meets at most maxBucket base reps; uncapped it would
    // be |inc| x |base| = 100k pairs for the boilerplate bucket alone
    val cands = Dedup.incBaseCandidates(
      Dedup.minhashBuckets(inc, "doc_id", "text"),
      Dedup.minhashBuckets(base, "doc_id", "text"), maxBucket)
    val nCands = cands.count()
    assert(nCands <= (nInc + 2).toLong * 8 * maxBucket,
      s"candidate count $nCands exceeds the linear bound")
    assert(nCands < nInc.toLong * nBase, "cap did not engage — quadratic pair set")
    // identical boilerplate: the hot base bucket degrades to its min-id
    // representative, so every inc doc pairs with exactly that one rep
    // (identical sigs => the same bucket and rep in every band)
    assert(cands.filter(col("a") === 10000L).count() == 1)
    // resolution is unchanged: every boilerplate inc doc dies against a
    // capped rep (reps ARE the boilerplate), the base-dup dies, the
    // novel doc survives
    val out = Dedup.dedupIncrement(base, inc, "doc_id", "text",
        jaccardThreshold = 0.5, maxBucket = maxBucket)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(20001L))
  }

  test("warm dedup_increment registry entry equals the cold one row-for-row") {
    val sf = "/root/testdata/sf0.001"
    val cold = graft.SparkEntry.queries("dedup_increment")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val warm = graft.SparkEntry.queries("dedup_increment_warm")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(warm == cold)
    // second call hits the persisted signature store (idempotent)
    val warm2 = graft.SparkEntry.queries("dedup_increment_warm")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(warm2 == cold)
  }

  test("LSH recall pin: candidates cover every exact J>=0.5 pair; registry entry IS the exact set") {
    // This is what licenses the DuckDB oracle on minhash_neardup /
    // dedup_corpus / dedup_increment*: the verify stage computes EXACT
    // Jaccard, so the only way Spark can diverge from the closed-form
    // exact answer is an LSH recall miss — prove there is none on the
    // test corpus (every true pair here has J >= 0.9, where
    // 8-band/4-row recall is 1-(1-J^4)^8 > 0.9998 per pair).
    import graft.functions.VectorExpressions.{sorted_shingles, sorted_intersect_size}
    val sf = "/root/testdata/sf0.001"
    val docs = Tables(spark, sf, "documents")
    val sh = docs.select(col("doc_id"),
      sorted_shingles(Dedup.tokens(col("text")), 3).as("sh"))
    val exact = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a"), col("b.doc_id").as("b"),
        (sorted_intersect_size(col("a.sh"), col("b.sh")).cast("double") /
          (size(col("a.sh")) + size(col("b.sh")) -
            sorted_intersect_size(col("a.sh"), col("b.sh")))).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus has no true near-dup pairs — pin is vacuous")
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(cands), s"LSH missed true pairs: ${exact -- cands}")
    // and the oracle-gated registry entry returns exactly the exact set
    val entry = graft.SparkEntry.queries("minhash_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(entry == exact)
  }

  test("hot-bucket defense is dormant on the organic corpus (no degenerate buckets)") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val report = Dedup.hotBucketReport(
      Dedup.minhashBuckets(docs, "doc_id", "text")).collect()
    assert(report.isEmpty,
      s"organic corpus unexpectedly has hot buckets: ${report.mkString(", ")}")
  }

  test("simhash hot bucket: identical docs emit star pairs, not quadratic") {
    val n = 800
    val corpus = spark.range(n).select(col("id").as("doc_id"),
      lit("identical simhash content shared by the entire adversarial corpus").as("text"))
    val pairs = Dedup.simhashNearDupPairs(corpus, "doc_id", "text",
      maxDist = 3, maxBucket = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.length == n - 1)
    assert(pairs.forall { case (a, _, h) => a == 0L && h == 0 })
  }

  test("multimodal: media features and per-partition decode stub agree") {
    val docs = Seq((0L, "hello world", "en", "s", 11L), (1L, "x" * 600, "en", "s", 600L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.withMedia(docs)
    val feats = Multimodal.mediaFeatures(media).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(3)))).toMap
    assert(feats(0L) == ((11, 1L)))   // 11 bytes -> 1 frame of 256
    assert(feats(1L) == ((600, 3L)))  // 600 bytes -> 3 frames

    val frames = Multimodal.frameHashes(media).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(frames(0L).length == 1 && frames(1L).length == 3)

    // empty payload -> EMPTY frame array (not the sequence(0,-1) phantom pair)
    val empty = Multimodal.withMedia(
      Seq((9L, "", "en", "s", 0L)).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val emptyFrames = Multimodal.frameHashes(empty).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(emptyFrames(9L).isEmpty)

    // opaque (non-image) payloads take the PseudoCodec fallback path
    val decoded = Multimodal.decode(media).collect()
      .map(d => d.doc_id -> d).toMap
    assert(decoded(0L).byte_len == 11)
    assert(decoded(1L).byte_len == 600)
    assert(decoded.values.forall(_.codec == "pseudo"))
    // 'x' = 0x78 = 120 -> mean intensity of the 600-byte payload is exactly 120
    assert(decoded(1L).mean_intensity == 120.0)
    // deterministic channels fallback: 1 + len % 3; dims unknowable
    assert(decoded(0L).channels == 1 + 11 % 3)
    assert(decoded(0L).width == -1 && decoded(0L).height == -1)

    // opaque resize: payload re-budgeted to width*height bytes, metadata
    // struct rewritten to match
    val resized = Multimodal.resizeTo(media, 16, 8).collect()
      .map(r => r.doc_id -> ((r.media.length, r.media_meta.byte_len,
        r.media_meta.width, r.media_meta.height))).toMap
    assert(resized(0L) == ((128, 128, 16, 8)))
    assert(resized(1L) == ((128, 128, 16, 8)))
  }

  test("real PNG decode: javax.imageio recovers closed-form dims and mean intensity") {
    val docs = (0L to 40L).map(i => Tuple1(i)).toDF("doc_id")
    val media = Multimodal.withMediaPng(docs)
    val decoded = Multimodal.decode(media).collect().map(d => d.doc_id -> d).toMap
    assert(decoded.size == 41)
    assert(decoded.values.forall(_.codec == "imageio"))
    (0L to 40L).foreach { id =>
      val d = decoded(id)
      val (w, h) = (8 + (id % 9).toInt, 8 + (id % 7).toInt)
      assert(d.width == w && d.height == h && d.channels == 1,
        s"doc $id: got ${d.width}x${d.height}x${d.channels}, want ${w}x$h x1")
      // closed-form oracle: mean of (7x + 13y + id) mod 256 over the grid
      val want = (for { y <- 0 until h; x <- 0 until w }
        yield ((x * 7 + y * 13 + id) % 256).toDouble).sum / (w * h)
      assert(math.abs(d.mean_intensity - want) < 1e-9,
        s"doc $id: mean ${d.mean_intensity}, want $want")
    }

    // real resize: the output is a PNG that decodes at the target dims
    val one = Multimodal.withMediaPng(Seq(Tuple1(0L)).toDF("doc_id"))
    val rz = Multimodal.resizeTo(one, 4, 4).collect().head
    assert(rz.media_meta.mime == "image/png")
    val back = Multimodal.decode(Seq((0L, rz.media)).toDF("doc_id", "media"))
      .collect().head
    assert(back.codec == "imageio" && back.width == 4 && back.height == 4)
  }

  test("perceptual hash: closed-form bits, twin images collide, corrupt bytes degrade") {
    val docs = (0L to 40L).map(i => Tuple1(i)).toDF("doc_id")
    val ph = Multimodal.perceptualHash(Multimodal.withMediaPng(docs))
      .collect().map(p => p.doc_id -> p).toMap
    assert(ph.size == 41 && ph.values.forall(_.codec == "imageio"))
    // scala reference: integer-exact aHash from the pixel formula
    (0L to 40L).foreach { id =>
      val (w, h) = (8 + (id % 9).toInt, 8 + (id % 7).toInt)
      val cs = new Array[Long](64); val cn = new Array[Long](64)
      var tot = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 7 + y * 13 + id) % 256
        val c = (y * 8 / h) * 8 + x * 8 / w
        cs(c) += v; cn(c) += 1; tot += v
      }
      var hi = 0L; var lo = 0L
      val n = w.toLong * h
      for (c <- 0 until 64 if cs(c) * n > tot * cn(c))
        if (c < 32) lo |= 1L << c else hi |= 1L << (c - 32)
      assert(ph(id).phash_hi == hi && ph(id).phash_lo == lo,
        s"doc $id: (${ph(id).phash_hi},${ph(id).phash_lo}) want ($hi,$lo)")
      // both halves non-negative by construction (32 bits each)
      assert(ph(id).phash_hi >= 0 && ph(id).phash_lo >= 0)
    }
    // a twin id 16128 apart (0 mod 9, 7, and 256) is the same image
    val twins = Multimodal.perceptualHash(Multimodal.withMediaPng(
      Seq(Tuple1(5L), Tuple1(5L + 16128L)).toDF("doc_id")))
      .collect().map(p => (p.phash_hi, p.phash_lo)).toSet
    assert(twins.size == 1, s"twin images hashed apart: $twins")
    // undecodable payload -> total degradation, never a throw
    val bad = Multimodal.perceptualHash(
      Seq((7L, Array[Byte](1, 2, 3))).toDF("doc_id", "media")).collect().head
    assert(bad.codec == "pseudo" && bad.phash_hi == -1L && bad.phash_lo == -1L)
    // 16-bit raster: raw samples up to 65535 would break the
    // cross-multiplied integer-exactness bound. The kernel DOWNSCALES
    // by bit depth (sample >> 8 for 16-bit) rather than clamping at
    // 255 — a clamp saturates typical bright 16-bit content to a
    // uniform raster, so unrelated bright images would all hash to
    // the same degenerate value. This image discriminates the two:
    // halves at 60000/40000 shift to 234/156 (bit set iff cell column
    // < 4 vs the 195 mean), while a clamp would flatten both halves
    // to 255 and emit the all-zero hash.
    def png16(left: Int, right: Int): Array[Byte] = {
      val img16 = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
      for (y <- 0 until 16; x <- 0 until 16)
        img16.getRaster.setSample(x, y, 0, if (x < 8) left else right)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img16, "png", bos)
      bos.toByteArray
    }
    val h16 = Multimodal.perceptualHash(
      Seq((9L, png16(60000, 40000))).toDF("doc_id", "media")).collect().head
    assert(h16.codec == "imageio")
    var expHi = 0L; var expLo = 0L
    for (c <- 0 until 64 if c % 8 < 4)
      if (c < 32) expLo |= 1L << c else expHi |= 1L << (c - 32)
    assert(h16.phash_hi == expHi && h16.phash_lo == expLo,
      s"16-bit shift hash: (${h16.phash_hi},${h16.phash_lo}) want ($expHi,$expLo)")
    assert(!(h16.phash_hi == 0L && h16.phash_lo == 0L),
      "degenerate all-zero hash: 16-bit raster was clamped, not downscaled")
    // and two unrelated bright 16-bit images keep DISTINCT hashes
    // (under clamping both would saturate to the same uniform raster)
    val pair = Multimodal.perceptualHash(
      Seq((10L, png16(60000, 40000)), (11L, png16(40000, 60000)))
        .toDF("doc_id", "media"))
      .collect().map(p => (p.phash_hi, p.phash_lo)).toSet
    assert(pair.size == 2, s"bright 16-bit images collided: $pair")
  }

  test("real WAV decode: javax.sound recovers closed-form format and mean amplitude") {
    val docs = (0L to 30L).map(i => Tuple1(i)).toDF("doc_id")
    val decoded = Multimodal.decodeAudio(Multimodal.withMediaWav(docs))
      .collect().map(d => d.doc_id -> d).toMap
    assert(decoded.size == 31)
    assert(decoded.values.forall(_.codec == "javax.sound"))
    (0L to 30L).foreach { id =>
      val d = decoded(id)
      val n = 800 + (id % 100).toInt
      assert(d.sample_rate == 8000 && d.channels == 1 && d.n_frames == n,
        s"doc $id: ${d.sample_rate}Hz x${d.channels} ${d.n_frames}f, want 8000x1 ${n}f")
      val want = (0 until n).map(i => ((i * 7 + id) % 256).toDouble).sum / n
      assert(math.abs(d.mean_amplitude - want) < 1e-9,
        s"doc $id: mean ${d.mean_amplitude}, want $want")
    }
    // an opaque payload takes the pseudo fallback, dims unknowable
    val opaque = Multimodal.decodeAudio(
      Seq((99L, "not audio at all".getBytes("UTF-8"))).toDF("doc_id", "media"))
      .collect().head
    assert(opaque.codec == "pseudo" && opaque.sample_rate == -1)
  }

  test("decode bombs: header-declared huge rasters/streams degrade to pseudo, never allocate") {
    // a ~200-byte payload whose HEADER declares a 50000x50000 raster
    // (2.5G pixels — ~10 GiB as ARGB) must be rejected from the header
    // fields alone; the guard is the difference between a pseudo-path
    // row and an executor OOM on a real ingest of untrusted bytes

    // PNG: patch IHDR width/height (offsets 16/20, big-endian) and
    // recompute the chunk CRC so the reader accepts the header
    val png = Multimodal.pngPayload(1L)
    def patchBE(b: Array[Byte], off: Int, v: Long): Unit = {
      b(off) = ((v >> 24) & 0xff).toByte; b(off + 1) = ((v >> 16) & 0xff).toByte
      b(off + 2) = ((v >> 8) & 0xff).toByte; b(off + 3) = (v & 0xff).toByte
    }
    patchBE(png, 16, 50000L) // width
    patchBE(png, 20, 50000L) // height
    val crc = new java.util.zip.CRC32
    crc.update(png, 12, 4 + 13) // chunk type + IHDR data
    patchBE(png, 29, crc.getValue)
    // the patched header must be READABLE (CRC fixed) — otherwise this
    // would pin a parse failure, not the size gate
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(png))
    val rdr = javax.imageio.ImageIO.getImageReaders(iis).next()
    rdr.setInput(iis, true, true)
    assert(rdr.getWidth(0) == 50000 && rdr.getHeight(0) == 50000)
    rdr.dispose(); iis.close()
    val img = Multimodal.decode(Seq((7L, png)).toDF("doc_id", "media")).collect().head
    assert(img.codec == "pseudo" && img.width == -1,
      s"PNG bomb decoded as ${img.codec} ${img.width}x${img.height}")
    val rz = Multimodal.resizeTo(Seq((7L, png)).toDF("doc_id", "media"), 4, 4)
      .collect().head
    assert(rz.media_meta.mime == "application/octet-stream",
      s"PNG bomb resized via ${rz.media_meta.mime}")
    // an untouched payload still takes the real path (guard not over-broad)
    val ok = Multimodal.decode(
      Seq((1L, Multimodal.pngPayload(1L))).toDF("doc_id", "media")).collect().head
    assert(ok.codec == "imageio")

    // WAV: patch the data-chunk size (little-endian after the "data"
    // marker) to ~2 GiB of declared 8-bit mono PCM
    val wav = Multimodal.wavPayload(1L)
    val di = (0 until wav.length - 4).find(i => wav(i) == 'd' && wav(i + 1) == 'a'
      && wav(i + 2) == 't' && wav(i + 3) == 'a').get
    val big = 0x7fffff00L
    wav(di + 4) = (big & 0xff).toByte; wav(di + 5) = ((big >> 8) & 0xff).toByte
    wav(di + 6) = ((big >> 16) & 0xff).toByte; wav(di + 7) = ((big >> 24) & 0xff).toByte
    // again prove the header PARSES with the huge declared length, so
    // the pseudo result below comes from the size gate
    val ain = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    assert(ain.getFrameLength == big, s"declared frames ${ain.getFrameLength}")
    val aud = Multimodal.decodeAudio(Seq((7L, wav)).toDF("doc_id", "media"))
      .collect().head
    assert(aud.codec == "pseudo" && aud.n_frames == -1L,
      s"WAV bomb decoded as ${aud.codec} frames=${aud.n_frames}")
  }

  test("frameNearDupPairs: shared frames pair; ubiquitous frames are dropped") {
    // 600-byte payloads = 3 frames of 256/256/88 bytes. Docs 1 and 2
    // share ALL three frames (identical payload); doc 3 shares only
    // frame 0 with them (same leading 256 bytes, then diverges) ->
    // below the 2-shared-frame floor. Docs 10..30 all share one
    // ubiquitous frame (> maxDocsPerFrame holders) that must pair
    // nothing.
    val common = "c" * 256
    val docs = (Seq(
      (1L, common + "m" * 344),
      (2L, common + "m" * 344),
      (3L, common + "z" * 344)) ++
      (10L to 30L).map(i => (i, "u" * 256 + i.toString * 80)))
      .toDF("doc_id", "text")
    val media = Multimodal.withMedia(docs.withColumn("n_chars", length(col("text"))))
    val pairs = Multimodal.frameNearDupPairs(media, minShared = 2,
        maxDocsPerFrame = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 3L)),
      s"only the identical pair should survive (3 shared frames), got $pairs")

    // the audit names the dropped ubiquitous frame: 21 holders, so
    // 21*20/2 = 210 pairs were skipped — queryable, not silent
    val report = Multimodal.frameHotReport(media, maxDocsPerFrame = 16)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(report.toSeq == Seq((21L, 210L)), report.mkString(", "))
  }

  test("leakage-safe split: a planted near-dup that straddles the per-doc hash boundary follows its representative") {
    import graft.functions.TextOps
    // per-doc split side of an id, same rule as TextOps.stableSplit
    def sideOf(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      if (f"${d(0) & 0xff}%02x" < "1a") "test" else "train"
    }
    val base = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    val ids = base.select("doc_id").collect().map(_.getLong(0))
    // a base doc on the 'test' side; its duplicate gets a fresh id on
    // the 'train' side — the PER-DOC split would separate them
    val testDoc = ids.filter(i => sideOf(i) == "test").min
    val dupId = (9000000L to 9000100L).find(i => sideOf(i) == "train").get
    val t0 = base.filter(col("doc_id") === testDoc).collect()(0).getString(1)
    val docs = base.unionByName(Seq((dupId, t0)).toDF("doc_id", "text"))
    val edges = Dedup.jaccardVerify(
        Dedup.minhashCandidates(docs, "doc_id", "text"),
        docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.5).select(col("a"), col("b"))
      .localCheckpoint(true)
    val comp = Dedup.connectedComponents(edges)
    val split = docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        TextOps.stableSplit(coalesce(col("component"), col("doc_id")))
          .as("split"))
    val bySide = split.filter(col("doc_id").isin(testDoc, dupId))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the pair lands TOGETHER, on the representative's (min id) side
    assert(bySide(testDoc) == bySide(dupId),
      s"near-dups split apart: $bySide")
    assert(bySide(testDoc) == sideOf(math.min(testDoc, dupId)))
    // and the property binds: the per-doc rule WOULD have split them
    assert(sideOf(testDoc) != sideOf(dupId))
    // zero cross-split verified pairs, the invariant the oracle gates
    val cross = edges
      .join(split.select(col("doc_id").as("a"), col("split").as("sa")), "a")
      .join(split.select(col("doc_id").as("b"), col("split").as("sb")), "b")
      .filter(col("sa") =!= col("sb")).count()
    assert(cross == 0L)
  }

  test("containmentPairs: prefix filter is lossless vs brute force while the posting cap is dormant") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    // brute force: all ordered pairs, exact verify
    val brute = ContainmentReference.abPairs(docs)
    val got = Dedup.containmentPairs(docs, "doc_id", "text")
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Dedup.hotPostingReport(docs, "doc_id", "text").count() == 0L)
    assert(got == brute, s"capped-dormant containment diverged from brute force: " +
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("containmentPairs property: lossless vs brute force on random small-vocab corpora (boundary lengths included)") {
    // Random corpora from a 12-token vocabulary force heavy shingle
    // sharing and hit the integer length-filter boundary (n%5==0)
    // cases the fixed-corpus pin cannot enumerate. Cap stays dormant
    // (default 1024 >> 25 docs), so the contract is exact equality.
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(100 + seed)
      val vocab = Array("ka", "ko", "ku", "ma", "mo", "mu",
        "na", "no", "nu", "ra", "ro", "ru")
      val docs = (1L to 25L).map { id =>
        val n = 5 + rnd.nextInt(11) // 5..15 tokens -> 3..13 shingles
        (id, Array.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }.toDF("doc_id", "text")
      val brute = ContainmentReference.abPairs(docs)
      val got = Dedup.containmentPairs(docs, "doc_id", "text")
        .select(col("a"), col("b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute, s"seed $seed diverged: " +
        s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    }
  }

  test("containmentPairs: hot postings degrade to star pairs; cold pairs unaffected") {
    val boiler = (0 until 20).map(i => s"b$i").mkString(" ")
    val hot = spark.range(20).select(col("id").as("doc_id"), lit(boiler).as("text"))
    // an organic near-subset pair OUTSIDE the hot block: 9002 wholly
    // contains 9001's shingles plus a suffix
    val organic = Seq(
      (9001L, "alpha beta gamma delta epsilon zeta eta theta"),
      (9002L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"))
      .toDF("doc_id", "text")
    val corpus = hot.unionByName(organic)

    val report = Dedup.hotPostingReport(corpus, "doc_id", "text", maxPosting = 8)
      .collect()
    assert(report.nonEmpty)
    assert(report.forall(_.getAs[Long]("df") == 20L))
    assert(report.forall(_.getAs[Long]("skipped_pairs") == 19L * 18L))

    val pairs = Dedup.containmentPairs(corpus, "doc_id", "text", maxPosting = 8)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // hot block: exactly the bidirectional star around min-id rep 0
    val hotPairs = pairs.filter(p => p._1 < 9000L && p._2 < 9000L)
    val expectedStar = (1L until 20L).flatMap(x => Seq((0L, x), (x, 0L))).toSet
    assert(hotPairs == expectedStar, s"hot block pairs: $hotPairs")
    // organic containment found via the cold prefix path: 9001 ⊆ 9002
    assert(pairs.contains((9001L, 9002L)))
    assert(!pairs.contains((9002L, 9001L))) // asymmetric: 9002 not ⊆ 9001

    // the degradation is SURFACED, not silent: the star branch rides
    // an observe() metric (CollectMetrics in the plan) whose executed
    // value is the branch's pre-dedup row count — the zero/nonzero
    // signal the session listener WARN-logs. Closed form here: 19
    // members x 18 hot shingles x 2 orientations.
    val df = Dedup.containmentPairs(corpus, "doc_id", "text", maxPosting = 8)
    assert(df.queryExecution.optimizedPlan.toString.contains("CollectMetrics"),
      "star-tier observe metric is gone from the plan")
    df.collect() // executes THIS dataset's QueryExecution (a writer
    // would spawn a fresh one and leave these metrics unpopulated)
    val observed = df.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith("containment_hot") =>
        row.getAs[Long]("star_rows")
    }
    assert(observed == Seq(19L * 18L * 2L),
      s"observed star-row metric: $observed, want ${Seq(684L)}")
  }
}
