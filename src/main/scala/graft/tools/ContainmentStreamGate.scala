package graft.tools

import org.apache.spark.sql.functions._

/** Corpus-scale twin gate for the streaming containment shape
  * (StreamingSpec pins it on toy docs; this runs the REAL corpus):
  * split the sfDir documents table into a seed base (doc_id % 5 == 0)
  * and four increments, drive [[graft.streaming.EventStreams
  * .containmentIncrementBatch]] exactly as foreachBatch would — WITH
  * one minor and one major store fold (docs+prefix+pairs) mid-stream
  * — and assert the accumulated
  * pair log is BYTE-IDENTICAL (as an (a,b,na,inter) set) to the batch
  * operator run once over the full corpus, and that the folds really
  * rewrote the live layout. Prints one JSON line for BASELINE.md /
  * scale records.
  *
  * `chain` mode measures the READ side at the 500k-doc tier (the
  * containment twin of CompactionBench's dedup chain case): stores
  * whose live layout is base + {1,4,16} deltas — built through the
  * real compact() protocol over docs+postings+prefix+pairs — each
  * timed on ONE additional containmentIncrementBatch, at the sfDir
  * base size and id-shift replications of it (default tiers 1,10:
  * sf1 -> 50k and 500k docs; pass a third arg like `1,10,100` for
  * the 5M-doc decade). Flat timings across chain
  * lengths pin the minorEvery cadence guideline for
  * [[graft.streaming.EventStreams.streamingContainment]].
  *
  * On each tier's 16-delta store the gate also times one PLANTED
  * batch: one corpus doc's text replicated
  * batchDocs(>cap) times under novel ids, so every body shingle
  * crosses maxPosting IN the timed batch — a nonempty newly-hot
  * delta that forces the stale-prefix probe + refresh, the path
  * organic batches (empty hot delta) never pay. Its per-batch
  * seconds print beside the organic numbers.
  *
  * `cadence` mode records the raw points of a fold-cadence
  * cost-per-ingested-doc curve (see the comment at its branch).
  *
  * Run: SPARK_GRAFT_SHUFFLE=32 sbt "runMain graft.tools.ContainmentStreamGate <sfDir>"
  *      SPARK_GRAFT_SHUFFLE=64 sbt "runMain graft.tools.ContainmentStreamGate target/scale/sf1 chain [batchDocs] [tiers]"
  */
object ContainmentStreamGate {
  private def r1(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val chainMode = args.length > 1 && args(1) == "chain"
    val cadenceMode = args.length > 1 && args(1) == "cadence"
    // cadence mode reuses the arg-2 slot for its tier list — don't
    // parse it as a batch size there
    val batchDocs =
      if (!cadenceMode && args.length > 2) args(2).toInt else 500
    val spark = graft.ExecMode.session()
    spark.sparkContext.setLogLevel("WARN")
    import graft.streaming.{DedupStore, EventStreams}
    val subs = Seq("docs", "postings", "prefix", "pairs")

    val docs = graft.Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_csg").toFile

    def batch(store: String, df: org.apache.spark.sql.DataFrame,
        id: Long): Double = {
      val b0 = System.nanoTime()
      EventStreams.containmentIncrementBatch(df, id, store,
        "doc_id", "text", 3, 5, graft.operators.Dedup.DefaultMaxPosting)
      (System.nanoTime() - b0) / 1e9
    }
    // The seeded base's df snapshot, the ranking the chain/cadence
    // batches below write their prefix rows against.
    def baseDf(store: String): org.apache.spark.sql.DataFrame =
      spark.read.parquet(s"$store/docs/batch=base")
        .select(explode(col("sh")).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // One committed batch written directly in the store's own format
    // (shingle sets, postings, prefix rows vs `dfByG`), skipping the
    // pair mining the measurement does not time.
    def writeStoreBatch(store: String, part: String,
        rows: org.apache.spark.sql.DataFrame,
        dfByG: org.apache.spark.sql.DataFrame): Unit = {
      val sh = graft.operators.Dedup
        .containmentShingles(rows, "doc_id", "text", 3, 5)
      sh.write.mode("overwrite").parquet(s"$store/docs/batch=$part")
      EventStreams.containmentPostingsOf(sh, sorted = false)
        .write.mode("overwrite").parquet(s"$store/postings/batch=$part")
      graft.operators.Dedup.containmentPrefixRows(sh, dfByG)
        .write.mode("overwrite").parquet(s"$store/prefix/batch=$part")
    }

    // CADENCE mode: measure everything the cost-per-ingested-doc
    // curve of a fold cadence k needs, on ONE evolving store per tier,
    // exactly the state sequence a real cadence produces:
    //   - per-batch cost right after the seed, then at each pending
    //     count P in `pendings` (the LATE-cycle cost of cadence k=P),
    //     one timed probe per requested batch size. Every probe
    //     commits a part itself, so each point records the live-part
    //     count its batch actually ran against;
    //   - the minor fold that folds those P pending parts (the
    //     once-per-cycle cost, O(new data) by design);
    //   - one major fold at the end (the O(store) reference point;
    //     SPARK_GRAFT_CADENCE_MAJOR=off skips it on huge tiers).
    // cost/doc(k, D) = [sum of per-batch costs across the cycle +
    // minorFold(k*D)] / (k*D) — assembled in BASELINE.md from these
    // raw points. Pending parts are written in store format (the
    // chain-mode methodology); the timed probes run the REAL
    // containmentIncrementBatch.
    // Run: SPARK_GRAFT_SHUFFLE=64 sbt "runMain graft.tools.ContainmentStreamGate \
    //        target/scale/sf1 cadence [tiers=10] [pendings=8,32,128] [sizes=2000,10000]"
    if (cadenceMode) {
      val tiers = (if (args.length > 2) args(2) else "10")
        .split(",").map(_.trim.toInt).toSeq
      val pendings = (if (args.length > 3) args(3) else "8,32,128")
        .split(",").map(_.trim.toInt).toSeq.sorted
      val sizes = (if (args.length > 4) args(4) else "2000,10000")
        .split(",").map(_.trim.toInt).toSeq
      val doMajor = sys.env.getOrElse("SPARK_GRAFT_CADENCE_MAJOR", "on") != "off"
      val baseN = docs.count()
      val maxTag = 2000L
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      tiers.foreach { reps =>
        val label = s"base_${reps}x"
        val base = if (reps <= 1) docs
          else (0 until reps).map(r => docs.select(
              (col("doc_id") + r.toLong * 100000000L).as("doc_id"),
              col("text"))).reduce(_.unionByName(_))
        val store = new java.io.File(root, s"cadence_$label").getAbsolutePath
        val s0 = System.nanoTime()
        EventStreams.seedContainmentBase(base, "doc_id", "text", store,
          minePairs = false)
        val seedSec = (System.nanoTime() - s0) / 1e9
        val dfByG = baseDf(store)
        var tag = 0L
        var pending = 0 // parts committed since the last fold
        def novelC(n: Int): org.apache.spark.sql.DataFrame = {
          require(tag <= maxTag, s"cadence tag $tag over the novel-band ceiling")
          spark.range(n).select(
            (col("id") + 20000000000L + 10000000L * tag).as("doc_id"),
            concat(lit(s"novel batch $tag doc "), col("id"),
              lit(" alpha beta gamma delta epsilon")).as("text"))
        }
        def writePending(n: Int, d: Int): Unit = (0 until n).foreach { _ =>
          writeStoreBatch(store, s"b$tag", novelC(d), dfByG)
          tag += 1; pending += 1
        }
        def live(): Long = DedupStore.readLive(spark, store, "docs")
          .select(col("batch")).distinct().count()
        // (batch docs, live parts the batch ran against, seconds)
        def probe(d: Int): (Int, Long, Double) = {
          val lv = live()
          val sec = batch(store, novelC(d), tag); tag += 1; pending += 1
          (d, lv, sec)
        }
        // warm-up probe (JIT/plan compile), then the right-after-seed points
        probe(sizes.head)
        val atSeed = sizes.map(probe)
        val perPending = pendings.map { p =>
          writePending(math.max(0, p - pending), sizes.head)
          val probes = sizes.map(probe)
          val f0 = System.nanoTime()
          EventStreams.containmentCompact(spark, store, tag - 1,
            foldBase = false)
          val foldSec = (System.nanoTime() - f0) / 1e9
          val folded = pending; pending = 0
          (p, probes, foldSec, folded)
        }
        val majorSec =
          if (!doMajor) None
          else {
            writePending(2, sizes.head) // a major with nothing pending is a no-op
            val f0 = System.nanoTime()
            EventStreams.containmentCompact(spark, store, tag - 1,
              foldBase = true)
            Some((System.nanoTime() - f0) / 1e9)
          }
        dfByG.unpersist(false)
        def probesJson(probes: Seq[(Int, Long, Double)]): String =
          probes.map { case (d, lv, s) =>
            s""""docs$d":{"sec":${r1(s)},"live_parts":$lv}"""
          }.mkString("{", ",", "}")
        val pendJson = perPending.map { case (p, probes, foldSec, folded) =>
          s""""pending$p":{"batch_sec":${probesJson(probes)},"minor_fold_sec":${r1(foldSec)},"folded_parts":$folded}"""
        }.mkString(",")
        out += s""""$label":{"base_docs":${baseN * math.max(1, reps)},"seed_sec":${r1(seedSec)},"batch_sec_at_seed":${probesJson(atSeed)},$pendJson""" +
          majorSec.fold("")(m => s""","major_fold_sec":${r1(m)}""") + "}"
      }
      println(out.mkString(
        s"""{"gate":"containment_cadence","sf":"$sfDir","sizes":[${sizes.mkString(",")}],""",
        ",", "}"))
      spark.stop()
      return
    }

    if (chainMode) {
      val baseN = docs.count()
      // base + exactly `deltas` live delta partitions through the real
      // compact() protocol (two fresh batches per minor fold — a
      // single-partition fold is a protocol no-op). Chain-BUILD batches
      // are written directly in the store's own format (shingle sets +
      // prefix rows vs the base df snapshot — CompactionBench's dedup
      // chain methodology: content only needs the right shape; the
      // REAL containmentIncrementBatch is reserved for the timed probe,
      // else a 16-delta chain at 500k docs pays 32 full store reads
      // just to set the stage). The seeded store is built once per
      // base and file-copied per chain length: the seed (shingle +
      // prefix build over up to 500k docs) dominates, the copy does not.
      // Novel ids live ABOVE every replication band (r*100000000, r up
      // to 99 for the 100x tier -> bands reach 9.9e9), so no novel doc
      // shares a doc_id with the base (the verify's unique-id
      // precondition). The tag ceiling is enforced at BOTH ends of the
      // disjointness invariant: novel() refuses a tag above it, and
      // planted() proves its band sits above every possible novel id.
      val maxNovelTag = 2000L
      def novel(tag: Long, n: Int) = {
        require(tag <= maxNovelTag,
          s"novel tag $tag exceeds the $maxNovelTag ceiling the planted-band " +
            "disjointness require is proven against")
        spark.range(n).select(
          (col("id") + 20000000000L + 10000000L * tag).as("doc_id"),
          concat(lit(s"novel batch $tag doc "), col("id"),
            lit(" alpha beta gamma delta epsilon")).as("text"))
      }
      def buildChain(seed: String, name: String, deltas: Int,
          dfByG: org.apache.spark.sql.DataFrame): String = {
        val store = new java.io.File(root, name).getAbsolutePath
        import scala.sys.process._
        require(Seq("cp", "-r", seed, store).! == 0, s"copy $seed -> $store")
        (0 until deltas).foreach { d =>
          (0 until 2).foreach { j =>
            val b = 2L * d + j
            writeStoreBatch(store, s"b$b", novel(b, batchDocs), dfByG)
          }
          DedupStore.compact(spark, store, 2L * d + 1,
            foldBase = false, subs = subs)
        }
        store
      }
      val tiers = (if (args.length > 3) args(3) else "1,10")
        .split(",").map(_.trim.toInt).toSeq
      // PLANTED newly-hot batch: one corpus doc's
      // text under batchDocs novel ids — batchDocs > maxPosting, so
      // every body shingle crosses the cap inside this batch and the
      // stale-prefix probe + refresh run for real.
      require(batchDocs > graft.operators.Dedup.DefaultMaxPosting,
        s"planted batch needs batchDocs > cap to mint newly-hot shingles")
      val plantText = docs
        .filter(size(split(col("text"), " ")) >= 8)
        .select(col("text")).limit(1).collect()(0).getString(0)
      // Planted band 50e9: DISJOINT from every novel(tag) band
      // (20e9 + 1e7*tag + [0, batchDocs); the require below bounds
      // tags by a 2000 ceiling, i.e. novel ids < 40e9 + batchDocs)
      // and from the replicated base bands (< 1.7e9 at reps <= 16):
      // a planted id reusing the warm-up batch's range would break the
      // verify's unique-id precondition.
      val plantedBase = 50000000000L
      def planted(n: Int) = {
        require(plantedBase > 20000000000L + 10000000L * maxNovelTag + n,
          s"planted doc_id band must be disjoint from every novel(tag) band")
        spark.range(n).select(
          (col("id") + plantedBase).as("doc_id"),
          concat(lit(plantText), lit(" zzplant "), col("id")).as("text"))
      }
      val results = for {
        reps <- tiers
        label = s"base_${reps}x"
        base = if (reps <= 1) docs
          else (0 until reps).map(r => docs.select(
              (col("doc_id") + r.toLong * 100000000L).as("doc_id"),
              col("text"))).reduce(_.unionByName(_))
      } yield {
        val seed = new java.io.File(root, s"seed_$label").getAbsolutePath
        // minePairs=false: the chain measurement times the per-batch
        // increment, not the base's own pair mining.
        EventStreams.seedContainmentBase(base, "doc_id", "text", seed,
          minePairs = false)
        val dfByG = baseDf(seed)
        val row = Seq(1, 4, 16).map { deltas =>
          val store = buildChain(seed, s"chain_${label}_$deltas", deltas, dfByG)
          batch(store, novel(1000L, batchDocs), 1000L) // warm-up
          val sec = batch(store, novel(1001L, batchDocs), 1001L)
          // live_parts counted BEFORE the planted probe so it reports
          // the store state the organic `sec` above actually measured
          val live = DedupStore.readLive(spark, store, "docs")
            .select(col("batch")).distinct().count()
          // planted probe on the longest chain only: the stale-probe
          // cost is store-shaped, not chain-shaped
          val plantedSec =
            if (deltas == 16) Some(batch(store, planted(batchDocs), 1002L))
            else None
          (deltas, sec, live, plantedSec)
        }
        dfByG.unpersist(false)
        label -> row
      }
      val json = results.map { case (label, row) =>
        row.map { case (deltas, sec, live, plantedSec) =>
          s""""${label}_deltas$deltas":{"sec":${r1(sec)},"live_parts":$live""" +
            plantedSec.fold("")(p => s""","planted_sec":${r1(p)}""") + "}"
        }.mkString(",")
      }
      // STORE-SIZE AXIS: per-batch cost must be
      // SUBLINEAR in base size — median per-delta-count ratio of each
      // tier over the previous one, target well under the 10x data
      // growth (the residual linear term is the flat postings/docs
      // scan — see containmentIncrementBatch's honest-limits note).
      val byLabel = results.toMap
      val decades = tiers.sorted.sliding(2).filter(_.size == 2).map {
        case Seq(lo, hi) =>
          val ratios = byLabel(s"base_${lo}x").zip(byLabel(s"base_${hi}x"))
            .map { case ((_, s1, _, _), (_, sN, _, _)) => sN / s1 }.sorted
          (lo, hi, ratios(ratios.size / 2))
      }.toSeq
      // empty on a single-tier run — no dangling comma then
      val ratioJson = decades.map { case (lo, hi, r) =>
        s""","store_${hi}x_over_${lo}x_ratio":${r1(r)}"""
      }.mkString
      println(json.mkString(
        s"""{"gate":"containment_chain_read","sf":"$sfDir","base_docs":$baseN,"batch_docs":$batchDocs,""",
        ",",
        s"""$ratioJson}"""))
      spark.stop()
      return
    }

    val base = docs.filter(col("doc_id") % 5 === 0)
    def inc(k: Int) = docs.filter(col("doc_id") % 5 === k)
    val store = new java.io.File(root, "store").getAbsolutePath

    val t0 = System.nanoTime()
    EventStreams.seedContainmentBase(base, "doc_id", "text", store)
    val tSeed = (System.nanoTime() - t0) / 1e9
    def fold(upTo: Long, major: Boolean): Double = {
      val f0 = System.nanoTime()
      // the containment-aware fold: a major rewrites the prefix
      // generation re-ranked, so the gate's post-fold parity also
      // covers the rewrite path
      EventStreams.containmentCompact(spark, store, upTo, foldBase = major)
      (System.nanoTime() - f0) / 1e9
    }
    val tB0 = batch(store, inc(1), 0L)
    val tB1 = batch(store, inc(2), 1L)
    val tMinor = fold(1L, major = false)   // b0+b1 -> delta-g1
    val tB2 = batch(store, inc(3), 2L)
    val tMajor = fold(2L, major = true)    // base+delta-g1+b2 -> base-g2
    val tB3 = batch(store, inc(4), 3L)

    // The folds must have really rewritten the live layout: everything
    // up to b2 folded into base-g2, only the post-fold b3 beside it.
    val layout = subs.map { sub =>
      sub -> DedupStore.readLive(spark, store, sub)
        .select(col("batch")).distinct().collect()
        .map(_.getString(0)).toSet
    }.toMap
    val layoutOk = layout.values.forall(_ == Set("base-g2", "b3"))

    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.select(col("a"), col("b"), col("na"), col("inter")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = pairSet(EventStreams.containmentStorePairs(spark, store))
    val batchTwin = pairSet(
      graft.operators.Dedup.containmentPairs(docs, "doc_id", "text"))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    val equal = streamed == batchTwin
    println(s"""{"gate":"containment_stream_twin","sf":"$sfDir","streamed_pairs":${streamed.size},"batch_pairs":${batchTwin.size},"equal":$equal,"layout_ok":$layoutOk,"seed_sec":${r1(tSeed)},"batch_sec":[${Seq(tB0, tB1, tB2, tB3).map(r1).mkString(",")}],"minor_fold_sec":${r1(tMinor)},"major_fold_sec":${r1(tMajor)}}""")
    require(equal, s"streamed pair log diverged across the folds: streamed-only=${(streamed -- batchTwin).take(5)} batch-only=${(batchTwin -- streamed).take(5)}")
    require(layoutOk, s"folds did not rewrite the live layout: $layout")
    spark.stop()
  }
}
