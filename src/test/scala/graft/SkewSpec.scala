package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** AQE-vs-manual-salting evidence (SURVEY.md "Partitioning & shuffle").
  *
  * The salted operators in [[graft.operators.Skew]] duplicate what
  * AQE's skew-join handling does natively for JOINS — so this suite
  * proves, on the same hot-key corpus, (1) that a plain sort-merge
  * join under AQE actually engages skew splitting (`skew=true` in the
  * final adaptive plan) and returns exactly the salted join's rows,
  * and (2) that salted AGGREGATION remains exact — the case AQE does
  * NOT cover (OptimizeSkewedJoin only rewrites join partitions;
  * a skewed groupBy key still lands on one reducer). The scaladoc on
  * [[Skew]] records the decision rule; `SPARK_GRAFT_CPUS=8 sbt "runMain graft.PlanDump"`
  * dumps both plans side by side in PLANS.md.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  /** 50k-row fact frame, 50% on one hot key, plus a 100-key dim. */
  private def hotFact = spark.range(50000L).select(
    when(col("id") % 2 === 0, lit(7L)).otherwise(col("id") % 100).as("k"),
    (col("id") % 1000).cast("double").as("v"),
    // ballast so the hot partition's byte size clears the lowered
    // AQE skew threshold
    concat(lit("payload-"), col("id").cast("string"),
      lit("-" * 64)).as("pad"))

  private def dim = spark.range(100L).select(
    col("id").as("dk"), concat(lit("d"), col("id").cast("string")).as("dname"))

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("AQE skew-join engages on the plain hot-key join and matches the salted join") {
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // scale the 256MB/64MB defaults down to test volume so the
      // optimizer sees the hot partition as skewed
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      // deny broadcast so the join is the sort-merge shape AQE splits
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {

      // keep `pad` in the output so it rides the shuffle — column
      // pruning would otherwise shrink the hot partition below the
      // skew threshold
      val plain = hotFact.join(dim, col("k") === col("dk"))
        .select(col("k"), col("v"), col("pad"), col("dname"))
      val plainRows = plain.collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getString(3)))
        .toSet
      // collect() executed THIS queryExecution, so the adaptive plan
      // is final and records the skew split on the join node
      val finalPlan = plain.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isFinalPlan=true"), finalPlan)
      assert(finalPlan.contains("skew=true"),
        s"AQE skew handling did not engage; final plan:\n$finalPlan")

      // the manual salt produces exactly the same rows
      val saltedRows = Skew.saltedJoin(hotFact, dim, "k", "dk", salts = 8)
        .select(col("k"), col("v"), col("pad"), col("dname"))
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getString(3)))
        .toSet
      assert(saltedRows == plainRows && plainRows.size == 50000)
    }
  }

  test("hotKeySaltedJoin: equals the full-salt join, flags the hot key, bounds dim replication") {
    // the Misra-Gries pass must surface the 50%-hot key 7
    val hot = Skew.hotKeys(hotFact, "k", maxHot = 16)
    assert(hot.contains("7"), s"hot-key sketch missed key 7: $hot")
    assert(hot.size <= 16)

    // exact: identical row set to the full-replication salted join
    val full = Skew.saltedJoin(hotFact, dim, "k", "dk", salts = 8)
      .select(col("k"), col("v"), col("pad"), col("dname"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getString(3)))
      .toSet
    val hotOnly = Skew.hotKeySaltedJoin(hotFact, dim, "k", "dk", salts = 8,
        maxHot = 16)
      .select(col("k"), col("v"), col("pad"), col("dname"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getString(3)))
      .toSet
    assert(hotOnly == full && full.size == 50000)

    // null big keys fall to the cold branch and match nothing — same
    // as the plain inner join
    val withNull = hotFact.unionByName(spark.range(5L).select(
      lit(null).cast("long").as("k"), lit(0.0).as("v"), lit("x").as("pad")))
    val gotNull = Skew.hotKeySaltedJoin(withNull, dim, "k", "dk", salts = 4,
        maxHot = 16)
      .count()
    assert(gotNull == 50000L)

    // the design term the full salt pays: dim replication. Hot-key
    // salting replicates |hot-key dim rows|*salts, not |dim|*salts.
    val replicatedFull = dim.count() * 8
    val replicatedHot = dim.filter(col("dk").cast("string").isin(hot: _*))
      .count() * 8
    assert(replicatedHot <= 16L * 8 && replicatedHot < replicatedFull,
      s"hot replication $replicatedHot vs full $replicatedFull")
  }

  test("hotKeySaltedJoin: mismatched key types are refused (string-cast hot filter vs native join equality)") {
    // long 7 and double 7.0 join-match after implicit cast but render
    // "7" vs "7.0" — the hot filter would silently drop those pairs,
    // so the API fails fast instead.
    val doubleDim = dim.select(col("dk").cast("double").as("dk"), col("dname"))
    val e = intercept[IllegalArgumentException](
      Skew.hotKeySaltedJoin(hotFact, doubleDim, "k", "dk", salts = 4))
    assert(e.getMessage.contains("identical key types"))
  }

  test("skewed aggregation: AQE does not split groupBy keys — saltedSum is exact") {
    // OptimizeSkewedJoin rewrites only join partitions; a 50%-hot
    // groupBy key still serializes on one reducer no matter what AQE
    // does. saltedSum is the explicit two-stage fix — prove it is
    // EXACT against the plain aggregate on the same frame.
    val plain = hotFact.groupBy(col("k"))
      .agg(sum(col("v")).as("sum"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = Skew.saltedSum(hotFact, col("k"), col("v"), salts = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("range join: a domain-spanning interval takes the two-level path — same rows, bounded fan-out") {
    import graft.operators.RangeJoin
    // 50 narrow promo-like windows plus ONE interval covering the whole
    // domain: single-level binning would explode that row to every bin
    // (the straggler task that dominates wall-time at scale); the
    // two-level path must return the identical match set while the
    // widest interval registers only edge fine bins + full coarse bins
    val w = 100L
    val cap = 16
    val span = 100000L // 1000 fine bins — 62x over the cap
    val pts = spark.range(0L, span, 7L)
      .select(col("id").as("t"), (col("id") % 5).cast("double").as("v"))
    val narrow = spark.range(50L).select(col("id").as("iid"),
      (col("id") * 1000L).as("s"), (col("id") * 1000L + 300L).as("e"))
    val ivs = narrow.unionByName(
      Seq((999L, 0L, span)).toDF("iid", "s", "e"))
    val got = RangeJoin.pointInInterval(pts, "t", ivs, "s", "e", w,
        maxBinsPerInterval = cap)
      .select(col("t"), col("iid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pts.join(ivs, col("t") >= col("s") && col("t") < col("e"))
      .select(col("t"), col("iid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute && brute.size > 14000,
      s"two-level range join diverged: got ${got.size}, brute ${brute.size}")

    // the fan-out bound IS the defense — pin it: <= 2*cap edge fine
    // bins + span/(w*cap) full coarse bins (+1 rounding), vs the 1000
    // rows the single-level explode would emit for the wide interval
    val maxEntries = ivs
      .withColumn("__s", col("s")).withColumn("__e", col("e"))
      .select(size(RangeJoin.intervalEntries(w, cap)).as("n"))
      .agg(max(col("n"))).head().getInt(0)
    val bound = 2 * cap + (span / (w * cap)).toInt + 1
    assert(maxEntries <= bound,
      s"widest interval registered $maxEntries entries, bound $bound")

    // negative positions: floor-div keying must stay exact below zero
    val npts = spark.range(-500L, 500L, 3L).select(col("id").as("t"),
      lit(1.0).as("v"))
    val nivs = Seq((1L, -401L, 457L), (2L, -30L, -29L), (3L, 5L, 5L))
      .toDF("iid", "s", "e")
    val ngot = RangeJoin.pointInInterval(npts, "t", nivs, "s", "e", 30L,
        maxBinsPerInterval = 4)
      .select(col("t"), col("iid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nbrute = npts.join(nivs, col("t") >= col("s") && col("t") < col("e"))
      .select(col("t"), col("iid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ngot == nbrute, s"negative-domain divergence: ${ngot.size} vs ${nbrute.size}")

    // the aligned aggregate-pushdown twin under the same wide interval:
    // rolled-up coarse partials must sum to exactly the brute answer
    val agg = RangeJoin.pointPartialsPerInterval(pts, "t", "v", ivs,
        "s", "e", w, maxBinsPerInterval = cap)
      .groupBy(col("iid"))
      .agg(sum(col("__cnt")).as("n"), sum(col("__sum")).as("sv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val aggBrute = pts.join(ivs, col("t") >= col("s") && col("t") < col("e"))
      .groupBy(col("iid"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(agg == aggBrute)
  }
}
