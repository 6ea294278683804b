package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.functions.P6Functions._
import graft.operators.Dedup

/** Property-based specs (ScalaCheck): the invariants the reference's
  * truth-table tests imply but never state. Each property evaluates
  * its whole sample as ONE DataFrame pass.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(r.passed, r.status.toString)
  }

  private val cellGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.choose(-9999, 99999).map(_.toString),
    Gen.choose(0.0, 9999.9).map(_.toString),
    Gen.const(""),
    Gen.const("  spaced out  "),
    Gen.alphaNumStr.map(s => s"T$s"))

  test("F1 normalizeTimeLike is idempotent") {
    check(Prop.forAll(Gen.listOfN(60, cellGen)) { xs =>
      xs.isEmpty || {
        val out = xs.toDF("v")
          .select(normalizeTimeLike(col("v")).as("once"))
          .select(col("once"), normalizeTimeLike(col("once")).as("twice"))
          .collect()
        out.forall(r => r.getString(0) == r.getString(1))
      }
    })
  }

  test("F3/F4: any parsed HPO cell yields a CURIE satisfying V7") {
    val hpoCell = for {
      d <- Gen.choose(1, 9999999)
      shape <- Gen.oneOf[Int => String](
        (x: Int) => s"HP:$x", (x: Int) => s"$x", (x: Int) => s"hp$x",
        (x: Int) => s"Some Label (HP:$x)", (x: Int) => s"  $x  ")
    } yield shape(d)
    check(Prop.forAll(Gen.listOfN(60, hpoCell)) { xs =>
      xs.isEmpty || {
        val out = xs.toDF("v")
          .select(hpoCellToCurie(col("v")).as("c"))
          .select(col("c"), validHpoId(col("c")).as("ok"))
          .collect()
        out.forall(r => !r.isNullAt(0) && r.getBoolean(1))
      }
    })
  }

  test("F2 toBoolLike never returns null and honors the falsy set") {
    check(Prop.forAll(Gen.listOfN(60, cellGen)) { xs =>
      xs.isEmpty || {
        val out = xs.toDF("v")
          .select(col("v"), toBoolLike(col("v")).as("b")).collect()
        out.forall { r =>
          val v = Option(r.getString(0)).getOrElse("").trim.toLowerCase
          val b = r.getBoolean(1)
          val falsy = Set("0", "false", "f", "no", "n", "")
          val truthy = Set("1", "true", "t", "yes", "y")
          if (falsy(v)) !b else if (truthy(v)) b else b == v.nonEmpty
        }
      }
    })
  }

  test("F2 contract pin: typed numeric 0.0 diverges from Python bool(0.0) by design") {
    // string-cell semantics (the engine's input model): "0" is falsy,
    // but a TYPED double 0.0 casts to the string "0.0" — outside the
    // falsy set, non-empty, so TRUE — where Python bool(0.0) is False.
    // Unreachable through workbook ingest (all-string cells on both
    // engines); pinned here so a future typed ingest can't trip it
    // silently (see the scaladoc on P6Functions.toBoolLike).
    val out = Seq((0.0, "0"), (1.5, "1.5")).toDF("typed", "strcell")
      .select(toBoolLike(col("typed")).as("bt"), toBoolLike(col("strcell")).as("bs"))
      .collect()
    assert(out(0).getBoolean(0) === true)   // typed 0.0 -> "0.0" -> true
    assert(out(0).getBoolean(1) === false)  // string cell "0" -> false
    assert(out(1).getBoolean(0) === true && out(1).getBoolean(1) === true)
  }

  test("G1 explode cardinality = min(zygosity tokens, inheritance tokens)") {
    val zygTok = Gen.oneOf("het", "hom", "comphet", "hemi", "mosaic")
    val inhTok = Gen.oneOf("unknown", "inherited", "denovo")
    val gen = for {
      nz <- Gen.choose(1, 4); ni <- Gen.choose(1, 4)
      zs <- Gen.listOfN(nz, zygTok); is <- Gen.listOfN(ni, inhTok)
    } yield (zs.mkString("/"), is.mkString("/"))
    check(Prop.forAll(Gen.listOfN(30, gen)) { xs =>
      xs.isEmpty || {
        val out = xs.toDF("zyg", "inh")
          .select(size(zipTruncate(slashTokens(col("zyg")), slashTokens(col("inh"))))
            .as("n"), col("zyg"), col("inh"))
          .collect()
        out.forall { r =>
          r.getInt(0) ==
            math.min(r.getString(1).split("/").length, r.getString(2).split("/").length)
        }
      }
    })
  }

  test("as-of join matches a brute-force reference on random event sets") {
    import graft.operators.AsOfJoin
    val base = 1704067200000L
    val evGen = for {
      k <- Gen.choose(1L, 5L)
      t <- Gen.choose(0L, 500L)
      v <- Gen.choose(1, 999)
    } yield (k, t, v.toDouble)
    val caseGen = for {
      lefts <- Gen.listOfN(40, evGen)
      rights <- Gen.listOfN(40, evGen)
    } yield (lefts, rights)
    check(Prop.forAll(caseGen) { case (lefts0, rights0) =>
      // unique (key, ts) per side: equal-timestamp right rows are an
      // ambiguous input the operator does not promise to break ties on
      val lefts = lefts0.distinctBy(e => (e._1, e._2))
      val rights = rights0.distinctBy(e => (e._1, e._2))
      val l = lefts.map { case (k, t, v) =>
        (k, new java.sql.Timestamp(base + t * 60000L), v) }
        .toDF("user_id", "ts", "lv")
      val r = rights.map { case (k, t, v) =>
        (k, new java.sql.Timestamp(base + t * 60000L), v) }
        .toDF("user_id", "ts", "score")
      val got = AsOfJoin.asof(l, r, "user_id", "ts", "ts", Map("score" -> "score"))
        .collect()
        .map(row => (row.getLong(0), row.getTimestamp(1).getTime) ->
          Option(row.getAs[java.lang.Double]("score")).map(_.toDouble))
        .toMap
      val want = lefts.map { case (k, t, _) =>
        val lt = base + t * 60000L
        val cands = rights.filter(rr => rr._1 == k && base + rr._2 * 60000L <= lt)
        (k, lt) -> cands.sortBy(rr => rr._2).lastOption.map(_._3)
      }.toMap
      got == want
    })
  }

  test("shingle count = max(1, tokens - n + 1) before dedup, always >= 1 after") {
    val textGen = Gen.choose(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta")).map(_.mkString(" ")))
    check(Prop.forAll(Gen.listOfN(30, textGen)) { xs =>
      xs.isEmpty || {
        val out = xs.toDF("t")
          .select(size(Dedup.shingles(Dedup.tokens(col("t")), 3)).as("n")).collect()
        out.forall(_.getInt(0) >= 1)
      }
    })
  }

  test("Bloom kernels: NEVER a false negative; inserted keys always probe true") {
    import org.apache.spark.sql.graft.BloomKernels
    val keysGen = Gen.listOfN(200, Gen.choose(Long.MinValue, Long.MaxValue))
    check(Prop.forAll(keysGen) { keys =>
      val buf = new Array[Byte](1 << 12)
      keys.foreach { k =>
        BloomKernels.set(buf, BloomKernels.hashLong(k, BloomKernels.Seed1),
          BloomKernels.hashLong(k, BloomKernels.Seed2), 5)
      }
      keys.forall(k => BloomKernels.mightContainLong(buf, k, 5))
    })
  }

  test("sorted-merge intersect == set intersection for any two token sets") {
    import org.apache.spark.sql.graft.BloomKernels // just for import stability
    import graft.functions.VectorExpressions.sorted_intersect_size
    val toksGen = Gen.listOfN(40, Gen.oneOf("a", "bb", "ccc", "d1", "e", "", "ff", "zz9"))
    check(Prop.forAll(toksGen, toksGen) { (xs, ys) =>
      val out = Seq((xs.distinct.sorted, ys.distinct.sorted)).toDF("x", "y")
        .select(sorted_intersect_size(col("x"), col("y"))).collect()(0).getInt(0)
      out == (xs.toSet & ys.toSet).size
    })
  }

  test("GlobalRank.ntile: bucket sizes follow the SQL allocation for any n, buckets") {
    check(Prop.forAll(Gen.choose(1, 60), Gen.choose(1, 8)) { (n, b) =>
      val df = (1 to n).map(i => (i.toLong, (i * 37 % 11).toDouble)).toDF("id", "v")
      val sizes = graft.operators.GlobalRank
        .ntile(df, b, Seq(col("v"), col("id")))
        .groupBy("bucket").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = (1 to math.min(b, n)).map { i =>
        i.toLong -> (n / b + (if (i <= n % b) 1 else 0)).toLong
      }.filter(_._2 > 0).toMap
      sizes == expect
    })
  }

  test("deletion-neighborhood join == brute-force levenshtein<=1 join on random strings") {
    val strGen = Gen.listOfN(25,
      Gen.chooseNum(1, 6).flatMap(n => Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c'))))
    check(Prop.forAll(strGen, strGen) { (ls, rs) =>
      val (l, r) = (ls.distinct, rs.distinct)
      (l.isEmpty || r.isEmpty) || {
        val fast = graft.operators.FuzzyJoin
          .levenshtein1Join(l.toDF("s"), "s", r.toDF("t"), "t")
          .collect().map(x => (x.getString(0), x.getString(1))).toSet
        val brute = l.toDF("s").crossJoin(r.toDF("t"))
          .filter(levenshtein(col("s"), col("t")) <= 1)
          .collect().map(x => (x.getString(0), x.getString(1))).toSet
        fast == brute
      }
    })
  }

  test("window-free winnowing == textbook windowed formulation on random docs (md5 + xxhash64)") {
    import org.apache.spark.sql.expressions.Window
    // small vocab so shingles repeat within and across docs
    val docGen = Gen.listOfN(30, Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("ant", "bee", "cat", "dog", "elk"))
        .map(_.mkString(" "))))
    // reference implementation: hash every shingle, min over the
    // 4-row following frame, keep complete frames (plus pos 0)
    def windowed(docs: org.apache.spark.sql.DataFrame,
        hash: Column => Column): Set[(Long, Any)] = {
      val toks = split(lower(trim(col("text"))), "\\s+")
      val sh = docs.select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), size(col("toks")) - 5)).as("i"))
        .select(col("doc_id"), col("i"),
          hash(concat_ws(" ", slice(col("toks"), col("i") + 1, lit(5)))).as("h"))
      val frame = Window.partitionBy(col("doc_id")).orderBy(col("i")).rowsBetween(0, 3)
      val perDoc = Window.partitionBy(col("doc_id"))
      sh.withColumn("nsh", count(lit(1)).over(perDoc))
        .withColumn("fp", min(col("h")).over(frame))
        .filter(col("i") <= greatest(col("nsh") - 4, lit(0)))
        .select(col("doc_id"), col("fp")).distinct()
        .collect().map(r => (r.getLong(0), r.get(1))).toSet
    }
    check(Prop.forAll(docGen) { texts =>
      texts.isEmpty || {
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val fastMd5 = graft.p6.Queries.winnowFingerprints(docs)
          .collect().map(r => (r.getLong(0), r.get(1))).toSet
        val fastXx = graft.p6.Queries.winnowFingerprints(docs, useXxhash = true)
          .collect().map(r => (r.getLong(0), r.get(1))).toSet
        fastMd5 == windowed(docs, md5) &&
          fastXx == windowed(docs, c => xxhash64(c))
      }
    })
  }

  test("version-tag ordering agrees with integer order and handles padding") {
    val ord = graft.cli.Main.tagOrdering
    check(Prop.forAll(Gen.chooseNum(0, 99999), Gen.chooseNum(0, 99999)) { (a, b) =>
      math.signum(ord.compare(s"v$a", s"v$b")) == math.signum(a.compareTo(b))
    })
    assert(ord.compare("v9", "v10") < 0)
    // numerically equal tags are tie-broken deterministically
    // (zero-padded form sorts first)
    assert(ord.compare("v2024-4-26", "v2024-04-26") > 0)
    assert(ord.compare("v2024-04-26", "v2024-03-06") > 0)
    assert(ord.compare("v2023-10-09", "v2024-04-26") < 0)
    assert(ord.compare("v1.2.10", "v1.2.9") > 0)
  }

  test("delimited-line parser: encode -> parse round-trips any fields") {
    val fieldGen = Gen.oneOf(Gen.alphaNumStr.map(_.take(8)), Gen.const(""),
      Gen.const("a,b"), Gen.const("say \"hi\""), Gen.const(" pad "))
    check(Prop.forAll(Gen.listOfN(6, fieldGen)) { fields =>
      val line = fields.map { f =>
        if (f.exists(c => c == ',' || c == '"')) "\"" + f.replace("\"", "\"\"") + "\""
        else f
      }.mkString(",")
      graft.sources.WorkbookSource.parseDelimited(line, ',') == fields
    })
  }

  test("Misra-Gries: candidates cover every value above N/(k+1) for any stream and partitioning") {
    import org.apache.spark.sql.graft.FreqSketchApi.misra_gries
    // zipf-ish streams: a few dominant values + a long random tail,
    // shuffled, sliced into an arbitrary partition count — merges and
    // the subtract-the-cut prune must preserve the guarantee.
    val streamGen = for {
      nHeavy <- Gen.choose(1, 5)
      heavyRep <- Gen.choose(30, 120)
      tail <- Gen.listOfN(300, Gen.choose(0, 5000).map(i => s"t$i"))
      seed <- Gen.choose(0L, Long.MaxValue)
      parts <- Gen.choose(1, 11)
      k <- Gen.oneOf(4, 8, 16)
    } yield (nHeavy, heavyRep, tail, seed, parts, k)
    check(Prop.forAll(streamGen) { case (nHeavy, heavyRep, tail, seed, parts, k) =>
      val heavy = (1 to nHeavy).flatMap(i => Seq.fill(heavyRep)(s"H$i"))
      val xs = new scala.util.Random(seed).shuffle(heavy ++ tail)
      val df = xs.toDF("v").repartition(parts)
      val cands = df.agg(misra_gries(col("v"), k).as("c"))
        .select(explode(col("c")).as("v")).as[String].collect().toSet
      val bound = xs.size.toDouble / (k + 1)
      val exact = xs.groupBy(identity).view.mapValues(_.size)
      cands.size <= k &&
        exact.forall { case (v, n) => n <= bound || cands.contains(v) }
    })
  }

  test("map-only minhash/simhash kernels equal the aggregate formulations on random docs") {
    val docGen = Gen.listOfN(40,
      Gen.choose(0, 200).map(i => s"w$i")).map(_.mkString(" "))
    val corpusGen = for {
      docs <- Gen.listOfN(25, docGen)
      short <- Gen.oneOf("", "one", "two words") // sub-shingle-length docs
    } yield docs :+ short
    check(Prop.forAll(corpusGen) { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val mhAgg = MinhashReference.minhashSignaturesAgg(df, "doc_id", "text", numPerm = 8)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val mhFast = Dedup.minhashSignaturesFast(df, "doc_id", "text", numPerm = 8)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val shFold = df.select(col("doc_id"),
          Dedup.simhash64(Dedup.tokens(col("text"))).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val shKernel = Dedup.simhash(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sortedHof = df.select(col("doc_id"),
          sort_array(Dedup.shingles(Dedup.tokens(col("text")), 3)).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val sortedKernel = df.select(col("doc_id"),
          graft.functions.VectorExpressions.sorted_shingles(
            Dedup.tokens(col("text")), 3).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      mhFast == mhAgg && shKernel == shFold && sortedKernel == sortedHof
    })
  }

  test("withPrefixSum == window running sum for random weights across partitions") {
    import org.apache.spark.sql.expressions.Window
    val rowsGen = for {
      n <- Gen.choose(1, 120)
      ws <- Gen.listOfN(n, Gen.oneOf(Gen.const(0L), Gen.choose(1L, 5L),
        Gen.choose(1L, 1000000L)))
      keys <- Gen.pick(n, 0 until 100000)
    } yield keys.toList.map(_.toLong).zip(ws)
    check(Prop.forAll(rowsGen) { rows =>
      // unique keys (Gen.pick is without replacement) -> deterministic order
      val df = rows.toDF("k", "w").repartition(7)
      val order = Seq(col("k"))
      val viaWindow = df.withColumn("excl", coalesce(sum(col("w")).over(
          Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val viaScan = graft.operators.GlobalRank
        .withPrefixSum(df, order, col("w"), "excl")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      viaScan == viaWindow
    })
  }

  test("perDomainCap == naive per-domain rank for random domains and caps") {
    import org.apache.spark.sql.expressions.Window
    val rowsGen = for {
      n <- Gen.choose(50, 300)
      nDom <- Gen.choose(1, 12)
      cap <- Gen.choose(0L, 25L)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (n, nDom, cap, seed)
    check(Prop.forAll(rowsGen) { case (n, nDom, cap, seed) =>
      val rnd = new scala.util.Random(seed)
      val df = (1L to n.toLong).map(i => (i, s"d${rnd.nextInt(nDom)}"))
        .toDF("id", "dom")
      val h = md5(concat(col("id").cast("string"), lit(s":$seed")))
      val got = graft.operators.Curation
        .perDomainCap(df, "dom", h, col("id"), cap)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      val naive = df.withColumn("__h", h)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("dom")).orderBy(col("__h"), col("id"))))
        .filter(col("rn") <= cap)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      got == naive
    })
  }

  test("exact cosine pairs: the int8 prescreen bound is lossless on adversarial vectors") {
    import graft.operators.Similarity
    // components spanning ~12 orders of magnitude, exact zeros,
    // negatives, and near-tie values around the quantization midpoints
    // — the shapes a provable-upper-bound prescreen must survive
    val compGen: Gen[Float] = Gen.frequency(
      3 -> Gen.choose(-1f, 1f),
      1 -> Gen.const(0f),
      1 -> Gen.oneOf(1e-8f, -1e-8f, 1e4f, -1e4f),
      1 -> Gen.choose(-1f, 1f).map(x => x * 1e3f))
    val caseGen = for {
      dim <- Gen.choose(3, 12)
      n <- Gen.choose(4, 20)
      vecs <- Gen.listOfN(n, Gen.listOfN(dim, compGen))
      th <- Gen.oneOf(0.1, 0.35, 0.7, 0.95)
      blocks <- Gen.choose(1, 5)
    } yield (vecs, th, blocks)
    val p = Prop.forAll(caseGen) { case (vecs, th, blocks) =>
      val df = vecs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      val got = Similarity
        .exactCosinePairs(df, "vec_id", "embedding", th, blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // pure-Scala reference: same double cast, same sequential
      // summation order as the DotProduct kernel, same HALF_UP round
      val dv = vecs.map(_.map(_.toDouble).toArray).toArray
      def dot(a: Array[Double], b: Array[Double]) = {
        var s = 0.0; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }; s
      }
      val want = (for {
        a <- dv.indices; b <- (a + 1) until dv.length
        denom = math.sqrt(dot(dv(a), dv(a))) * math.sqrt(dot(dv(b), dv(b)))
        // zero vectors have no direction: excluded, like the operator
        if denom > 0
        cos = BigDecimal(dot(dv(a), dv(b)) / denom)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if cos >= th
      } yield (a.toLong, b.toLong, cos)).toSet
      val ok = got == want
      if (!ok) System.err.println(s"th=$th blocks=$blocks\n want=$want\n got =$got")
      ok
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(r.passed, r.status.toString)
  }

  test("CDC chunking: chunks PARTITION the token sequence exactly; max-cut always holds") {
    // random corpora incl. degenerate shapes: repeated single tokens
    // (no content boundary without the max-cut), tiny docs below the
    // rolling window, mixed vocab sizes
    val tokGen = Gen.oneOf(Gen.const("same"), Gen.alphaLowerStr.map(s => "t" + s.take(4)),
      Gen.choose(0, 9).map(i => s"v$i"))
    val docGen = Gen.choose(0, 300).flatMap(n => Gen.listOfN(n, tokGen))
    val p = Prop.forAll(Gen.listOfN(6, docGen)) { docsToks =>
      val docs = docsToks.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
        .toDF("doc_id", "text")
      val chunks = graft.operators.Curation
        .cdcChunkInstances(docs, "doc_id", "text", maxChunk = 32)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      val byDoc = chunks.groupBy(_._1)
      docsToks.zipWithIndex.forall { case (ts, i) =>
        val mine = byDoc.getOrElse(i.toLong, Array.empty)
        // tokens() of "" yields [""], so even an empty doc is 1 "token"
        val nTok = math.max(ts.length, 1)
        val coverage = mine.map(_._3).sum == nTok
        val maxCut = mine.forall(_._3 <= 32)
        val contiguousIdx =
          mine.map(_._2).sorted.toSeq == mine.indices.toSeq
        coverage && maxCut && contiguousIdx && mine.nonEmpty
      }
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(r.passed, r.status.toString)
  }
}
