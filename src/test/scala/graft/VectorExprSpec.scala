package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions

/** Native DotProduct expression: correctness vs the higher-order fold,
  * implicit float->double cast, SQL registration, codegen (no
  * interpreted fallback in the generated plan).
  */
class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  test("dot_product equals the aggregate/zip_with fold bit-for-bit") {
    val df = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = df.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val both = df.crossJoin(broadcast(q)).select(
      VectorExpressions.dot_product(col("v"), col("qv")).as("native"),
      aggregate(zip_with(col("v"), col("qv"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("fold"))
      .collect()
    assert(both.nonEmpty)
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1)))
  }

  test("float arrays cast implicitly; nulls propagate") {
    val out = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
      .select(VectorExpressions.dot_product(col("a"), col("b")).as("d"))
      .collect()
    assert(out(0).getDouble(0) == 32.0)
    val n = Seq((Option.empty[Seq[Double]], Option(Seq(1.0))))
      .toDF("a", "b")
      .select(VectorExpressions.dot_product(col("a"), col("b")).as("d"))
      .collect()
    assert(n(0).isNullAt(0))
  }

  test("SQL registration: dot_product callable from spark.sql") {
    val r = spark.sql(
      "SELECT dot_product(array(1d,2d,3d), array(4d,5d,6d)) AS d").collect()
    assert(r(0).getDouble(0) == 32.0)
  }

  test("sorted_intersect_size equals array_intersect on sorted distinct arrays") {
    import graft.functions.VectorExpressions.sorted_intersect_size
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .filter(col("doc_id") < 60)
      .select(col("doc_id"),
        sort_array(array_distinct(split(lower(trim(col("text"))), "\\s+"))).as("tk"))
    val pairs = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
    val mismatches = pairs.select(
        sorted_intersect_size(col("a.tk"), col("b.tk")).as("fast"),
        size(array_intersect(col("a.tk"), col("b.tk"))).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(mismatches == 0)
    // empty vs non-empty and identical arrays
    val edge = Seq((Seq.empty[String], Seq("a", "b")), (Seq("a", "b"), Seq("a", "b")))
      .toDF("x", "y")
      .select(sorted_intersect_size(col("x"), col("y")).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(edge == Seq(0, 2))
  }

  test("MultiDistinctToJoin rule: rewrites multi-column distinct aggs, same results, no Expand") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.{ColumnBridge, MultiDistinctToJoin}
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    def agg = li.agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      count(lit(1)).as("n_rows"))
    // the shared session carries the rule (ExecMode.session), so the
    // baseline is planned and run with it excluded: Spark's own Expand
    val excluded = "spark.sql.optimizer.excludedRules"
    spark.conf.set(excluded, MultiDistinctToJoin.ruleName)
    val df = agg
    val (baseRows, basePlan) =
      try (df.collect().toSeq, df.queryExecution.sparkPlan.toString)
      finally spark.conf.unset(excluded)
    // apply at the analyzed stage (injected operator-optimization rules
    // run before RewriteDistinctAggregates erases the isDistinct flags)
    val analyzed = df.queryExecution.analyzed
    val rewritten = MultiDistinctToJoin(analyzed)
    assert(rewritten != analyzed, "rule should fire on two distinct columns")
    val out = ColumnBridge.ofRows(spark, rewritten)
    assert(out.columns.toSeq == df.columns.toSeq)
    assert(out.collect().toSeq == baseRows)
    assert(!out.queryExecution.sparkPlan.toString.contains("Expand"))
    assert(basePlan.contains("Expand"), "baseline uses Expand")
    // the shared session's own plan of the same aggregate is rewritten
    assert(!agg.queryExecution.sparkPlan.toString.contains("Expand"))
    // conservative: single distinct column or grouped aggregates untouched
    val single = li.agg(countDistinct(col("l_partkey")).as("n")).queryExecution.analyzed
    assert(MultiDistinctToJoin(single) == single)
    val grouped = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"), countDistinct(col("l_suppkey")).as("m"))
      .queryExecution.analyzed
    assert(MultiDistinctToJoin(grouped) == grouped)
  }

  test("GraftExtensions: functions, strategy, and optimizer rule register on a fresh session") {
    import org.apache.spark.sql.SparkSession
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      Tables(s2, "/root/testdata/sf0.001", "lineitem").createOrReplaceTempView("li")
      val viaSql = s2.sql(
        """SELECT count(DISTINCT l_partkey) AS a, count(DISTINCT l_suppkey) AS b FROM li""")
      assert(!viaSql.queryExecution.sparkPlan.toString.contains("Expand"))
      val Array(r) = viaSql.collect()
      val Array(ref) = s2.sql(
        """SELECT count(DISTINCT l_partkey) AS a, count(DISTINCT l_suppkey) AS b
           FROM (SELECT * FROM li)""").collect() // same numbers either path
      assert(r == ref)
      assert(s2.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))")
        .collect()(0).getDouble(0) == 11.0)
      assert(s2.sql(
        "SELECT sorted_intersect_size(array('a','b','c'), array('b','c','d'))")
        .collect()(0).getInt(0) == 2)
    } finally {
      SparkSession.setActiveSession(orig)
      SparkSession.setDefaultSession(orig)
    }
  }

  test("ExecMode.session: a freshly built session resolves the SQL kernels and plans multi-distinct without Expand") {
    import org.apache.spark.sql.SparkSession
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = ExecMode.session()
      assert(s2 ne orig)
      assert(s2.sql("SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))")
        .collect()(0).getDouble(0) == 11.0)
      val sig = s2.sql("SELECT minhash_agg(s, 8) FROM VALUES ('a b c'), ('d e f') AS t(s)")
        .collect()(0).getSeq[Long](0)
      assert(sig.length == 8)
      Tables(s2, "/root/testdata/sf0.001", "lineitem").createOrReplaceTempView("li")
      val twoDistinct = s2.sql(
        "SELECT count(DISTINCT l_partkey) AS a, count(DISTINCT l_suppkey) AS b FROM li")
      assert(!twoDistinct.queryExecution.sparkPlan.toString.contains("Expand"))
    } finally {
      SparkSession.setActiveSession(orig)
      SparkSession.setDefaultSession(orig)
    }
  }

  test("nfc_normalize: composes decomposed sequences, idempotent, null-safe, codegen == interpreted") {
    import graft.functions.VectorExpressions.nfc_normalize
    val cases = Seq(
      "plain ascii stays",
      "e\u0301clair me\u0301me", // decomposed acutes -> eclair meme with composed accents
      "\u00e9clair",              // already NFC
      "o\u0308 a\u030a c\u0327", // diaeresis, ring, cedilla
      "d\u0307\u0323",           // marks out of canonical order: NFC reorders THEN composes
      "",
      null)
    val df = cases.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      .select(col("id"), col("t"), nfc_normalize(col("t")).as("n"))
    val got = df.collect().map(r => Option(r.getString(2))).toSeq
    val want = cases.map(c => Option(c).map(
      java.text.Normalizer.normalize(_, java.text.Normalizer.Form.NFC)))
    assert(got == want)
    // composed outputs are shorter for the decomposed inputs
    assert(got(1).get == "\u00e9clair m\u00e9me" && got(1).get.length == 11)
    assert(got(3).get == "\u00f6 \u00e5 \u00e7" && got(3).get.length == 5)
    // dot-below composes onto d (U+1E0D) after reordering; dot-above stays combining
    assert(got(4).get == "\u1e0d\u0307" && got(4).get.length == 2)
    // idempotence: normalizing the normalized column changes nothing
    val twice = df.select(nfc_normalize(col("n")).as("n2")).collect()
      .map(r => Option(r.getString(0))).toSeq
    assert(twice == got)
    // interpreted eval (no codegen) agrees with the reference
    val expr = org.apache.spark.sql.graft.NfcNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("e\u0301")))
    assert(expr.eval(null).toString == "\u00e9")
  }

  test("bpe_merge_step: greedy left-to-right, overlap rule, null-safe, eval == codegen") {
    import graft.functions.VectorExpressions.bpe_merge_step
    val cases: Seq[Seq[String]] = Seq(
      Seq("a", "b", "c"),            // one merge at the front
      Seq("a", "b", "a", "b"),       // two disjoint merges
      Seq("x", "x", "x"),            // overlap: greedy merges (0,1), keeps trailing x
      Seq("x", "x", "x", "x"),       // two non-overlapping merges
      Seq("c", "a"),                 // right token never follows left: unchanged
      Seq("a"),                      // too short
      Seq.empty[String])
    val want = Seq(
      Seq("a+b", "c"),
      Seq("a+b", "a+b"),
      Seq("x+x", "x"),
      Seq("x+x", "x+x"),
      Seq("c", "a"),
      Seq("a"),
      Seq.empty[String])
    def run(pair: (String, String)) = cases.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      .select(col("id"), bpe_merge_step(col("t"), pair._1, pair._2).as("m"))
      .orderBy("id").collect().map(_.getSeq[String](1).toSeq).toSeq
    assert(run(("a", "b")).take(2) == want.take(2))
    assert(run(("x", "x")).slice(2, 4) == want.slice(2, 4))
    assert(run(("a", "b")).drop(4) == want.drop(4))
    // null elements pass through and never match
    val withNull = Seq((0L, Seq("a", null, "b"))).toDF("id", "t")
      .select(bpe_merge_step(col("t"), "a", "b").as("m"))
      .collect().head.getSeq[String](0).toSeq
    assert(withNull == Seq("a", null, "b"))
    // interpreted eval agrees with the dataframe (codegen) path
    val expr = org.apache.spark.sql.graft.BpeMergeStep(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("x", "x", "x"),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
      "x", "x")
    assert(expr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toArray[org.apache.spark.unsafe.types.UTF8String](
        org.apache.spark.sql.types.StringType).map(_.toString).toSeq == Seq("x+x", "x"))
  }

  test("kernel literal tables over the task-binary bound are refused with an explanation") {
    // r19 VERDICT #9: NearestCentroid / PqEncodeCodes serialize their
    // lookup table into every task binary; the bounded-collect call
    // sites keep them KB-sized, but nothing used to enforce it — a
    // caller with nlist=65536 got a 100 MB closure, not an error.
    val bound = org.apache.spark.sql.graft.KernelLiteralBound.MaxLiteralDoubles
    val bigCentroids: Seq[(Long, Seq[Double])] =
      (0L until 2L).map(c => c -> Seq.fill(bound / 2 + 1)(0.0))
    val e1 = intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.NearestCentroid(
        org.apache.spark.sql.catalyst.expressions.Literal(null,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)), bigCentroids)
    }
    assert(e1.getMessage.contains("task-binary bound") &&
      e1.getMessage.contains("nearest_centroid"), e1.getMessage)
    val bigBook: Seq[Seq[Seq[Double]]] =
      Seq(Seq.fill(2)(Seq.fill(bound / 2 + 1)(0.0)))
    val e2 = intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.PqEncodeCodes(
        org.apache.spark.sql.catalyst.expressions.Literal(null,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)), bigBook)
    }
    assert(e2.getMessage.contains("task-binary bound") &&
      e2.getMessage.contains("pq_encode"), e2.getMessage)
  }

  test("expression compiles under whole-stage codegen (no fallback)") {
    // needs a real scan: a local relation of literals gets planned
    // without a WholeStageCodegen subtree at all
    val df = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(VectorExpressions.dot_product(
        transform(col("embedding"), x => x.cast("double")),
        transform(col("embedding"), x => x.cast("double"))).as("d"))
    df.collect() // force compilation; a codegen bug would fall back with a WARN
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(gen.contains("WholeStageCodegen subtrees.") && !gen.startsWith("Found 0"))
    assert(gen.contains("numElements()"), "generated code missing the dot-product loop")
  }
}
