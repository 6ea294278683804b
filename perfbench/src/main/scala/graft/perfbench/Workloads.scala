package graft.perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of one pass: operations attempted and operations that failed
  * or failed their output check.
  */
final case class PassOutcome(attempted: Int, failed: Int)

/** One benchmark workload, driven in a closed loop by one client.
  *
  * `setupInputs` builds the seeded inputs and may run several times (set
  * up is timed as the median of its repetitions); `setupState` builds
  * once-only state such as stores. Each pass is `prepare` (untimed),
  * `pass` (timed) and `verify` (untimed).
  */
trait Workload {
  def setupInputs(): Unit = ()
  def setupState(): Unit = ()
  def prepare(pass: Int): Unit = ()
  def pass(pass: Int): PassOutcome
  def verify(pass: Int): PassOutcome = PassOutcome(0, 0)
  /** False when the first pass is the timed one (its code already ran
    * in set-up); an untraced run then makes no warm pass.
    */
  def warmPasses: Boolean = true
  /** Work items one pass completes (patients, queries, documents). */
  def itemsPerPass: Long
  /** Per-layer metrics read after the traced passes, averaged per pass. */
  def layerMetrics(probe: Probe, tracedPasses: Int): Map[String, Double] = Map.empty
  /** Extra lines for the run's log (per-entry detail, not the summary). */
  def report: Seq[String] = Nil

  protected def fail(what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] FAILED $what: ${e.getClass.getSimpleName}: ${e.getMessage}")

  protected def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}

object Workload {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
      .foreach(Files.delete)
    finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def stdoutOf(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8"))(body)
    buf.toString("UTF-8")
  }
}

/** `sql_battery` and `llm_dedup`: registry entries run one after the other
  * in a seeded order. The first pass writes each result as parquet for
  * the DuckDB oracle compare; timed passes write to the noop sink.
  */
final class EntryBattery(spark: SparkSession, probe: Probe, dataDir: String,
    outDir: Path, entries: Seq[String], operatorSpans: Boolean) extends Workload {
  private val fns = graft.SparkEntry.queries
  private val perEntry = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]

  override def setupState(): Unit =
    // WarmStore keeps its store under java.io.tmpdir (fresh for each
    // run): publish it here so the timed passes read a built store.
    entries.filter(_ == "dedup_increment_warm").foreach { n =>
      fns(n)(spark, dataDir).write.format("noop").mode("overwrite").save()
      unpersistAll(spark)
    }

  def pass(i: Int): PassOutcome = {
    var failed = 0
    entries.foreach { name =>
      val t0 = System.nanoTime()
      val ok = probe.span(if (operatorSpans) s"operators.$name" else "entry") {
        try {
          val df = probe.span("entry.build")(fns(name)(spark, dataDir))
          probe.span("entry.exec") {
            if (i == 0) df.coalesce(1).write.mode("overwrite").parquet(outDir.resolve(name).toString)
            else df.write.format("noop").mode("overwrite").save()
          }
          true
        } catch { case e: Exception => fail(name, e); false }
        finally unpersistAll(spark)
      }
      if (!ok) failed += 1
      perEntry(name) = perEntry.getOrElse(name, Nil) :+ (System.nanoTime() - t0) / 1e9
    }
    PassOutcome(entries.size, failed)
  }

  def itemsPerPass: Long = entries.size

  override def layerMetrics(probe: Probe, n: Int): Map[String, Double] = {
    val build = probe.execFor("entry.build")
    Map("entry.build_s" -> probe.seconds("entry.build") / n,
      "entry.build_jobs" -> build.jobs.get.toDouble / n,
      "entry.exec_s" -> probe.seconds("entry.exec") / n) ++
      (if (operatorSpans) entries.map(e => s"operators.${e}_s" -> probe.seconds(s"operators.$e") / n)
       else Nil)
  }

  override def report: Seq[String] = perEntry.toSeq.map { case (n, ts) =>
    f"entry $n%-28s cold ${ts.head}%8.3f s  warm median ${Stats.median(ts.tail)}%8.3f s"
  }
}

/** `p6_parse_excel`: `audit-excel --dir` then `parse-excel --dir` over a
  * seeded workbook corpus, in-process through `graft.cli.Main`. A traced
  * pass replays parse-excel's call sequence through the layer functions
  * so each layer gets its own span.
  */
final class P6Workload(spark: SparkSession, probe: Probe, work: Path, seed: Long,
    workbooks: Int, patientsPerBook: Int) extends Workload {
  private val dir = work.resolve("p6")
  private def corpus = dir.resolve("corpus").toString
  private def hpo = dir.resolve("hp.json").toString
  private var expected: P6Expected = _
  private var lastParse = ""

  override def setupInputs(): Unit = {
    Workload.deleteTree(dir)
    expected = P6Corpus.write(dir, seed, workbooks, patientsPerBook)
  }

  private def passDir(i: Int) = dir.resolve(s"out$i")

  override def prepare(i: Int): Unit = {
    sys.props("graft.keep-session") = "1"
    sys.props("graft.cwd") = passDir(i).toString
  }

  def pass(i: Int): PassOutcome = {
    var failed = 0
    val audit = probe.span("p6.audit")(Workload.stdoutOf(
      graft.cli.Main.auditExcel(Map("--dir" -> corpus))))
    if (!Checks.audit(audit, expected)) {
      failed += 1; System.err.println(s"[perfbench] audit-excel output check failed:\n$audit")
    }
    lastParse = try {
      if (probe.enabled) Workload.stdoutOf(replayParse(passDir(i)))
      else Workload.stdoutOf(graft.cli.Main.parseExcel(Map("--dir" -> corpus, "--custom-hpo" -> hpo)))
    } catch { case e: Exception => fail("parse-excel", e); "" }
    PassOutcome(2, failed)
  }

  override def verify(i: Int): PassOutcome = {
    val packets = passDir(i).resolve("phenopacket_from_excel")
    val problems = Checks.parse(lastParse, expected) ++
      Checks.packets(packets, expected, sample = if (i == 0) 64 else 8)
    problems.foreach(p => System.err.println(s"[perfbench] parse-excel check: $p"))
    Workload.deleteTree(passDir(i))
    PassOutcome(0, if (problems.isEmpty) 0 else 1)
  }

  def itemsPerPass: Long = expected.patients

  /** parse-excel --dir's sequence of layer calls, each in its own span;
    * same stdout lines as `graft.cli.Main.parseExcel`.
    */
  private def replayParse(cwd: Path): Unit = {
    import graft.p6._
    val c = probe.span("sources.read")(graft.sources.WorkbookSource.readWorkbooks(spark, corpus))
    val tables = c.sheets.toSeq.sortBy(_._1).toMap
    val ontology = probe.span("p6.ontology")(Ontology.fromObographs(spark, hpo))
    val mapped = probe.span("p6.map")(new DefaultMapper(Some(ontology), false).applyMapping(spark, tables))
    val result = mapped.copy(issues = mapped.issues.unionByName(
      c.issues.withColumnRenamed("source_file", "sheet")
        .select(col("sheet"), col("step"), col("level"), col("message"))))
    val packets = probe.span("p6.assemble")(Assemble.phenopackets(result.bundles))
    val out = cwd.resolve("phenopacket_from_excel").resolve("replay").resolve("phenopackets")
    probe.span("p6.sink")(Assemble.writeNumberedJson(packets, out.toString))
    val stats = probe.span("p6.stats")(result.stats)
    println(s"Wrote ${stats("patients")} phenopacket files to $out")
    probe.span("p6.issues") {
      val cap = 50
      val counts = result.issues.groupBy("level").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      Seq("error" -> ("Errors found in mapping:", "errors"),
          "warning" -> ("Warnings found in mapping:", "warnings")).foreach {
        case (level, (header, plural)) =>
          val n = counts.getOrElse(level, 0L)
          if (n > 0) {
            println(header)
            result.issues.filter(col("level") === level).orderBy("sheet", "step", "message")
              .limit(cap).collect().foreach(r => println(s"- ${r.getAs[String]("message")}"))
            if (n > cap) println(s"- … and ${n - cap} more $plural (cap graft.maxRenderedIssues=$cap)")
          }
      }
    }
    println(s"Created ${stats("genotypes")} Genotype objects")
    println(s"Created ${stats("phenotypes")} Phenotype objects")
    c.raw.unpersist(false)
  }

  override def layerMetrics(probe: Probe, n: Int): Map[String, Double] = {
    val files = Files.list(dir.resolve("corpus"))
    val nFiles = try files.count() finally files.close()
    Map("sources.read_s" -> probe.seconds("sources.read") / n,
      "sources.files" -> nFiles.toDouble,
      "sources.input_mb" -> Workload.treeBytes(dir.resolve("corpus")) / 1e6,
      "p6.issues_jobs" -> probe.execFor("p6.issues").jobs.get.toDouble / n) ++
      Seq("ontology", "map", "assemble", "sink", "stats", "issues", "audit").map(l =>
        s"p6.${l}_s" -> probe.seconds(s"p6.$l") / n)
  }
}

/** `stream_containment`: a containment store seeded on a seeded 20% of the
  * documents, then the other 80% as three micro-batches through
  * `EventStreams.containmentIncrementBatch`: a minor fold after the second
  * (it needs two batch parts to fold) and a major fold after the third,
  * the calls `graft.tools.ContainmentStreamGate` makes. Each pass starts
  * from a copy of the seeded store and must end with the pair log the
  * batch operator `Dedup.containmentPairs` finds over all documents, in
  * one folded generation.
  *
  * Seeding the store already runs the containment code once, so the
  * first pass is the timed pass: a gated run makes no second one.
  */
final class StreamWorkload(spark: SparkSession, probe: Probe, dataDir: String,
    work: Path, seed: Long) extends Workload {
  import graft.streaming.EventStreams
  private val dir = work.resolve("stream")
  private val seedStore = dir.resolve("seed")
  private def store(i: Int) = dir.resolve(s"store$i")
  private var docs: DataFrame = _
  private var increments: Seq[DataFrame] = Nil
  private var incrementDocs = 0L
  private var incrementBytes = 0L
  private var batchPairs: Set[(Long, Long, Long, Long)] = Set.empty
  private val batchTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var seedSeconds = 0.0
  private var storeBytes = 0L

  private def pairSet(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("a"), col("b"), col("na"), col("inter")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  override def setupInputs(): Unit = {
    docs = graft.Tables(spark, dataDir, "documents").select(col("doc_id"), col("text"))
    increments = Seq(docs.filter(bucket === 1), docs.filter(bucket === 2), docs.filter(bucket.isin(3, 4)))
  }

  /** Seeded 20/20/20/40% split of the documents: base, batches 0, 1 and 2. */
  private def bucket = pmod(xxhash64(col("doc_id"), lit(seed)), lit(5))

  override def setupState(): Unit = {
    Workload.deleteTree(dir)
    val inc = docs.filter(bucket =!= 0).agg(count(lit(1)), sum(length(col("text")).cast("long"))).first()
    incrementDocs = inc.getLong(0); incrementBytes = inc.getLong(1)
    val t0 = System.nanoTime()
    EventStreams.seedContainmentBase(docs.filter(bucket === 0), "doc_id", "text", seedStore.toString)
    seedSeconds = (System.nanoTime() - t0) / 1e9
    batchPairs = pairSet(graft.operators.Dedup.containmentPairs(docs, "doc_id", "text"))
    unpersistAll(spark)
  }

  override def prepare(i: Int): Unit = {
    Workload.deleteTree(store(i))
    copyTree(seedStore, store(i))
  }

  def pass(i: Int): PassOutcome = {
    val s = store(i).toString
    def batch(k: Int): Unit = {
      val t0 = System.nanoTime()
      probe.span("streaming.batch")(EventStreams.containmentIncrementBatch(increments(k), k.toLong,
        s, "doc_id", "text", 3, 5, graft.operators.Dedup.DefaultMaxPosting))
      batchTimes += (System.nanoTime() - t0) / 1e9
    }
    batch(0); batch(1)
    probe.span("streaming.fold_minor")(EventStreams.containmentCompact(spark, s, 1L, foldBase = false))
    batch(2)
    probe.span("streaming.fold_major")(EventStreams.containmentCompact(spark, s, 2L, foldBase = true))
    PassOutcome(5, 0)
  }

  override def warmPasses: Boolean = false

  override def verify(i: Int): PassOutcome = {
    storeBytes = Workload.treeBytes(store(i))
    val streamed = pairSet(EventStreams.containmentStorePairs(spark, store(i).toString))
    // Both folds must have rewritten the store: one live generation left.
    val layout = Seq("docs", "postings", "prefix", "pairs").flatMap(sub =>
      graft.streaming.DedupStore.readLive(spark, store(i).toString, sub)
        .select(col("batch")).distinct().collect().map(_.getString(0))).toSet
    unpersistAll(spark)
    Workload.deleteTree(store(i))
    val problems = Seq(
      Option.when(streamed != batchPairs)(s"streamed pairs (${streamed.size}) differ from the " +
        s"batch containmentPairs result (${batchPairs.size})"),
      Option.when(layout != Set("base-g2"))(s"folds left live parts $layout, expected base-g2")).flatten
    problems.foreach(p => System.err.println(s"[perfbench] $p"))
    PassOutcome(0, if (problems.isEmpty) 0 else 1)
  }

  def itemsPerPass: Long = incrementDocs

  override def layerMetrics(probe: Probe, n: Int): Map[String, Double] = {
    val traced = probe.recorded.filter(_.name == "streaming.batch").map(_.seconds)
    Map("streaming.seed_s" -> seedSeconds,
      "streaming.batch_s" -> probe.seconds("streaming.batch") / n / increments.size,
      "streaming.batch_p50_s" -> Stats.median(traced),
      "streaming.fold_minor_s" -> probe.seconds("streaming.fold_minor") / n,
      "streaming.fold_major_s" -> probe.seconds("streaming.fold_major") / n,
      "streaming.store_mb" -> storeBytes / 1e6,
      "streaming.write_amp" -> probe.global.outputBytes.get.toDouble / n / incrementBytes)
  }

  override def report: Seq[String] = Seq(
    f"stream seed ${seedSeconds}%.3f s; batch median ${Stats.median(batchTimes.toSeq)}%.3f s over ${batchTimes.size} batches; " +
      s"${batchPairs.size} batch pairs; $incrementDocs docs per pass")

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
