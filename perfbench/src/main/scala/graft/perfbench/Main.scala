package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` generates the parquet
  * inputs, launches this main once per run and folds its result file
  * into the one-line summary.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --cores <n> --data <parquet dir> --work <run dir> --out <result.json>
  * }}}
  *
  * Run shape: session start and once-only state are timed once, input
  * generation three times (median); then one cold first pass, then warm
  * passes in a closed loop until `--seconds` have passed (at least one;
  * none for a workload whose first pass is its timed pass). Every pass
  * is checked. With `--trace 1` the warm passes are traced and
  * one untraced warm pass follows them: the baseline for the tracing
  * overhead and for the cold pass's extra cost.
  */
object Main {
  val SqlBattery: Seq[String] =
    graft.SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq.sorted
  val LlmDedup: Seq[String] = Seq("containment_neardup", "minhash_neardup",
    "simhash_neardup_pairs", "semdedup", "exact_cosine_pairs", "dedup_exact",
    "dedup_fingerprint", "winnow_fingerprint", "duplicate_spans", "cdc_chunk_dedup",
    "chunk_dedup", "emb_neardup", "dedup_corpus", "dedup_increment", "dedup_increment_warm")
  val InputReps = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val cores = o("cores").toInt
    val work = Paths.get(o("work")).toAbsolutePath
    val dataDir = Paths.get(o("data")).toAbsolutePath.toString

    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    // The CLI's own session carries GraftExtensions; the registry's
    // harnesses (Bench, Verify) build theirs without them.
    val spark = (if (workload == "p6_parse_excel") b.withExtensions(new graft.functions.GraftExtensions)
      else b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe(spark)

    val rng = new scala.util.Random(seed)
    val w: Workload = workload match {
      case "p6_parse_excel" =>
        new P6Workload(spark, probe, work, seed, workbooks = 8, patientsPerBook = 100)
      case "sql_battery" =>
        new EntryBattery(spark, probe, dataDir, work.resolve("out"), rng.shuffle(SqlBattery), operatorSpans = false)
      case "llm_dedup" =>
        new EntryBattery(spark, probe, dataDir, work.resolve("out"), rng.shuffle(LlmDedup), operatorSpans = true)
      case "stream_containment" => new StreamWorkload(spark, probe, dataDir, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def log(msg: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s  $msg")
    log("session started")
    def timed(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }
    val inputs = (1 to InputReps).map(_ => timed(w.setupInputs()))
    log(f"inputs built (${inputs.map(t => f"$t%.2f").mkString(", ")} s)")
    w.setupState()
    log("set up")
    // JVM start to here, less all but the median input build.
    val setupOnce = (System.currentTimeMillis() - jvmStart) / 1e3 - inputs.sum

    var attempted, failed = 0
    var peakHeap = 0L
    def runPass(i: Int): Double = {
      w.prepare(i)
      val t0 = System.nanoTime()
      val r = w.pass(i)
      val sec = (System.nanoTime() - t0) / 1e9
      val v = w.verify(i)
      attempted += r.attempted + v.attempted
      failed += r.failed + v.failed
      // Two collections around a pause: Spark's ContextCleaner drops the
      // blocks of collected RDDs and broadcasts in between, so the
      // reading is the heap the pass leaves live.
      System.gc(); Thread.sleep(300); System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      peakHeap = math.max(peakHeap, heap)
      log(f"pass $i: $sec%.3f s${if (probe.enabled) " (traced)" else ""}")
      sec
    }

    val c0 = probe.compiles
    val first = runPass(0)
    val coldCompiles = probe.compiles - c0
    // A traced run follows its traced passes with one untraced pass, the
    // baseline for the tracing overhead and the cold pass's extra cost.
    var next = 1
    var baseline = 0.0
    var warmCompiles = 0L
    val passes = scala.collection.mutable.ArrayBuffer.empty[Double]
    if (trace) probe.setEnabled(true)
    val c1 = probe.compiles
    val t0 = System.nanoTime()
    if (!trace && !w.warmPasses) passes += first
    else while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      passes += runPass(next); next += 1
    }
    if (trace) {
      probe.flush()
      warmCompiles = probe.compiles - c1
      probe.setEnabled(false)
      baseline = runPass(next)
    }
    val wall = Stats.median(passes.toSeq)

    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val n = passes.size
        val g = probe.global
        Map(
          "exec.jobs" -> g.jobs.get.toDouble / n,
          "exec.stages" -> g.stages.get.toDouble / n,
          "exec.tasks" -> g.tasks.get.toDouble / n,
          "exec.task_cpu_s" -> g.cpuNs.get / 1e9 / n,
          "exec.shuffle_write_mb" -> g.shuffleWrite.get / 1e6 / n,
          "exec.shuffle_read_mb" -> g.shuffleRead.get / 1e6 / n,
          "exec.spill_mb" -> g.spill.get / 1e6 / n,
          "exec.peak_exec_mem_mb" -> g.peakExecMem.get / 1e6,
          "exec.core_util" -> g.runMs.get / 1e3 / (passes.sum * cores),
          "catalyst.analysis_s" -> probe.analysisMs.get / 1e3 / n,
          "catalyst.optimization_s" -> probe.optimizationMs.get / 1e3 / n,
          "catalyst.planning_s" -> probe.planningMs.get / 1e3 / n,
          "codegen.compiles" -> coldCompiles.toDouble,
          "codegen.warm_compiles" -> warmCompiles.toDouble / n,
          "pass.cold_extra_s" -> (first - baseline),
          "trace.overhead_s" -> (wall - baseline)) ++ w.layerMetrics(probe, n)
      }

    if (trace) {
      val spans = probe.selfTimes.map { case (n, total, self) =>
        s"""{"span":"$n","total_s":${total / passes.size},"self_s":${self / passes.size}}"""
      }
      Files.writeString(work.resolve("spans.json"), probe.recorded.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
        .mkString("[\n", ",\n", "\n]\n"))
      Files.writeString(work.resolve("span_summary.json"), spans.mkString("[\n", ",\n", "\n]\n"))
    }
    w.report.foreach(l => System.err.println(s"[perfbench] $l"))

    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    val json =
      s"""{"workload":"$workload","jvm_start_ms":$jvmStart,"setup_once_s":${num(setupOnce)},""" +
      s""""inputs_s":[${inputs.map(num).mkString(",")}],"first_pass_s":${num(first)},""" +
      s""""passes_s":[${passes.map(num).mkString(",")}],"wall_s":${num(wall)},""" +
      s""""items_per_pass":${w.itemsPerPass},"attempted":$attempted,"failed":$failed,""" +
      s""""peak_heap_mb":${num(peakHeap / 1e6)},"oracle_dir":"${work.resolve("out")}",""" +
      s""""layers":{${layers.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")}}}"""
    Files.writeString(Paths.get(o("out")), json)
    writeOracles(workload, work)
    log("result written")
    spark.stop()
    log("session stopped")
  }

  /** The DuckDB oracle SQL of every entry the run wrote on its first pass. */
  private def writeOracles(workload: String, work: Path): Unit = {
    val names = workload match {
      case "sql_battery" => SqlBattery
      case "llm_dedup" => LlmDedup
      case _ => Nil
    }
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(work.resolve("oracles.json"), names.map(n =>
      s"${q(n)}:${oracles.get(n).map(q).getOrElse("null")}").mkString("{", ",", "}"))
  }
}
