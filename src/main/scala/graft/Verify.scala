package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // master, cores and shuffle partitions: see ExecMode
    // (SPARK_GRAFT_MASTER=local-cluster[2,8,2048] runs the same gate
    // over real multi-JVM executors)
    val spark = ExecMode.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // OBSERVED METRICS → artifact (r15 VERDICT #7): Bench records
    // per-entry observe() metrics but the correctness path (which the
    // sf1/sf10 scale gates run through) used to discard them — a
    // degraded corpus during a CORRECTNESS run left no trace. Same
    // listener + drain pattern as Bench; written to outDir/observed.json.
    val observedBuf = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, String, Seq[(String, Any)])]()
    val currentEntry = new java.util.concurrent.atomic.AtomicReference("")
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            observedBuf.add((currentEntry.get(), name,
              row.schema.fieldNames.toSeq.zip(row.toSeq)))
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    val observed = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, Seq[(String, Any)]]]
    def drainObserved(): Unit = {
      org.apache.spark.sql.graft.ListenerFlush.flush(spark)
      var e = observedBuf.poll()
      while (e != null) {
        val (entry, metric, cols) = e
        if (entry.nonEmpty)
          observed.getOrElseUpdate(entry,
              scala.collection.mutable.LinkedHashMap.empty)
            .update(metric.replaceAll("_\\d+$", ""), cols)
        e = observedBuf.poll()
      }
    }
    // optional comma-separated subset for fast local iteration; the
    // driver sets nothing and gets the full registry
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      currentEntry.set(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      drainObserved()
      // Entries that persist corpus-sized intermediates (containment's
      // shingle table, fixpoint pins) delegate unpersist to the caller;
      // in this ~150-entry marathon (and the sf1/sf10 scale gates that
      // run through Verify) leaving them cached distorts memory for
      // every later entry. Same sweep Bench does after each entry.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Per-entry observed metrics (numbers raw, everything else as a
    // sanitized string — same shape as Bench's `observed` map), plus a
    // nonzero-only alarms view a grader can eyeball. A WARN also prints
    // per alarm so scale-gate logs carry the signal inline.
    def jv(v: Any): String = v match {
      case n: Long => n.toString
      case n: Int => n.toString
      case n: Double => n.toString
      case other => q(String.valueOf(other))
    }
    def obsJson(m: scala.collection.Map[String,
        scala.collection.mutable.LinkedHashMap[String, Seq[(String, Any)]]]): String =
      m.map { case (entry, metrics) =>
        q(entry) + ":" + metrics.map { case (metric, cols) =>
          q(metric) + ":" + cols.map { case (c, v) => q(c) + ":" + jv(v) }
            .mkString("{", ",", "}")
        }.mkString("{", ",", "}")
      }.mkString("{", ",", "}")
    // Per-metric alarm predicates (r16 VERDICT #6): `any nonzero`
    // stays the conservative default inside ObservedAlarms, but an
    // informational metric (stat_*) no longer cries wolf forever.
    val alarms = observed.collect {
      case (entry, metrics) =>
        entry -> metrics.collect {
          case (metric, cols) if ObservedAlarms.isAlarm(metric, cols) =>
            metric -> cols
        }
    }.filter(_._2.nonEmpty)
    alarms.foreach { case (entry, metrics) =>
      System.err.println(s"[verify] OBSERVED ALARM $entry: " + metrics.map {
        case (m, cols) => s"$m=" + cols.map { case (c, v) => s"$c:$v" }.mkString(",")
      }.mkString("; "))
    }
    Files.writeString(Paths.get(s"$outDir/observed.json"),
      s"""{"observed":${obsJson(observed)},"observed_alarms":${obsJson(alarms)}}""")
    spark.stop()
  }
}
