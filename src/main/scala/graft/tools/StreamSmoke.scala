package graft.tools

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.EventStreams

/** Structured-Streaming smoke under an arbitrary master (ExecMode):
  * StreamingSpec only ever runs local[N], where StatefulProcessor
  * closures, RocksDB state, and shuffle state never cross a process
  * boundary. Run under local-cluster to exercise the one mode the
  * suite cannot:
  *
  *   SPARK_HOME=$PWD/target/sparkhome SPARK_SCALA_VERSION=2.13 \
  *   SPARK_GRAFT_MASTER='local-cluster[2,8,2048]' SPARK_GRAFT_SHUFFLE=8 \
  *     sbt "runMain graft.tools.StreamSmoke"
  *
  * Drives transformWithState (RunningTotalsProcessor), the watermarked
  * streaming dedup, and flatMapGroupsWithState sessionization over two
  * micro-batches each, printing PASS/FAIL per pipeline and exiting
  * nonzero on any failure.
  */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.ExecMode.session()
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    var failed = false
    def check(name: String)(ok: => Boolean): Unit = {
      val r = try ok catch { case e: Throwable =>
        System.err.println(s"$name threw: ${e.getMessage}"); false }
      println(s"STREAMSMOKE $name ${if (r) "PASS" else "FAIL"}")
      if (!r) failed = true
    }

    check("transformWithState_runningTotals") {
      val stream = MemoryStream[EventStreams.Event]
      val q = EventStreams.runningTotals(stream.toDS())
        .writeStream.format("memory").queryName("sm_tws")
        .outputMode("update").start()
      stream.addData(
        EventStreams.Event(1L, ts(0), "click", 1.0),
        EventStreams.Event(2L, ts(1), "view", 5.0))
      q.processAllAvailable()
      stream.addData(EventStreams.Event(1L, ts(2), "click", 4.0))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("sm_tws").as[EventStreams.UserRunning]
        .collect().toSet
      rows.contains(EventStreams.UserRunning(1L, 2L, 5.0)) &&
        rows.contains(EventStreams.UserRunning(2L, 1L, 5.0))
    }

    check("watermarked_dedup") {
      val stream = MemoryStream[EventStreams.Event]
      val q = EventStreams.dedupEvents(
          stream.toDS().toDF(), Seq("user_id", "event_type"), "10 minutes")
        .writeStream.format("memory").queryName("sm_dedup")
        .outputMode("append").start()
      stream.addData(
        EventStreams.Event(1L, ts(0), "click", 1.0),
        EventStreams.Event(1L, ts(1), "click", 2.0)) // dup within watermark
      q.processAllAvailable()
      stream.addData(EventStreams.Event(1L, ts(2), "click", 3.0)) // still dup
      q.processAllAvailable()
      q.stop()
      spark.table("sm_dedup").count() == 1L
    }

    check("flatMapGroupsWithState_sessionize") {
      val stream = MemoryStream[EventStreams.Event]
      val q = EventStreams.statefulSessionize(stream.toDS(), gapMs = 600000L,
          watermarkDelay = "1 minute")
        .writeStream.format("memory").queryName("sm_sess")
        .outputMode("append").start()
      stream.addData(
        EventStreams.Event(7L, ts(0), "click", 1.0),
        EventStreams.Event(7L, ts(1), "click", 1.0))
      q.processAllAvailable()
      // a far-future event closes the first session via watermark
      stream.addData(EventStreams.Event(7L, ts(120), "click", 1.0))
      q.processAllAvailable()
      stream.addData(EventStreams.Event(7L, ts(240), "click", 1.0))
      q.processAllAvailable()
      q.stop()
      val sess = spark.table("sm_sess").as[EventStreams.SessionOut].collect()
      sess.exists(s => s.n_events == 2L)
    }

    check("foreachBatch_dedupIncrement") {
      // streaming incremental dedup: store writes + the banded
      // candidate join + connected components all cross real process
      // boundaries here
      val root = java.nio.file.Files.createTempDirectory("sm_sdedup").toFile
      val store = new java.io.File(root, "store").getAbsolutePath
      val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
      EventStreams.seedDedupBase(
        Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
          .toDF("doc_id", "text"),
        "doc_id", "text", store)
      val stream = MemoryStream[(Long, String)]
      val q = EventStreams.streamingDedupIncrement(
        stream.toDF().toDF("doc_id", "text"), store, ckpt,
        jaccardThreshold = 0.5)
      stream.addData(
        (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dups base
        (11L, "totally new content nine ten eleven twelve thirteen"))
      q.processAllAvailable()
      stream.addData(
        (20L, "totally new content nine ten eleven twelve thirteen")) // dups 11
      q.processAllAvailable()
      q.stop()
      val stored = EventStreams.dedupStoreDocs(spark, store)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      stored == Set(1L, 11L)
    }

    check("dedupStore_compaction") {
      // in-stream periodic compaction: the consolidated rewrite, the
      // manifest publish, and every manifest-gated readLive cross real
      // process boundaries here (executors write the parquet, the
      // driver publishes the manifest)
      val root = java.nio.file.Files.createTempDirectory("sm_sdedupc").toFile
      val store = new java.io.File(root, "store").getAbsolutePath
      val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
      EventStreams.seedDedupBase(
        Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
          .toDF("doc_id", "text"),
        "doc_id", "text", store)
      val stream = MemoryStream[(Long, String)]
      val q = EventStreams.streamingDedupIncrement(
        stream.toDF().toDF("doc_id", "text"), store, ckpt,
        jaccardThreshold = 0.5, compactEvery = Some(2))
      (0 until 5).foreach { b =>
        stream.addData(
          (100L + b, s"novel doc for micro batch $b with words w${b}a w${b}b w${b}c"),
          (200L + b, "alpha beta gamma delta epsilon zeta eta theta")) // dups base
        q.processAllAvailable()
      }
      q.stop()
      // last compaction fired inside batch 4 at watermark 3: all of
      // base..b3 is one consolidated partition, only b4 uncompacted
      val docs = EventStreams.dedupStoreDocs(spark, store)
        .select("doc_id", "batch").collect()
      docs.map(_.getLong(0)).toSet ==
        Set(1L, 100L, 101L, 102L, 103L, 104L) &&
        docs.map(_.getString(1)).toSet == Set("base-g3", "b4")
    }

    spark.stop()
    if (failed) sys.exit(1)
    println("STREAMSMOKE ALL PASS")
  }
}
