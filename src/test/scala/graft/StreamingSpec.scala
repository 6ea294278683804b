package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Structured Streaming specs: the streaming plans must produce the
  * same results as their batch shapes once the watermark closes.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  private val sample = Seq(
    Event(1L, ts(0), "click", 1.0),
    Event(1L, ts(10), "click", 2.0),
    Event(1L, ts(60), "view", 3.0),   // 50-min gap -> new session
    Event(2L, ts(5), "click", 4.0),
    Event(2L, ts(20), "purchase", 5.0),
    Event(2L, ts(2000), "click", 6.0)) // far future: advances watermark

  test("streaming windowed counts equal the batch plan") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStreams.windowedCounts(stream.toDF(), "1 hour")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    stream.addData(sample: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("win_out")
      .select("day", "event_type", "n", "sum_value").collect().toSet
    val batch = EventStreams.windowedCounts(sample.toDF(), "1 hour")
      .collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("session_window streaming emits closed sessions matching batch") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = EventStreams.sessionWindows(stream.toDF())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    stream.addData(sample.filter(_.ts.getTime < 100 * 60000L): _*)
    q.processAllAvailable()
    stream.addData(sample.filter(_.ts.getTime >= 100 * 60000L): _*)
    q.processAllAvailable()
    q.stop()
    // Append mode emits sessions the watermark has passed: with the
    // t=2000min event pushing the watermark to ~1880min, every earlier
    // session is closed and emitted.
    val emitted = spark.table("sess_out")
      .select(col("user_id"), col("n_events")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // user 1: sessions {2 events}, {1 event}; user 2: {2 events}
    assert(emitted == Set((1L, 2L), (1L, 1L), (2L, 2L)))
  }

  test("stateful sessionizer (flatMapGroupsWithState) matches gap semantics on batch") {
    val sessions = EventStreams.statefulSessionize(sample.toDS())
      .collect().map(s => (s.user_id, s.n_events)).toList.sorted
    // user 1: [0,10] then [60]; user 2: [5,20] then [2000]
    assert(sessions == List((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L)))
  }

  test("stateful sessionizer streaming: sessions carry across micro-batches, close on event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L // 2024-01-01, well past the epoch watermark floor
    def bts(m: Long) = new Timestamp(base + m * 60000L)
    val stream = MemoryStream[Event]
    val q = EventStreams.statefulSessionize(stream.toDS(),
        gapMs = 30 * 60000L, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("stateful_sess_out")
      .outputMode("append").start()
    // batch 1: open session for user 1 = [0, 10]
    stream.addData(Event(1L, bts(0), "click", 1.0), Event(1L, bts(10), "click", 1.0))
    q.processAllAvailable()
    // batch 2: in-gap event EXTENDS the carried session to [0, 20] (n=3);
    // user 9's event pushes the watermark to 90 min, past user 1's
    // timeout (20+30 min) -> the follow-up no-data micro-batch times the
    // state out and emits the MERGED session (n=3 proves the carry)
    stream.addData(Event(1L, bts(20), "click", 1.0), Event(9L, bts(100), "click", 1.0))
    q.processAllAvailable()
    assert(spark.table("stateful_sess_out").as[EventStreams.SessionOut].collect().toSet
      == Set(EventStreams.SessionOut(1L, base, base + 20 * 60000L, 3L)))
    // batch 3: user 9's new event is 100 min past its open session
    // -> gap-closes it
    stream.addData(Event(9L, bts(200), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("stateful_sess_out")
      .as[EventStreams.SessionOut].collect().toSet
    assert(out == Set(
      EventStreams.SessionOut(1L, base, base + 20 * 60000L, 3L),
      EventStreams.SessionOut(9L, base + 100 * 60000L, base + 100 * 60000L, 1L)))
  }

  test("stream-stream join: purchases attributed to preceding click within window") {
    implicit val sqlCtx = spark.sqlContext
    // NOTE: event times must sit well past the epoch — the initial
    // watermark is 1970-00:00, and watermark-minus-delay math near it
    // classifies epoch-adjacent rows as late, silently dropping them.
    val base = 1704067200000L // 2024-01-01
    def bts(m: Long) = new java.sql.Timestamp(base + m * 60000L)
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.clickToPurchase(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attrib_out")
      .outputMode("append").start()
    clicks.addData(Event(1L, bts(0), "click", 0.0), Event(2L, bts(5), "click", 0.0))
    purchases.addData(
      Event(1L, bts(30), "purchase", 9.99),   // within 1h of user 1's click
      Event(2L, bts(400), "purchase", 5.0),   // 395 min later: outside window
      Event(3L, bts(10), "purchase", 1.0))    // no click at all
    q.processAllAvailable()
    q.stop()
    val out = spark.table("attrib_out")
      .select("c_user", "purchase_value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(out == Set((1L, 9.99)))
  }

  test("streaming dedup drops within-watermark duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    def bts(m: Long) = new Timestamp(base + m * 60000L)
    val stream = MemoryStream[Event]
    val q = EventStreams.dedupEvents(stream.toDF(), Seq("user_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    stream.addData(Event(1L, bts(0), "click", 1.0), Event(2L, bts(1), "view", 2.0))
    q.processAllAvailable()
    // duplicate user_id 1 arrives in a LATER micro-batch, still within
    // the watermark -> dropped; user 3 is new -> kept
    stream.addData(Event(1L, bts(5), "click", 9.0), Event(3L, bts(6), "view", 3.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(out == Set((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    // batch shape: plain dropDuplicates, one row per user
    val batch = EventStreams.dedupEvents(sample.toDF(), Seq("user_id"))
    assert(batch.count() == sample.map(_.user_id).distinct.size)
  }

  test("stateful sessionizer: late in-gap event must not shrink the open session") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    def bts(m: Long) = new Timestamp(base + m * 60000L)
    val stream = MemoryStream[Event]
    val q = EventStreams.statefulSessionize(stream.toDS(),
        gapMs = 30 * 60000L, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("late_sess_out")
      .outputMode("append").start()
    stream.addData(Event(1L, bts(10), "click", 1.0), Event(1L, bts(20), "click", 1.0))
    q.processAllAvailable()
    // m15 arrives in a LATER batch: late (before the session end) but
    // above the watermark -> must extend membership, keep end at m20
    stream.addData(Event(1L, bts(15), "click", 1.0), Event(9L, bts(100), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("late_sess_out")
      .as[EventStreams.SessionOut].collect().filter(_.user_id == 1L).toSeq
    assert(u1 == Seq(EventStreams.SessionOut(1L,
      base + 10 * 60000L, base + 20 * 60000L, 3L)))
  }

  test("stream-stream LEFT OUTER join: unmatched clicks emit nulls after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    def bts(m: Long) = new java.sql.Timestamp(base + m * 60000L)
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStreams.clickToPurchaseOuter(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode("append").start()
    clicks.addData(Event(1L, bts(0), "click", 0.0), Event(2L, bts(5), "click", 0.0))
    purchases.addData(Event(1L, bts(30), "purchase", 9.99))
    q.processAllAvailable()
    // push both watermarks far past click+window+delay so user 2's
    // unmatched click is provably final and emits with null purchase
    clicks.addData(Event(9L, bts(600), "click", 0.0))
    purchases.addData(Event(9L, bts(601), "purchase", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attrib_outer")
      .select(col("c_user"), col("purchase_value")).collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(rows.contains((1L, Some(9.99))))       // matched within window
    assert(rows.contains((2L, None)))             // unmatched -> nulls
    assert(rows.contains((9L, Some(1.0))))        // late pair matched
  }

  test("transformWithState: running totals persist across micro-batches (RocksDB state)") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Event]
      val q = EventStreams.runningTotals(stream.toDS())
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("update").start()
      stream.addData(Event(1L, ts(0), "click", 1.0), Event(1L, ts(1), "click", 2.0),
        Event(2L, ts(2), "view", 5.0))
      q.processAllAvailable()
      // second batch: totals must ACCUMULATE on top of batch-1 state
      stream.addData(Event(1L, ts(3), "click", 4.0))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("tws_out")
        .as[EventStreams.UserRunning].collect().toSet
      assert(rows == Set(
        EventStreams.UserRunning(1L, 2L, 3.0),   // batch 1
        EventStreams.UserRunning(2L, 1L, 5.0),   // batch 1
        EventStreams.UserRunning(1L, 3L, 7.0)))  // batch 2: carried state
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming heavy hitters: MG sketch state accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[String]
      val q = EventStreams.streamingHeavyHitters(stream.toDS(), k = 4, shards = 2)
        .writeStream.format("memory").queryName("hh_out")
        .outputMode("update").start()
      // 30 occurrences per batch: a retained count above 30 is only
      // reachable by carrying batch-1 state into batch 2 (decrements
      // never add), so it PROVES cross-batch accumulation
      stream.addData(Seq.fill(30)("dominant") :+ "n1" :+ "n2": _*)
      q.processAllAvailable()
      stream.addData(Seq.fill(30)("dominant") :+ "n3" :+ "n4": _*)
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("hh_out").as[EventStreams.ShardCandidates].collect()
      val dom = rows.flatMap(r => r.candidates.zip(r.retained))
        .filter(_._1 == "dominant")
      assert(dom.nonEmpty, s"dominant token missing from candidates: ${rows.toSeq}")
      assert(dom.map(_._2).max >= 31L,
        s"retained count never exceeded one batch's 30 — state did not carry: ${dom.toSeq}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming heavy hitters reproduce the batch heavy_hitters_topk answer on the corpus") {
    // The q12/q13 pattern for the MG sketch: the batch entry is
    // oracle-green against DuckDB, so pinning the transformWithState
    // path to it transitively oracle-gates the streaming sketch. The
    // corpus tokens arrive over THREE micro-batches; the final
    // per-shard candidate sets must cover the exact top-10, and the
    // exact count restricted to those candidates must reproduce the
    // batch answer token-for-token, count-for-count.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sf = "/root/testdata/sf0.001"
      val toks = Tables(spark, sf, "documents")
        .select(explode(graft.operators.Dedup.tokens(col("text"))).as("tok"))
        .collect().map(_.getString(0)).toSeq
      val stream = MemoryStream[String]
      val q = EventStreams.streamingHeavyHitters(stream.toDS(), k = 64, shards = 8)
        .writeStream.format("memory").queryName("hh_oracle_out")
        .outputMode("update").start()
      toks.grouped(math.max(1, toks.size / 3 + 1)).foreach { chunk =>
        stream.addData(chunk: _*)
        q.processAllAvailable()
      }
      q.stop()
      // update mode emits one row per (shard, batch); the row with the
      // highest `updates` version per shard IS that shard's final
      // sketch state — no reliance on the memory sink's scan order
      val rows = spark.table("hh_oracle_out")
        .as[EventStreams.ShardCandidates].collect()
      val finalCands = rows.groupBy(_.shard)
        .map { case (_, rs) => rs.maxBy(_.updates) }
        .flatMap(_.candidates).toSet
      val batchTop = graft.p6.Queries.all("heavy_hitters_topk")(spark, sf)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(batchTop.size == 10)
      // (1) candidate coverage: every exact top-10 token survived the sketch
      val missed = batchTop.map(_._1).filterNot(finalCands.contains)
      assert(missed.isEmpty, s"streaming MG sketch lost top-10 tokens: $missed")
      // (2) exact-count-over-candidates == the batch entry, rank for rank
      val streamTop = toks.filter(finalCands.contains)
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .sortBy { case (t, c) => (-c, t) }.take(10)
      assert(streamTop == batchTop,
        s"stream-derived top-10 $streamTop != batch $batchTop")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming heavy hitters: stop + restart from checkpoint carries the MG state and reproduces the batch answer") {
    // The restart-compat proof for the transformWithState path: the
    // corpus arrives in two halves with a FULL QUERY RESTART between
    // them — stop(), new writeStream.start() against the same
    // checkpoint — and the final sketch must still reproduce the
    // oracle-green batch heavy_hitters_topk answer. The first half is
    // only ever seen by the pre-restart query, so any count the final
    // sketch credits beyond the second half's occurrences PROVES the
    // RocksDB state (current MgState schema, incl. the round-8
    // `updates` field) was restored from the checkpoint, not rebuilt.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sf = "/root/testdata/sf0.001"
      val root = java.nio.file.Files
        .createTempDirectory("graft_hh_ckpt").toFile
      val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
      val out = new java.io.File(root, "out").getAbsolutePath
      val toks = Tables(spark, sf, "documents")
        .select(explode(graft.operators.Dedup.tokens(col("text"))).as("tok"))
        .collect().map(_.getString(0)).toSeq
      val (half1, half2) = toks.splitAt(toks.size / 2)
      val stream = MemoryStream[String]
      // foreachBatch (not the memory sink: it refuses checkpoint
      // recovery in update mode) appends every update-mode emission
      // to one parquet dir, tagged with which run emitted it
      def start(runTag: Int) =
        EventStreams.streamingHeavyHitters(stream.toDS(), k = 64, shards = 8)
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[EventStreams.ShardCandidates],
              _: Long) =>
            df.withColumn("run", lit(runTag))
              .write.mode("append").parquet(out)
          }
          .option("checkpointLocation", ckpt)
          .outputMode("update").start()
      val q1 = start(1)
      stream.addData(half1: _*)
      q1.processAllAvailable(); q1.stop()
      // second half lands while the query is DOWN; the restarted query
      // must fold it into the RESTORED sketches
      stream.addData(half2: _*)
      val q2 = start(2)
      q2.processAllAvailable(); q2.stop()
      // per-shard final state = max `updates` across BOTH runs' rows
      // (a shard silent in the post-restart batch keeps its run-1 row);
      // the monotonic version counter must not reset across restart
      val all = spark.read.parquet(out).collect().map { r =>
        (r.getAs[Int]("shard"),
          r.getAs[scala.collection.Seq[String]]("candidates").toSeq,
          r.getAs[scala.collection.Seq[Long]]("retained").toSeq,
          r.getAs[Long]("updates"), r.getAs[Int]("run"))
      }
      val rows = all.map { case (s, c, ret, u, _) =>
        EventStreams.ShardCandidates(s, c, ret, u) }
      val finals = rows.groupBy(_.shard).map { case (_, rs) => rs.maxBy(_.updates) }
      val run2 = all.filter(_._5 == 2)
      assert(run2.nonEmpty, "restarted query emitted nothing")
      val run1MaxByShard = all.filter(_._5 == 1)
        .groupBy(_._1).view.mapValues(_.map(_._4).max).toMap
      run2.foreach { r =>
        assert(r._4 > run1MaxByShard.getOrElse(r._1, 0L),
          s"shard ${r._1} state-version counter reset across restart")
      }
      val finalCands = finals.flatMap(_.candidates).toSet
      val batchTop = graft.p6.Queries.all("heavy_hitters_topk")(spark, sf)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val missed = batchTop.map(_._1).filterNot(finalCands.contains)
      assert(missed.isEmpty, s"restarted MG sketch lost top-10 tokens: $missed")
      val streamTop = toks.filter(finalCands.contains)
        .groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .sortBy { case (t, c) => (-c, t) }.take(10)
      assert(streamTop == batchTop,
        s"restart-derived top-10 $streamTop != batch $batchTop")
      // direct state-carry witness: some retained count in the final
      // sketches exceeds that token's post-restart occurrences alone
      val half2Counts = half2.groupBy(identity).view.mapValues(_.size.toLong)
      val carried = finals.flatMap(r => r.candidates.zip(r.retained))
        .filter { case (t, c) => c > half2Counts.getOrElse(t, 0L) }
      assert(carried.nonEmpty,
        "no retained count exceeds its second-half occurrences — state did not carry")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("dedupEvents: stop + restart from checkpoint keeps the seen-id state — cross-gap duplicate still dropped") {
    // The dropDuplicatesWithinWatermark state must survive a FULL
    // query restart: the duplicate arrives while the query is DOWN and
    // is processed only by the restarted query, so it can only be
    // dropped if the seen-id store was restored from the checkpoint.
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    def bts(m: Long) = new Timestamp(base + m * 60000L)
    val root = java.nio.file.Files.createTempDirectory("graft_dedup_ckpt").toFile
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val out = new java.io.File(root, "out").getAbsolutePath
    val stream = MemoryStream[Event]
    def start() = EventStreams.dedupEvents(stream.toDF(), Seq("user_id"))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    stream.addData(Event(1L, bts(0), "click", 1.0), Event(2L, bts(1), "view", 2.0))
    q1.processAllAvailable(); q1.stop()
    // duplicate user 1 + new user 3 land while the query is down
    stream.addData(Event(1L, bts(5), "click", 9.0), Event(3L, bts(6), "view", 3.0))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out).select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 1.0), (2L, 2.0), (3L, 3.0)),
      s"cross-restart dedup diverged: $got")
    // batch twin across the same gap: plain dropDuplicates over the
    // full input keeps one row per user with the first value
    val batchUsers = EventStreams.dedupEvents(Seq(
      Event(1L, bts(0), "click", 1.0), Event(2L, bts(1), "view", 2.0),
      Event(1L, bts(5), "click", 9.0), Event(3L, bts(6), "view", 3.0)).toDF(),
      Seq("user_id")).select("user_id").collect().map(_.getLong(0)).toSet
    assert(got.map(_._1) == batchUsers)
  }

  test("sessionWindows: stop + restart from checkpoint carries the open session — merged across the gap, matches batch") {
    // The session_window aggregation state must survive a restart: the
    // first two events of user 1's session are seen ONLY pre-restart,
    // the in-gap third event ONLY post-restart. The emitted session
    // has n_events=3 and the pre-restart start bound iff the open
    // session was restored and extended, and must equal the batch twin
    // over the full input.
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    def bts(m: Long) = new Timestamp(base + m * 60000L)
    val root = java.nio.file.Files.createTempDirectory("graft_sess_ckpt").toFile
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val out = new java.io.File(root, "out").getAbsolutePath
    val stream = MemoryStream[Event]
    def start() = EventStreams.sessionWindows(stream.toDF())
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val events = Seq(
      Event(1L, bts(0), "click", 1.0), Event(1L, bts(10), "click", 1.0),
      // post-restart: in-gap extension + a watermark pusher far past
      // the session close (2h delay: watermark 400-120=280 > end 50)
      Event(1L, bts(20), "click", 1.0), Event(9L, bts(400), "click", 1.0))
    val q1 = start()
    stream.addData(events(0), events(1))
    q1.processAllAvailable(); q1.stop()
    stream.addData(events(2), events(3))
    val q2 = start()
    q2.processAllAvailable()
    // one more watermark nudge so the no-data batch that finalizes
    // emission deterministically runs post-restart
    stream.addData(Event(9L, bts(500), "click", 1.0))
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out)
      .select("user_id", "session_start", "session_end", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    val user1 = got.filter(_._1 == 1L)
    assert(user1 == Set((1L, bts(0), bts(50), 3L)),
      s"restored session diverged: $got")
    // batch twin on the full event set: the same user-1 session
    val batch = EventStreams.sessionWindows(events.toDF())
      .select("user_id", "session_start", "session_end", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .filter(_._1 == 1L).toSet
    assert(batch == user1, s"batch twin $batch != streamed $user1")
  }

  test("streaming near-dup pairs == batch simhash banding, planted cross-batch dups included") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val sf = "/root/testdata/sf0.001"
      // the corpus plus re-idd EXACT copies of every 25th doc — the
      // copies arrive in the LAST micro-batch, so their pairs span
      // batches and can only come out of persistent bucket state
      val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      val planted = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val nPlanted = planted.count()
      assert(nPlanted > 0)
      val corpus = docs.unionByName(planted)
      val rows = corpus.orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val stream = MemoryStream[(Long, String)]
      val q = EventStreams.streamingNearDup(
          stream.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName("neardup_out")
        .outputMode("append").start()
      rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { chunk =>
        stream.addData(chunk: _*)
        q.processAllAvailable()
      }
      q.stop()
      val streamPairs = spark.table("neardup_out")
        .select("a", "b", "hamming").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val batchPairs = graft.operators.Dedup
        .simhashNearDupPairs(corpus, "doc_id", "text", maxDist = 3)
        .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"),
          r.getAs[Int]("hamming"))).toSet
      assert(streamPairs == batchPairs,
        s"stream-only: ${streamPairs -- batchPairs}; batch-only: ${batchPairs -- streamPairs}")
      // every planted copy's (original, copy) hamming-0 pair was found,
      // and the copies could only pair ACROSS micro-batches
      val plantedPairs = streamPairs.filter { case (a, b, h) =>
        h == 0 && b == a + 100000L }
      assert(plantedPairs.size == nPlanted,
        s"expected $nPlanted cross-batch planted pairs, got ${plantedPairs.size}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("file sink + checkpoint: restart resumes from committed offsets exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_stream").toFile
    val out = new java.io.File(root, "out").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val stream = MemoryStream[Event]
    def start() = stream.toDF()
      .select(col("event_type"), col("user_id"), col("value"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    stream.addData(Event(1L, ts(0), "click", 1.0), Event(2L, ts(1), "view", 2.0))
    q1.processAllAvailable(); q1.stop()
    // new data lands while the query is DOWN; the restart must process
    // exactly the uncommitted batch — no loss, no duplicates
    stream.addData(Event(3L, ts(2), "click", 3.0))
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(rows == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }

  test("foreachBatch snapshot: complete-mode totals land in parquet, latest wins") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_snap").toFile
    val snap = new java.io.File(root, "snap").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val stream = MemoryStream[Event]
    val q = EventStreams.aggregateSnapshot(stream.toDF(), snap, ckpt)
    stream.addData(Event(1L, ts(0), "click", 1.0), Event(1L, ts(1), "click", 2.0))
    q.processAllAvailable()
    stream.addData(Event(1L, ts(2), "view", 3.0), Event(2L, ts(3), "view", 5.0))
    q.processAllAvailable()
    q.stop()
    // snapshot reflects ALL data (complete mode), not just the last batch
    val rows = spark.read.parquet(snap).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rows == Map(1L -> ((3L, 6.0)), 2L -> ((1L, 5.0))))
  }

  test("streaming incremental dedup: multi-batch equals one batch dedupIncrement; base wins across batches") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    def doc(id: Long, text: String) = (id, text)
    val base = Seq(
      doc(1L, "alpha beta gamma delta epsilon zeta eta theta"),
      doc(2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    // micro-batch 1: 10 dups base 1 (dies), 11 novel (lives),
    // 12 dups 11 (dies, min id in batch wins)
    val b1 = Seq(
      doc(10L, "alpha beta gamma delta epsilon zeta eta theta"),
      doc(11L, "totally new content nine ten eleven twelve thirteen"),
      doc(12L, "totally new content nine ten eleven twelve thirteen"))
    // micro-batch 2: 20 dups base 2 (dies), 21 dups 11 — an EARLIER
    // MICRO-BATCH's survivor, now base (dies: base wins), 22 novel
    val b2 = Seq(
      doc(20L, "one two three four five six seven eight"),
      doc(21L, "totally new content nine ten eleven twelve thirteen"),
      doc(22L, "fresh words fourteen fifteen sixteen seventeen eighteen"))

    EventStreams.seedDedupBase(base, "doc_id", "text", store)
    val stream = MemoryStream[(Long, String)]
    val q = EventStreams.streamingDedupIncrement(
      stream.toDF().toDF("doc_id", "text"), store, ckpt,
      jaccardThreshold = 0.5)
    stream.addData(b1: _*)
    q.processAllAvailable()
    stream.addData(b2: _*)
    q.processAllAvailable()
    q.stop()

    val stored = EventStreams.dedupStoreDocs(spark, store)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(stored == Set(1L, 2L, 11L, 22L), s"store: $stored")

    // multi-batch == ONE batch dedupIncrement over the concatenation
    val oneShot = graft.operators.Dedup.dedupIncrement(base,
        (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text",
        jaccardThreshold = 0.5)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(stored -- Set(1L, 2L) == oneShot,
      s"stream survivors ${stored -- Set(1L, 2L)} != batch $oneShot")
  }

  test("streaming incremental dedup: stop + restart from checkpoint — store state carries, committed batches never re-fire") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup_r").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    EventStreams.seedDedupBase(base, "doc_id", "text", store)
    val stream = MemoryStream[(Long, String)]
    def start() = EventStreams.streamingDedupIncrement(
      stream.toDF().toDF("doc_id", "text"), store, ckpt,
      jaccardThreshold = 0.5)
    val q1 = start()
    stream.addData((10L, "brand new document words aaa bbb ccc ddd")) // lives
    q1.processAllAvailable(); q1.stop()
    // data lands while the query is DOWN; restart must resolve it
    // against the state batch 0 left behind (10 is now base)
    stream.addData(
      (20L, "brand new document words aaa bbb ccc ddd"), // dups 10 -> dies
      (21L, "another novel doc eee fff ggg hhh iii"))     // lives
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val stored = EventStreams.dedupStoreDocs(spark, store)
      .select(col("doc_id"), col("batch")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stored.keySet == Set(1L, 10L, 21L), s"store: $stored")
    // provenance: batch 0's survivor stayed in its partition (the
    // restart did NOT re-fire the committed batch over it)
    assert(stored(10L) == "b0" && stored(1L) == "base")
  }

  test("dedup store compaction: folds committed batches into one base; reads, later batches, and sweep all agree") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup_c").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val twin = new java.io.File(root, "twin").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val ckptTwin = new java.io.File(root, "ckpt_twin").getAbsolutePath
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // dups base -> dies
      (11L, "totally new content nine ten eleven twelve thirteen"))
    val b2 = Seq(
      (20L, "fresh words fourteen fifteen sixteen seventeen eighteen"))
    // the post-compaction increment: 30 dups b1's survivor (must die
    // against the CONSOLIDATED base), 31 novel
    val b3 = Seq(
      (30L, "totally new content nine ten eleven twelve thirteen"),
      (31L, "late arrival nineteen twenty twentyone twentytwo twentythree"))

    // one MemoryStream per checkpoint: a restarted query must find
    // the committed offsets in its source
    EventStreams.seedDedupBase(base, "doc_id", "text", store)
    val s = MemoryStream[(Long, String)]
    def start() = EventStreams.streamingDedupIncrement(
      s.toDF().toDF("doc_id", "text"), store, ckpt, jaccardThreshold = 0.5)
    val q = start()
    Seq(b1, b2).foreach { b => s.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val before = EventStreams.dedupStoreDocs(spark, store)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet

    val upTo = graft.streaming.DedupStore.lastCommittedBatch(spark, ckpt).get
    graft.streaming.DedupStore.compact(spark, store, upTo)

    // same docs, consolidated layout, sources swept
    val after = EventStreams.dedupStoreDocs(spark, store)
      .select(col("doc_id"), col("batch")).collect()
    assert(after.map(_.getLong(0)).toSet == before, s"docs changed: $before -> ${after.toSeq}")
    val parts = after.map(_.getString(1)).toSet
    assert(parts == Set(s"base-g$upTo"), s"not consolidated: $parts")
    val physical = new java.io.File(s"$store/docs").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(physical == Set(s"batch=base-g$upTo"), s"sources not swept: $physical")
    // the SIGS side compacted in lockstep: same live layout, one
    // signature row per surviving doc (a mis-folded signature store
    // would silently degrade every future micro-batch's dedup)
    val sigs = graft.streaming.DedupStore.readLive(spark, store, "sigs")
      .select(col("id"), col("batch")).collect()
    assert(sigs.map(_.getLong(0)).toSet == before,
      s"sigs ids diverged from docs: ${sigs.toSeq}")
    assert(sigs.map(_.getString(1)).toSet == Set(s"base-g$upTo"))
    // compaction is idempotent and a covered re-request no-ops
    graft.streaming.DedupStore.compact(spark, store, upTo)
    assert(EventStreams.dedupStoreDocs(spark, store)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet == before)

    // a later micro-batch resolves against the compacted store exactly
    // as the uncompacted twin does
    val q2 = start()
    s.addData(b3: _*); q2.processAllAvailable(); q2.stop()
    EventStreams.seedDedupBase(base, "doc_id", "text", twin)
    val sTwin = MemoryStream[(Long, String)]
    val qTwin = EventStreams.streamingDedupIncrement(
      sTwin.toDF().toDF("doc_id", "text"), twin, ckptTwin, jaccardThreshold = 0.5)
    Seq(b1, b2, b3).foreach { b => sTwin.addData(b: _*); qTwin.processAllAvailable() }
    qTwin.stop()
    val compacted = EventStreams.dedupStoreDocs(spark, store)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val uncompacted = EventStreams.dedupStoreDocs(spark, twin)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(compacted == uncompacted,
      s"post-compaction increment diverged: $compacted != $uncompacted")
  }

  test("dedup store compaction: crash after data write but before manifest publish leaves the store untouched; retry converges") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup_x").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    EventStreams.seedDedupBase(base, "doc_id", "text", store)
    val s = MemoryStream[(Long, String)]
    def start() = EventStreams.streamingDedupIncrement(
      s.toDF().toDF("doc_id", "text"), store, ckpt, jaccardThreshold = 0.5)
    val q = start()
    s.addData((10L, "brand new document words aaa bbb ccc ddd"))
    q.processAllAvailable()
    s.addData((20L, "another novel doc eee fff ggg hhh iii"))
    q.processAllAvailable()
    q.stop()
    val upTo = graft.streaming.DedupStore.lastCommittedBatch(spark, ckpt).get

    // simulate the crash window: the consolidated partitions exist on
    // disk (the exact write compact() performs) but no manifest was
    // published — readers must see the store EXACTLY as before
    for (sub <- Seq("docs", "sigs"))
      spark.read.parquet(s"$store/$sub").drop("batch")
        .write.mode("overwrite").parquet(s"$store/$sub/batch=base-g$upTo")
    val docs = EventStreams.dedupStoreDocs(spark, store)
      .select(col("doc_id"), col("batch")).collect()
    assert(docs.map(_.getLong(0)).toSet == Set(1L, 10L, 20L),
      s"unpublished base-g leaked into reads: ${docs.toSeq}")
    assert(!docs.map(_.getString(1)).toSet.contains(s"base-g$upTo"))
    // a micro-batch arriving INSIDE the crash window still resolves
    // against the pre-compaction base only (no double-counted docs)
    val q2 = start()
    s.addData(
      (30L, "brand new document words aaa bbb ccc ddd"), // dups 10 -> dies
      (31L, "yet another unseen doc jjj kkk lll mmm nnn")) // lives
    q2.processAllAvailable(); q2.stop()

    // the retry (same watermark) converges: consolidated base +
    // the crash-window batch, same doc set
    graft.streaming.DedupStore.compact(spark, store, upTo)
    val after = EventStreams.dedupStoreDocs(spark, store)
      .select(col("doc_id"), col("batch")).collect()
    assert(after.map(_.getLong(0)).toSet == Set(1L, 10L, 20L, 31L),
      s"retry diverged: ${after.toSeq}")
    val parts = after.map(_.getString(1)).toSet
    assert(parts == Set(s"base-g$upTo", "b2"), s"layout after retry: $parts")
  }

  test("streaming dedup with in-stream periodic compaction: doc set equals the uncompacted twin, layout stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup_p").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val twin = new java.io.File(root, "twin").getAbsolutePath
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val batches = (0 until 5).map { b =>
      Seq((100L + b, s"novel doc for micro batch $b with words w${b}a w${b}b w${b}c"),
        (200L + b, "alpha beta gamma delta epsilon zeta eta theta")) // dups base every batch
    }
    def drive(storeDir: String, ckptName: String, every: Option[Int]): Unit = {
      EventStreams.seedDedupBase(base, "doc_id", "text", storeDir)
      val s = MemoryStream[(Long, String)]
      val q = EventStreams.streamingDedupIncrement(
        s.toDF().toDF("doc_id", "text"), storeDir,
        new java.io.File(root, ckptName).getAbsolutePath,
        jaccardThreshold = 0.5, compactEvery = every)
      batches.foreach { b => s.addData(b: _*); q.processAllAvailable() }
      q.stop()
    }
    drive(store, "ckpt", Some(2))
    drive(twin, "ckpt_twin", None)
    val got = EventStreams.dedupStoreDocs(spark, store)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val want = EventStreams.dedupStoreDocs(spark, twin)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == want, s"compacted stream diverged: $got != $want")
    // batch 4 fired the last compaction at watermark 3: everything
    // before it is one consolidated partition; only b4 rides uncompacted
    val parts = EventStreams.dedupStoreDocs(spark, store)
      .select(col("batch")).distinct().collect().map(_.getString(0)).toSet
    assert(parts == Set("base-g3", "b4"), s"layout: $parts")
  }

  test("minor (tiered) compaction: batches fold into deltas O(new data), base untouched; major folds everything; unpublished delta invisible") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup_t").toFile
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val batches = (0 until 5).map { b =>
      Seq((100L + b, s"novel doc for micro batch $b with words w${b}a w${b}b w${b}c"),
        (200L + b, "alpha beta gamma delta epsilon zeta eta theta")) // dups base every batch
    }
    def drive(name: String, major: Option[Int], minor: Option[Int]): String = {
      val storeDir = new java.io.File(root, name).getAbsolutePath
      EventStreams.seedDedupBase(base, "doc_id", "text", storeDir)
      val s = MemoryStream[(Long, String)]
      val q = EventStreams.streamingDedupIncrement(
        s.toDF().toDF("doc_id", "text"), storeDir,
        new java.io.File(root, s"ckpt_$name").getAbsolutePath,
        jaccardThreshold = 0.5, compactEvery = major, minorEvery = minor)
      batches.foreach { b => s.addData(b: _*); q.processAllAvailable() }
      q.stop()
      storeDir
    }
    def docsAndParts(storeDir: String) = {
      val rows = EventStreams.dedupStoreDocs(spark, storeDir)
        .select(col("doc_id"), col("batch")).collect()
      (rows.map(_.getLong(0)).toSet, rows.map(_.getString(1)).toSet)
    }
    val want = Set(1L, 100L, 101L, 102L, 103L, 104L)

    // minor-only: batch 2 folds b0,b1 -> delta-g1; batch 4 folds
    // b2,b3 -> delta-g3. The seed base is never rewritten.
    val minorStore = drive("minor", None, Some(2))
    val (minorDocs, minorParts) = docsAndParts(minorStore)
    assert(minorDocs == want, s"minor diverged: $minorDocs")
    assert(minorParts == Set("base", "delta-g1", "delta-g3", "b4"),
      s"tiered layout: $minorParts")
    // the sigs side folded in lockstep
    val sigParts = graft.streaming.DedupStore
      .readLive(spark, minorStore, "sigs")
      .select(col("batch")).distinct().collect().map(_.getString(0)).toSet
    assert(sigParts == minorParts, s"sigs layout diverged: $sigParts")

    // an unpublished delta (crash after data write, before manifest)
    // is invisible: reads see exactly the published layout
    spark.read.parquet(s"$minorStore/docs").drop("batch")
      .write.mode("overwrite").parquet(s"$minorStore/docs/batch=delta-g99")
    val (crashDocs, crashParts) = docsAndParts(minorStore)
    assert(crashDocs == want && crashParts == minorParts,
      s"unpublished delta leaked: $crashParts")

    // minor + major together: minors at 2 (delta-g1), major at 4
    // folds base + delta-g1 + b2 + b3 -> base-g3
    val (bothDocs, bothParts) = docsAndParts(drive("both", Some(4), Some(2)))
    assert(bothDocs == want, s"minor+major diverged: $bothDocs")
    assert(bothParts == Set("base-g3", "b4"), s"post-major layout: $bothParts")
  }

  test("long delta chain: 6 minor folds with no major stay correct, and a final major collapses the chain losslessly") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup_lc").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val twin = new java.io.File(root, "twin").getAbsolutePath
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    // 12 micro-batches; each carries one novel doc and one dup of an
    // EARLIER batch's survivor (b-2), so correctness depends on every
    // delta in the chain staying readable
    val batches = (0 until 12).map { b =>
      val dupOf = math.max(0, b - 2)
      Seq((100L + b, s"novel doc number $b with words w${b}a w${b}b w${b}c"),
        (300L + b, s"novel doc number $dupOf with words w${dupOf}a w${dupOf}b w${dupOf}c"))
    }
    def drive(dir: String, minor: Option[Int]): Unit = {
      EventStreams.seedDedupBase(base, "doc_id", "text", dir)
      val s = MemoryStream[(Long, String)]
      val q = EventStreams.streamingDedupIncrement(
        s.toDF().toDF("doc_id", "text"), dir,
        new java.io.File(root, s"ckpt_${new java.io.File(dir).getName}").getAbsolutePath,
        jaccardThreshold = 0.5, minorEvery = minor)
      batches.foreach { b => s.addData(b: _*); q.processAllAvailable() }
      q.stop()
    }
    drive(store, Some(2)) // minors at 2,4,6,8,10 -> delta-g{1,3,5,7,9}... and more
    drive(twin, None)
    def docs(dir: String) = EventStreams.dedupStoreDocs(spark, dir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val got = docs(store)
    assert(got == docs(twin), s"long-chain store diverged from twin: $got")
    // b0/b1's 300-dups die against the 100-survivors of the SAME batch?
    // no — 300+b dups batch b-2's survivor, which lives in an EARLIER
    // delta; all of 300+2..300+11 must die through the chain. 300+0 and
    // 300+1 dup their own batch's novel doc (dupOf==0,1 in-batch for
    // b<=1? b=0: dupOf=0 -> dups 100 in-batch, min id 100 wins;
    // b=1: dupOf=0 -> dups stored 100 -> dies).
    assert(got == (Set(1L) ++ (0 until 12).map(100L + _)), s"survivors: $got")
    val parts = EventStreams.dedupStoreDocs(spark, store)
      .select(col("batch")).distinct().collect().map(_.getString(0)).toSet
    val deltas = parts.count(_.startsWith("delta-g"))
    assert(deltas >= 5 && parts.contains("base"),
      s"expected a >=5-delta chain, got $parts")
    // final major collapses the whole chain to one generation, lossless
    graft.streaming.DedupStore.compact(spark, store, 11, foldBase = true)
    assert(docs(store) == got, "major fold changed the doc set")
    val after = EventStreams.dedupStoreDocs(spark, store)
      .select(col("batch")).distinct().collect().map(_.getString(0)).toSet
    assert(after == Set("base-g11"), s"post-major layout: $after")
  }

  test("compaction sweeps unpublished orphan generations: a crashed fold's base-g/delta-g never flips live when a later manifest publishes") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup_o").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    EventStreams.seedDedupBase(base, "doc_id", "text", store)
    def inc(id: Long, b: Long): Unit = EventStreams.dedupIncrementBatch(
      Seq((id, s"novel doc for micro batch $b with words w${b}a w${b}b w${b}c"))
        .toDF("doc_id", "text"),
      b, store, "doc_id", "text", 0.5, 3, 32, 8,
      graft.operators.Dedup.DefaultMaxBucket)
    (0L to 2L).foreach(b => inc(100L + b, b))
    // crashed minor fold at watermark 1: delta-g1 data (docs AND sigs)
    // exists, manifest-g1 was never published — today it is invisible
    // (g > maxGen). The r14 ADVICE hole: a LATER publish with
    // maxGen >= 1 used to flip it LIVE and duplicate every doc in it.
    for (sub <- Seq("docs", "sigs"))
      spark.read.parquet(s"$store/$sub")
        .filter(col("batch").isin("b0", "b1")).drop("batch")
        .write.mode("overwrite").parquet(s"$store/$sub/batch=delta-g1")
    graft.streaming.DedupStore.compact(spark, store, 2, foldBase = false)
    val rows = EventStreams.dedupStoreDocs(spark, store)
      .select(col("doc_id"), col("batch")).collect()
    val ids = rows.map(_.getLong(0)).toSeq
    assert(ids.sorted == ids.distinct.sorted && ids.toSet ==
        Set(1L, 100L, 101L, 102L),
      s"orphan generation leaked duplicates: ${rows.toSeq}")
    assert(rows.map(_.getString(1)).toSet == Set("base", "delta-g2"),
      s"layout after orphan sweep: ${rows.map(_.getString(1)).toSet}")
    // swept physically too, on both sides
    for (sub <- Seq("docs", "sigs"))
      assert(!new java.io.File(s"$store/$sub/batch=delta-g1").exists(),
        s"orphan $sub/batch=delta-g1 not swept")
  }

  test("fresh checkpoint over a compacted store fails loudly instead of writing tombstone-blanked batches; pruning then frees the names") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup_f").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    EventStreams.seedDedupBase(base, "doc_id", "text", store)
    def inc(id: Long, b: Long): Unit = EventStreams.dedupIncrementBatch(
      Seq((id, s"novel doc number $id with words w${id}a w${id}b w${id}c"))
        .toDF("doc_id", "text"),
      b, store, "doc_id", "text", 0.5, 3, 32, 8,
      graft.operators.Dedup.DefaultMaxBucket)
    (0L to 1L).foreach(b => inc(100L + b, b))
    graft.streaming.DedupStore.compact(spark, store, 1) // tombstones base,b0,b1
    val (g1, dead1) = graft.streaming.DedupStore.manifest(spark, store)
    assert(g1 == 1L && dead1 == Set("base", "b0", "b1"), s"manifest: $g1 $dead1")
    // the silent-data-loss path (fresh checkpoint restarts ids at 0):
    // the write must refuse, not produce an invisible partition
    val e = intercept[IllegalArgumentException] { inc(999L, 0L) }
    assert(e.getMessage.contains("tombstoned"), e.getMessage)
    // tombstones are pruned to physically-present names at the next
    // publish: base/b0/b1 were fully swept, so manifest-g3 drops them
    (2L to 3L).foreach(b => inc(100L + b, b))
    graft.streaming.DedupStore.compact(spark, store, 3, foldBase = false)
    val (g3, dead3) = graft.streaming.DedupStore.manifest(spark, store)
    assert(g3 == 3L && dead3 == Set("b2", "b3"),
      s"stale tombstones not pruned: $dead3")
    // with the name freed, a fresh stream's b0 is writable and LIVE
    inc(500L, 0L)
    val ids = EventStreams.dedupStoreDocs(spark, store)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 100L, 101L, 102L, 103L, 500L),
      s"post-pruning write invisible: $ids")
  }

  test("minor compaction across a query restart: later batches resolve against the delta store exactly as the uncompacted twin") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup_tr").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val twin = new java.io.File(root, "twin").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val batches = (0 until 5).map { b =>
      Seq((100L + b, s"novel doc for micro batch $b with words w${b}a w${b}b w${b}c"),
        // dups batch 0's survivor: must die against the DELTA (not the
        // seed base) after the restart
        (300L + b, "novel doc for micro batch 0 with words w0a w0b w0c"))
    }
    EventStreams.seedDedupBase(base, "doc_id", "text", store)
    // one MemoryStream across both query incarnations (the restarted
    // query replays committed offsets from the same source)
    val s = MemoryStream[(Long, String)]
    def start() = EventStreams.streamingDedupIncrement(
      s.toDF().toDF("doc_id", "text"), store, ckpt,
      jaccardThreshold = 0.5, minorEvery = Some(2))
    val q1 = start()
    batches.take(3).foreach { b => s.addData(b: _*); q1.processAllAvailable() }
    q1.stop() // stop AFTER batch 2 fired the minor fold (delta-g1)
    val q2 = start()
    batches.drop(3).foreach { b => s.addData(b: _*); q2.processAllAvailable() }
    q2.stop()

    EventStreams.seedDedupBase(base, "doc_id", "text", twin)
    val sTwin = MemoryStream[(Long, String)]
    val qTwin = EventStreams.streamingDedupIncrement(
      sTwin.toDF().toDF("doc_id", "text"), twin,
      new java.io.File(root, "ckpt_twin").getAbsolutePath,
      jaccardThreshold = 0.5)
    batches.foreach { b => sTwin.addData(b: _*); qTwin.processAllAvailable() }
    qTwin.stop()

    val got = EventStreams.dedupStoreDocs(spark, store)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val want = EventStreams.dedupStoreDocs(spark, twin)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == want, s"restarted tiered store diverged: $got != $want")
    // 300 dies to min-id 100 inside batch 0; every later 300+b dies
    // against stored 100 — post-restart batches via the delta
    assert(got == Set(1L, 100L, 101L, 102L, 103L, 104L), s"survivors: $got")
    val parts = EventStreams.dedupStoreDocs(spark, store)
      .select(col("batch")).distinct().collect().map(_.getString(0)).toSet
    assert(parts == Set("base", "delta-g1", "delta-g3", "b4"),
      s"layout after restart: $parts")
  }

  test("streaming containment: per-batch mined pairs across a restart equal the batch operator on the concatenated corpus") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_scont").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    def run(n: Int, toks: Range) = toks.map(i => s"$n$i").mkString(" ")
    // doc 1 = t1..t12; contained docs are contiguous windows of it (a
    // window's 3-shingles are a subset). Cross-batch structure:
    //   batch0 doc 10 = t1..t7  -> (10,1)        [new vs base]
    //   batch1 doc 21 = t2..t8  -> (21,1)        [new vs base]
    //                            + (21,10)+(10,21) [C=4/5 both ways,
    //                              new vs EARLIER BATCH, both orientations]
    //   batch2 doc 30 = u3..u9  -> (30,20)       [new vs batch-1 doc]
    // plus unrelated fillers that pair with nothing.
    val base = Seq((1L, run(0, 1 to 12)), (2L, "fa fb fc fd fe ff fg fh"))
      .toDF("doc_id", "text")
    val b0 = Seq((10L, run(0, 1 to 7)), (11L, "ga gb gc gd ge gf gg gh"))
    val b1 = Seq((20L, run(9, 1 to 12)), (21L, run(0, 2 to 8)))
    val b2 = Seq((30L, run(9, 3 to 9)), (31L, "ha hb hc hd he hf hg hh"))
    EventStreams.seedContainmentBase(base, "doc_id", "text", store)
    val s = MemoryStream[(Long, String)]
    def start() = EventStreams.streamingContainment(
      s.toDF().toDF("doc_id", "text"), store, ckpt)
    val q1 = start()
    Seq(b0, b1).foreach { b => s.addData(b: _*); q1.processAllAvailable() }
    q1.stop() // restart between batch 1 and batch 2
    val q2 = start()
    s.addData(b2: _*); q2.processAllAvailable(); q2.stop()

    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("a"), col("b"), col("na"), col("inter"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val streamed = pairSet(EventStreams.containmentStorePairs(spark, store))
    val full = base.unionByName((b0 ++ b1 ++ b2).toDF("doc_id", "text"))
    val batchTwin = pairSet(
      graft.operators.Dedup.containmentPairs(full, "doc_id", "text"))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    assert(streamed == batchTwin,
      s"streamed pair log diverged from the batch operator:\n" +
        s"streamed-only: ${streamed -- batchTwin}\nbatch-only: ${batchTwin -- streamed}")
    // the stream and the batch operator share one candidate-and-verify
    // core, so parity alone could hide a shared defect: check both
    // against the independent brute-force reference too
    val brute = ContainmentReference.pairs(full)
    assert(streamed == brute,
      s"streamed pair log diverged from brute force:\n" +
        s"streamed-only: ${streamed -- brute}\nbrute-only: ${brute -- streamed}")
    // sanity: the cross-batch scenarios actually fired
    val ab = streamed.map(p => (p._1, p._2))
    assert(Set((10L, 1L), (21L, 1L), (21L, 10L), (10L, 21L), (30L, 20L))
      .subsetOf(ab), s"expected cross-batch pairs missing: $ab")
  }

  test("streaming containment: a planted hot block star-degrades per batch against the stable representative; organic pairs untouched") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_scont_h").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    val boiler = (1 to 10).map(i => s"zzhot$i").mkString(" ")
    // ids: seed boiler 1,2 (df=2 <= cap 4 at seed -> the seed pair is
    // mined cold); each batch adds 3 boiler members (df 5 then 8,
    // > cap -> star tier) and one organic contained pair per batch
    val base = Seq((1L, boiler), (2L, boiler),
      (3L, (1 to 12).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val b0 = Seq((100L, boiler), (101L, boiler), (102L, boiler),
      (110L, (1 to 7).map(i => s"t$i").mkString(" "))) // (110,3) organic
    val b1 = Seq((200L, boiler), (201L, boiler), (202L, boiler))
    EventStreams.seedContainmentBase(base, "doc_id", "text", store,
      maxPosting = 4)
    val s = MemoryStream[(Long, String)]
    val q = EventStreams.streamingContainment(
      s.toDF().toDF("doc_id", "text"), store, ckpt, maxPosting = 4)
    Seq(b0, b1).foreach { b => s.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val got = EventStreams.containmentStorePairs(spark, store)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exactly: the cold seed pair, each later member <-> rep 1 (both
    // orientations, identical docs), and the organic pair — NOT the
    // 8x7 boiler clique
    val members = Seq(2L, 100L, 101L, 102L, 200L, 201L, 202L)
    val want = members.flatMap(m => Seq((1L, m), (m, 1L))).toSet + ((110L, 3L))
    assert(got == want,
      s"hot block did not star-degrade to the representative:\n" +
        s"got-only: ${got -- want}\nwant-only: ${want -- got}")
    // and the batch operator on the full corpus agrees here (the rep
    // is the global min id from the seed on, so no rep-drift
    // divergence in this construction)
    val full = base.unionByName((b0 ++ b1).toDF("doc_id", "text"))
    val twin = graft.operators.Dedup
      .containmentPairs(full, "doc_id", "text", maxPosting = 4)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    assert(got == twin, s"diverged from batch twin: ${got -- twin} / ${twin -- got}")
  }

  test("streaming containment: a stored prefix whose shingle goes hot after ingestion is re-ranked, so the store-vs-new pair sharing only non-prefix cold shingles is still mined (r15 ADVICE)") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_scont_sp").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    // Doc A (id 50, 12 tokens -> 10 shingles, prefix k=3) seeds with
    // filler A2 = the 9 b-tokens alone, which raises every "b-run"
    // shingle to df=2 so A's seed prefix is EXACTLY its three df=1
    // aa-shingles (g1="aa1 aa2 aa3", g2, g3 — no tie-break dependence).
    // A flood batch of 5 docs then drives g1 hot (df 6 > cap 4):
    // A's stored prefix loses g1 to the star tier, surviving rows
    // {g2, g3} — BELOW the lossless floor(10/5)+1=3 bound. Doc B
    // (id 70) then arrives containing g1 + all seven b-runs but
    // NEITHER g2 NOR g3: C(A->B) = 8/10 = 0.8, the pair shares only
    // cold shingles outside A's surviving prefix, and the star tier
    // can't reach it (rep(g1) is flood doc 1, and flood-verify fails).
    // Without the stale-prefix refresh the pair is silently missed;
    // the batch twin (re-ranking A against current df) finds it.
    val aTokens = "aa1 aa2 aa3 b1 b2 b3 b4 b5 b6 b7 b8 b9"
    val base = Seq((50L, aTokens), (60L, "b1 b2 b3 b4 b5 b6 b7 b8 b9"))
      .toDF("doc_id", "text")
    val flood = (1L to 5L).map(i =>
      (i, s"aa1 aa2 aa3 f${i}1 f${i}2 f${i}3 f${i}4"))
    val bDoc = Seq((70L, "aa1 aa2 aa3 xx b1 b2 b3 b4 b5 b6 b7 b8 b9"))
    EventStreams.seedContainmentBase(base, "doc_id", "text", store,
      maxPosting = 4)
    val s = MemoryStream[(Long, String)]
    val q = EventStreams.streamingContainment(
      s.toDF().toDF("doc_id", "text"), store, ckpt, maxPosting = 4)
    Seq(flood, bDoc).foreach { b => s.addData(b: _*); q.processAllAvailable() }
    q.stop()
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("a"), col("b"), col("na"), col("inter"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val streamed = pairSet(EventStreams.containmentStorePairs(spark, store))
    val full = base.unionByName((flood ++ bDoc).toDF("doc_id", "text"))
    val twin = pairSet(graft.operators.Dedup
      .containmentPairs(full, "doc_id", "text", maxPosting = 4))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    assert(streamed.contains((50L, 70L, 10L, 8L)),
      s"the stale-prefix pair (A=50 contained-in B=70) was missed: $streamed")
    assert(streamed == twin,
      s"streamed diverged from batch twin:\n" +
        s"streamed-only: ${streamed -- twin}\nbatch-only: ${twin -- streamed}")
  }

  test("containment store bookkeeping: organic batches append empty hot/stale deltas (no probe), a flood persists the stale list, and later batches refresh from it without re-detecting") {
    // r16 VERDICT #4: the stale-prefix probe must not scan the prefix
    // store on batches whose hot delta is empty. The observable
    // contract: the `hot` sub accumulates exactly the newly-hot
    // shingles per batch and `stale` exactly the docs flagged by that
    // delta — an organic batch appends EMPTY partitions (the probe
    // has nothing to run against), while later batches keep mining
    // stale-dependent pairs purely from the persisted list.
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_scont_bk").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val aTokens = "aa1 aa2 aa3 b1 b2 b3 b4 b5 b6 b7 b8 b9"
    val base = Seq((50L, aTokens), (60L, "b1 b2 b3 b4 b5 b6 b7 b8 b9"))
      .toDF("doc_id", "text")
    EventStreams.seedContainmentBase(base, "doc_id", "text", store,
      maxPosting = 4)
    def subRows(sub: String, part: String): Set[String] =
      spark.read.parquet(s"$store/$sub")
        .filter(col("batch") === part).collect()
        .map(_.get(0).toString).toSet
    assert(subRows("hot", "base").isEmpty, "seed hot set should be empty")
    assert(subRows("stale", "base").isEmpty, "seed stale list should be empty")
    // organic batch: nothing crosses the cap -> empty deltas
    val organic = Seq((90L, "o1 o2 o3 o4 o5 o6 o7 o8"))
      .toDF("doc_id", "text")
    EventStreams.containmentIncrementBatch(organic, 0L, store,
      "doc_id", "text", 3, 5, 4)
    assert(subRows("hot", "b0").isEmpty, "organic batch minted a hot shingle")
    assert(subRows("stale", "b0").isEmpty, "organic batch flagged stale docs")
    // flood batch: g1 = "aa1 aa2 aa3" crosses df > 4 -> newly hot, and
    // doc 50's stored prefix (which contains g1) is flagged stale
    val flood = (1L to 5L).map(i =>
      (i, s"aa1 aa2 aa3 f${i}1 f${i}2 f${i}3 f${i}4")).toDF("doc_id", "text")
    EventStreams.containmentIncrementBatch(flood, 1L, store,
      "doc_id", "text", 3, 5, 4)
    assert(subRows("hot", "b1") == Set("aa1 aa2 aa3"),
      s"newly-hot delta wrong: ${subRows("hot", "b1")}")
    assert(subRows("stale", "b1") == Set("50"),
      s"stale delta wrong: ${subRows("stale", "b1")}")
    // a later batch re-detects NOTHING (hot set unchanged, so its own
    // deltas are empty) yet still mines the stale-dependent pair from
    // the persisted list
    val bDoc = Seq((70L, "aa1 aa2 aa3 xx b1 b2 b3 b4 b5 b6 b7 b8 b9"))
      .toDF("doc_id", "text")
    EventStreams.containmentIncrementBatch(bDoc, 2L, store,
      "doc_id", "text", 3, 5, 4)
    assert(subRows("hot", "b2").isEmpty, "already-hot shingle re-flagged")
    assert(subRows("stale", "b2").isEmpty, "stale doc re-flagged")
    val pairs = EventStreams.containmentStorePairs(spark, store)
      .select(col("a"), col("b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((50L, 70L)),
      s"stale-dependent pair not mined from the persisted list: $pairs")
  }

  test("containment increment replay: re-running a batch overwrites hot/stale/pairs/docs/prefix identically (at-least-once idempotence)") {
    // The hot/stale subs added in r17 widen the per-batch write set; a
    // checkpoint replay (crash anywhere between the five writes) must
    // regenerate every partition byte-for-byte — all reads exclude the
    // current part, so the computation is a pure function of the
    // store-without-this-batch.
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_scont_rp").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val aTokens = "aa1 aa2 aa3 b1 b2 b3 b4 b5 b6 b7 b8 b9"
    val base = Seq((50L, aTokens), (60L, "b1 b2 b3 b4 b5 b6 b7 b8 b9"))
      .toDF("doc_id", "text")
    EventStreams.seedContainmentBase(base, "doc_id", "text", store,
      maxPosting = 4)
    // a flood batch exercises every write: pairs, docs, prefix, AND
    // nonempty hot + stale deltas
    val flood = (1L to 5L).map(i =>
      (i, s"aa1 aa2 aa3 f${i}1 f${i}2 f${i}3 f${i}4")).toDF("doc_id", "text")
    def snapshot(): Map[String, Set[String]] =
      Seq("docs", "postings", "prefix", "pairs", "hot", "stale").map { sub =>
        sub -> spark.read.parquet(s"$store/$sub")
          .filter(col("batch") === "b0").collect()
          .map(_.toSeq.map(String.valueOf(_)).mkString("|")).toSet
      }.toMap
    EventStreams.containmentIncrementBatch(flood, 0L, store,
      "doc_id", "text", 3, 5, 4)
    val first = snapshot()
    assert(first("hot").nonEmpty && first("stale").nonEmpty,
      "construction failed: flood batch should mint hot + stale rows")
    // replay the SAME batch id — exactly what the checkpoint does
    // after a crash mid-batch
    EventStreams.containmentIncrementBatch(flood, 0L, store,
      "doc_id", "text", 3, 5, 4)
    val second = snapshot()
    assert(first == second, "replay diverged: " +
      first.keys.filter(k => first(k) != second(k)).mkString(","))
  }

  test("containment store migration: missing postings are backfilled in place, missing hot/stale fail actionably, cap mismatch fails") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_scont_mig").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val base = Seq((1L, "t1 t2 t3 t4 t5 t6 t7 t8"),
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8")).toDF("doc_id", "text")
    EventStreams.seedContainmentBase(base, "doc_id", "text", store,
      minePairs = false)
    def delete(path: String): Unit = {
      def rec(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rec)); f.delete(); ()
      }
      rec(new java.io.File(path))
    }
    // r17-format store: postings sub absent. The first increment must
    // backfill it from the docs sub and produce the same pairs a
    // natively-seeded store would.
    delete(s"$store/postings")
    val b = Seq((10L, "t1 t2 t3 t4 t5 t6 t7")).toDF("doc_id", "text")
    EventStreams.containmentIncrementBatch(b, 0L, store,
      "doc_id", "text", 3, 5, graft.operators.Dedup.DefaultMaxPosting)
    assert(new java.io.File(s"$store/postings/batch=base").exists(),
      "backfill did not materialize the seed postings partition")
    val pairs = EventStreams.containmentStorePairs(spark, store)
      .select(col("a"), col("b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both orientations: 5/5 and 5/6 containment both clear 0.8
    assert(pairs == Set((10L, 1L), (1L, 10L)),
      s"post-backfill pairs wrong: $pairs")
    // cap mismatch vs the persisted meta: refused, names both caps
    val capErr = intercept[IllegalArgumentException] {
      EventStreams.containmentIncrementBatch(b, 1L, store,
        "doc_id", "text", 3, 5, maxPosting = 7)
    }
    assert(capErr.getMessage.contains("maxPosting"), capErr.getMessage)
    // pre-r17 store (no hot/stale): explicit reseed guidance, not a
    // raw parquet path-not-found from DedupStore.readLive
    delete(s"$store/hot")
    val oldErr = intercept[IllegalStateException] {
      EventStreams.containmentIncrementBatch(b, 1L, store,
        "doc_id", "text", 3, 5, graft.operators.Dedup.DefaultMaxPosting)
    }
    assert(oldErr.getMessage.contains("seedContainmentBase"), oldErr.getMessage)
  }

  test("containmentCompact resolves maxPosting from the store meta; a cap-less call on a meta-less store is refused") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_scont_cap").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    // custom cap 4; the flood drives the aa-shingles hot (df 5 > 4)
    val base = Seq((50L, "aa1 aa2 aa3 b1 b2 b3 b4 b5 b6 b7 b8 b9"),
      (60L, "b1 b2 b3 b4 b5 b6 b7 b8 b9")).toDF("doc_id", "text")
    EventStreams.seedContainmentBase(base, "doc_id", "text", store,
      maxPosting = 4)
    val flood = (1L to 5L).map(i =>
      (i, s"aa1 aa2 aa3 f${i}1 f${i}2 f${i}3 f${i}4")).toDF("doc_id", "text")
    EventStreams.containmentIncrementBatch(flood, 0L, store,
      "doc_id", "text", 3, 5, 4)
    // No explicit cap: the major fold reads maxPosting=4 from the meta
    // and recomputes the hot generation with it (DefaultMaxPosting —
    // the old silent default — would find nothing hot).
    EventStreams.containmentCompact(spark, store, 0L, foldBase = true)
    val hot = graft.streaming.DedupStore.readLive(spark, store, "hot").count()
    assert(hot > 0L,
      "meta-resolved major fold lost the hot set (cap default regression)")
    // meta-less store + no explicit cap: refused with guidance
    val f = new java.io.File(s"$store/containment-meta.txt")
    assert(f.delete(), "test setup: meta file missing")
    val err = intercept[IllegalArgumentException] {
      EventStreams.containmentCompact(spark, store, 0L, foldBase = true)
    }
    assert(err.getMessage.contains("maxPosting"), err.getMessage)
  }

  test("containmentCompact: a major fold rewrites the prefix generation re-ranked, erasing stale rows; parity survives") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_scont_cc").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    // Same planted construction as the stale-prefix test: A(50)'s seed
    // prefix is its three aa-shingles; the flood batch drives g1 hot.
    val aTokens = "aa1 aa2 aa3 b1 b2 b3 b4 b5 b6 b7 b8 b9"
    val base = Seq((50L, aTokens), (60L, "b1 b2 b3 b4 b5 b6 b7 b8 b9"))
      .toDF("doc_id", "text")
    val flood = (1L to 5L).map(i =>
      (i, s"aa1 aa2 aa3 f${i}1 f${i}2 f${i}3 f${i}4")).toDF("doc_id", "text")
    EventStreams.seedContainmentBase(base, "doc_id", "text", store,
      maxPosting = 4)
    EventStreams.containmentIncrementBatch(flood, 0L, store,
      "doc_id", "text", 3, 5, 4)
    def hotPrefixRows(): Long = {
      val docs = graft.streaming.DedupStore.readLive(spark, store, "docs")
      val hot = docs.select(explode(col("sh")).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 4).select(col("g"))
      graft.streaming.DedupStore.readLive(spark, store, "prefix")
        .join(hot, Seq("g")).count()
    }
    assert(hotPrefixRows() > 0L, "construction failed: no stale prefix row planted")
    // MAJOR fold: base + b0 -> base-g0, prefix generation rewritten
    EventStreams.containmentCompact(spark, store, 0L, foldBase = true,
      maxPosting = 4)
    assert(hotPrefixRows() == 0L,
      "major containmentCompact left stale (hot-shingle) prefix rows in the store")
    val layout = graft.streaming.DedupStore.readLive(spark, store, "prefix")
      .select(col("batch")).distinct().collect().map(_.getString(0)).toSet
    assert(layout == Set("base-g0"), s"unexpected post-fold layout: $layout")
    // The rewrite must not have LOST coverage either: B still pairs
    // with A through the (now stored, re-ranked) prefix, and the whole
    // log matches the batch twin.
    val bDoc = Seq((70L, "aa1 aa2 aa3 xx b1 b2 b3 b4 b5 b6 b7 b8 b9"))
      .toDF("doc_id", "text")
    EventStreams.containmentIncrementBatch(bDoc, 1L, store,
      "doc_id", "text", 3, 5, 4)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("a"), col("b"), col("na"), col("inter"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val streamed = pairSet(EventStreams.containmentStorePairs(spark, store))
    val twin = pairSet(graft.operators.Dedup.containmentPairs(
      base.unionByName(flood).unionByName(bDoc), "doc_id", "text",
      maxPosting = 4))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    assert(streamed.contains((50L, 70L, 10L, 8L)), s"pair lost after rewrite: $streamed")
    assert(streamed == twin,
      s"post-rewrite divergence: ${streamed -- twin} / ${twin -- streamed}")
  }

  test("containmentCompact with a batch above the watermark: its prefix partition survives the rewrite, mixed layout keeps parity") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_scont_cw").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val aTokens = "aa1 aa2 aa3 b1 b2 b3 b4 b5 b6 b7 b8 b9"
    val base = Seq((50L, aTokens), (60L, "b1 b2 b3 b4 b5 b6 b7 b8 b9"))
      .toDF("doc_id", "text")
    val flood = (1L to 5L).map(i =>
      (i, s"aa1 aa2 aa3 f${i}1 f${i}2 f${i}3 f${i}4")).toDF("doc_id", "text")
    val bDoc = Seq((70L, "aa1 aa2 aa3 xx b1 b2 b3 b4 b5 b6 b7 b8 b9"))
      .toDF("doc_id", "text")
    EventStreams.seedContainmentBase(base, "doc_id", "text", store,
      maxPosting = 4)
    EventStreams.containmentIncrementBatch(flood, 0L, store,
      "doc_id", "text", 3, 5, 4)
    EventStreams.containmentIncrementBatch(bDoc, 1L, store,
      "doc_id", "text", 3, 5, 4)
    // major at watermark 0: folds base+b0 ONLY; b1 stays live beside
    // the rewritten generation
    EventStreams.containmentCompact(spark, store, 0L, foldBase = true,
      maxPosting = 4)
    val layout = Seq("docs", "prefix", "pairs").map { sub =>
      sub -> graft.streaming.DedupStore.readLive(spark, store, sub)
        .select(col("batch")).distinct().collect()
        .map(_.getString(0)).toSet
    }.toMap
    assert(layout.values.forall(_ == Set("base-g0", "b1")),
      s"unexpected mixed layout: $layout")
    // a further batch mines against the mixed store; full parity holds
    val cDoc = Seq((80L, "aa1 aa2 aa3 yy b1 b2 b3 b4 b5 b6 b7 b8 b9"))
      .toDF("doc_id", "text")
    EventStreams.containmentIncrementBatch(cDoc, 2L, store,
      "doc_id", "text", 3, 5, 4)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("a"), col("b"), col("na"), col("inter"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val streamed = pairSet(EventStreams.containmentStorePairs(spark, store))
    val twin = pairSet(graft.operators.Dedup.containmentPairs(
      base.unionByName(flood).unionByName(bDoc).unionByName(cDoc),
      "doc_id", "text", maxPosting = 4))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    assert(streamed == twin,
      s"mixed-layout divergence: ${streamed -- twin} / ${twin -- streamed}")
  }

  test("streaming-vs-batch dedup divergence: the base-killed-earlier-batch case fires on exactly the planted doc") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup_d").toFile
    val store = new java.io.File(root, "store").getAbsolutePath
    val ckpt = new java.io.File(root, "ckpt").getAbsolutePath
    // base doc B; batch-1 doc X near-dups B (dies, base wins, leaves
    // no trace in the store); batch-2 doc Y near-dups X but NOT B.
    // Streaming: Y survives (X is gone). Batch over the concatenated
    // increments: {X, Y} form one intra-increment component anchored
    // to base -> Y dies. EventStreams.scala documents this divergence;
    // this pins its exact extent: the planted doc and nothing else.
    // 3-gram shingle math at J>=0.5: J(X,B)=6/8=0.75 (X = B + two
    // words), J(Y,X)=6/10=0.6 (Y = X's tail + middle), J(Y,B)=4/10=0.4
    // — below threshold. 16 bands of 2 rows make both true pairs
    // near-certain LSH candidates (seeded minhash is deterministic;
    // verification is exact so the J=0.4 candidate is rejected).
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val x = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val y = "gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val fill1 = (11L, "independent filler content one two three four five")
    val fill2 = (21L, "more filler prose six seven eight nine ten eleven")
    EventStreams.seedDedupBase(base, "doc_id", "text", store)
    val s = MemoryStream[(Long, String)]
    val q = EventStreams.streamingDedupIncrement(
      s.toDF().toDF("doc_id", "text"), store, ckpt,
      jaccardThreshold = 0.5, bands = 16)
    s.addData((10L, x), fill1)
    q.processAllAvailable()
    s.addData((20L, y), fill2)
    q.processAllAvailable()
    q.stop()
    val streamed = EventStreams.dedupStoreDocs(spark, store)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet -- Set(1L)
    val batch = graft.operators.Dedup.dedupIncrement(base,
        Seq((10L, x), fill1, (20L, y), fill2).toDF("doc_id", "text"),
        "doc_id", "text", jaccardThreshold = 0.5, bands = 16)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // sanity: the scenario actually fired — X died to base in stream
    assert(!streamed.contains(10L), s"X survived, scenario did not fire: $streamed")
    val divergent = (streamed -- batch) ++ (batch -- streamed)
    assert(divergent == Set(20L),
      s"divergence set is not exactly the planted doc: streamed=$streamed batch=$batch")
  }

  test("streaming curation: quality gate + cross-batch near-dup drop + stable split") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    def dts(m: Long) = new Timestamp(base + m * 60000L)
    val stream = MemoryStream[(Long, String, Timestamp)]
    val docs = stream.toDF().toDF("doc_id", "text", "ts")
    val q = EventStreams.curateDocuments(docs)
      .writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    val good = "a perfectly fine document with plenty of tokens"
    stream.addData((1L, good, dts(0)),
      (2L, good.toUpperCase + "!!", dts(1)), // same normalized fp -> dup
      (3L, "too short", dts(2)))             // fails the quality gate
    q.processAllAvailable()
    // a later micro-batch, still inside the watermark: the fp state
    // must drop the re-arrival; fresh content passes
    stream.addData((4L, good + ".", dts(5)), // normText strips '.' -> dup
      (5L, "another acceptable document with enough distinct tokens", dts(6)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("curate_out").select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet == Set(1L, 5L))
    // split tags match the batch funnel's md5-prefix rule exactly
    val batch = EventStreams.curateDocuments(
      Seq((1L, good, dts(0)), (5L, "another acceptable document with enough distinct tokens", dts(6)))
        .toDF("doc_id", "text", "ts"))
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == batch)
  }

  test("statefulSessionize matches the batch q12 lag plan session-for-session on the corpus") {
    // the same event set through BOTH engines: flatMapGroupsWithState
    // and the oracle-backed lag/window plan must produce identical
    // (user, start, end, n) session SETS — this makes the stateful
    // path transitively oracle-backed, not just spec-gated on toys
    val gap = 1800000L
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    val viaState = EventStreams.statefulSessionize(
        events.select(col("user_id"), col("ts"), col("event_type"),
          col("value").cast("double").as("value")).as[EventStreams.Event],
        gapMs = gap)
      .collect().map(s => (s.user_id, s.start_ms, s.end_ms, s.n_events)).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val viaLag = events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev")) > gap, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(unix_millis(col("ts"))).as("start_ms"),
        max(unix_millis(col("ts"))).as("end_ms"),
        count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(viaState.nonEmpty && viaState == viaLag)
  }

  test("batch session query and streaming session_window agree on the corpus") {
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    val viaSessionWindow = EventStreams.sessionWindows(events)
      .groupBy((col("user_id") % 50).as("bucket"))
      .agg(count(lit(1)).as("n_sessions"))
    val viaLag = graft.p6.Queries.all("q12_sessionize")(spark, "/root/testdata/sf0.001")
    val a = viaSessionWindow.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = viaLag.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }
}
