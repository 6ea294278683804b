package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.8/§7.4). The reference
  * has no streaming; these are the §7.4 expansion operators, written so
  * the SAME plan runs batch and streaming: pass a `readStream` source
  * and they stream with watermark semantics; pass a batch DataFrame and
  * `withWatermark` is a no-op, giving the oracle-checkable batch shape.
  */
object EventStreams {

  /** Tumbling event-time windows with a 2h watermark for late data. */
  def windowedCounts(events: DataFrame, windowLen: String = "1 day"): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("day"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap-based sessions via the built-in session_window — merges events
    * separated by less than `gap` into one growing window. Streaming:
    * sessions emit when the watermark passes their close.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Watermarked stream-stream join: purchases attributed to the click
    * that preceded them within `window` per user. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * state is evictable — the canonical funnel/attribution shape.
    * Works identically on batch inputs (watermarks become no-ops).
    */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame,
      window: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    c.join(p, expr(
      s"""c_user = p_user AND
          purchase_ts >= click_ts AND
          purchase_ts <= click_ts + interval $window"""))
  }

  final case class Event(user_id: Long, ts: java.sql.Timestamp,
      event_type: String, value: Double)
  final case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long)
  final case class SessionState(startMs: Long, lastMs: Long, n: Long)

  /** Streaming exact dedup by id with BOUNDED state: duplicates
    * arriving within the watermark window are dropped, and state for
    * ids older than the watermark is evicted (dropDuplicates without
    * the watermark variant would grow state forever — the difference
    * between a demo and a pipeline that survives at scale). Batch
    * inputs get plain dropDuplicates, the oracle-checkable shape.
    */
  def dedupEvents(events: DataFrame, idCols: Seq[String] = Seq("event_id"),
      watermarkDelay: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermarkDelay)
        .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)
    else events.dropDuplicates(idCols)

  /** Left-outer variant of [[clickToPurchase]]: clicks with NO
    * purchase inside the window still emit (null purchase columns) —
    * but only once the watermark proves no match can arrive. The
    * conversion-funnel "abandoned" branch; same state eviction as the
    * inner join.
    */
  def clickToPurchaseOuter(clicks: DataFrame, purchases: DataFrame,
      window: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    c.join(p, expr(
      s"""c_user = p_user AND
          purchase_ts >= click_ts AND
          purchase_ts <= click_ts + interval $window"""), "left_outer")
  }

  /** Materialize a complete-mode streaming aggregate as a parquet
    * SNAPSHOT via foreachBatch — file sinks only support append, so
    * the canonical pattern for "latest totals as a table" is: each
    * micro-batch overwrites the snapshot atomically (write to a fresh
    * subdir would make it fully atomic; overwrite suffices for the
    * single-writer case). Returns the StreamingQuery; read the
    * snapshot path for the current totals.
    */
  def aggregateSnapshot(events: DataFrame, snapshotPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        batch.write.mode("overwrite").parquet(snapshotPath)
      }
      .start()

  final case class UserRunning(user_id: Long, n_events: Long, sum_value: Double)

  /** Arbitrary stateful processing via the Spark 4 transformWithState
    * API (the successor to flatMapGroupsWithState: typed state
    * variables, TTL, timers, RocksDB-backed). Keeps a running per-user
    * (count, sum) across micro-batches and emits the updated totals
    * for users seen in each batch. Requires the RocksDB state store
    * provider on the session.
    */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserRunning] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState}
    import org.apache.spark.sql.{Encoder, Encoders}

    @transient private var totals: ValueState[(Long, Double)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      implicit val enc: Encoder[(Long, Double)] =
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble)
      totals = getHandle.getValueState[(Long, Double)]("totals", enc, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserRunning] = {
      var (n, sum) = if (totals.exists()) totals.get() else (0L, 0.0)
      rows.foreach { e => n += 1; sum += e.value }
      totals.update((n, sum))
      Iterator.single(UserRunning(key, n, sum))
    }
  }

  /** Running per-user totals over a stream (transformWithState). */
  def runningTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor, TimeMode.None(), OM.Update())
  }

  /** Fold this batch's events (sorted by event time) into the open
    * session, emitting every session closed by a gap; returns the
    * still-open trailing session (None only for an empty iterator).
    */
  private def foldSessions(uid: Long, events: Seq[Event], open: Option[SessionState],
      gapMs: Long, out: scala.collection.mutable.ArrayBuffer[SessionOut]): Option[SessionState] = {
    var cur = open
    events.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.lastMs <= gapMs =>
          // a LATE in-gap event (cross-batch, t < lastMs) must not move
          // the session end backwards — that would shrink the session
          // and mistime the streaming timeout; extend start/end instead
          cur = Some(SessionState(math.min(s.startMs, t),
            math.max(s.lastMs, t), s.n + 1))
        case Some(s) =>
          out += SessionOut(uid, s.startMs, s.lastMs, s.n)
          cur = Some(SessionState(t, t, 1))
        case None =>
          cur = Some(SessionState(t, t, 1))
      }
    }
    cur
  }

  /** Custom stateful sessionizer via flatMapGroupsWithState — the
    * KeyValueGroupedDataset escape hatch for session logic the built-in
    * session_window can't express (per-session aggregates, custom close
    * rules).
    *
    * Batch input: each group arrives complete in one call, so the last
    * session closes at end-of-group (oracle-checkable shape).
    *
    * Streaming input: the open session is CARRIED ACROSS micro-batches
    * in GroupState and closed by event-time timeout — when the
    * watermark (event time minus `watermarkDelay`) passes the session's
    * last event plus the gap, the timed-out state emits the session.
    * A later in-gap event instead extends the open session and pushes
    * the timeout forward.
    */
  def statefulSessionize(events: Dataset[Event], gapMs: Long = 1800000L,
      watermarkDelay: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    if (events.isStreaming) {
      events.withWatermark("ts", watermarkDelay)
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[SessionState, SessionOut](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          case (uid, it, state) =>
            if (state.hasTimedOut) {
              val s = state.get
              state.remove()
              Iterator.single(SessionOut(uid, s.startMs, s.lastMs, s.n))
            } else {
              val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
              val cur = foldSessions(uid, it.toSeq.sortBy(_.ts.getTime),
                state.getOption, gapMs, out)
              cur match {
                case Some(s) =>
                  state.update(s)
                  // timeout timestamps must be ahead of the watermark
                  state.setTimeoutTimestamp(
                    math.max(s.lastMs + gapMs, state.getCurrentWatermarkMs + 1))
                case None => state.remove()
              }
              out.iterator
            }
        }
    } else {
      events.groupByKey(_.user_id)
        .flatMapGroupsWithState[SessionState, SessionOut](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          case (uid, it, state) =>
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            val cur = foldSessions(uid, it.toSeq.sortBy(_.ts.getTime),
              None, gapMs, out)
            // the group is complete — close the trailing session
            cur.foreach(s => out += SessionOut(uid, s.startMs, s.lastMs, s.n))
            state.remove()
            out.iterator
        }
    }
  }

  final case class ShardTok(shard: Int, tok: String)
  /** transformWithState value-state schema for streamingHeavyHitters.
    * COMPATIBILITY: adding `updates` (round 8) changed this encoder
    * schema, so checkpoints written by earlier builds fail state-schema
    * validation on restart — discard old checkpoints (or enable state
    * schema evolution where the provider supports it) when upgrading.
    * Any future field change carries the same cost; version markers
    * belong in the checkpoint path, not this case class.
    */
  final case class MgState(toks: Seq[String], counts: Seq[Long],
      updates: Long)
  /** `updates` is a per-shard monotonic state-version counter: sinks
    * that retain every Update-mode emission (e.g. the memory sink)
    * can select each shard's FINAL sketch with max(updates) instead
    * of assuming the sink preserves append order.
    */
  final case class ShardCandidates(shard: Int, candidates: Seq[String],
      retained: Seq[Long], updates: Long)

  /** Streaming Misra-Gries: one k-counter sketch per token shard,
    * carried across micro-batches in transformWithState value state.
    * Each token hashes to exactly ONE shard, so the per-shard
    * guarantee is TIGHTER than the global one: a token with total
    * count > N_shard/(k+1) (<= N/(k+1)) survives in its shard's
    * candidate set. Sharding exists for parallelism — state updates
    * spread over `shards` tasks instead of one global map — and the
    * union of shard candidates is the global candidate superset, at
    * most shards x k strings.
    */
  class HeavyHittersProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, ShardTok, ShardCandidates] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var state: ValueState[MgState] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[MgState]("mg",
        Encoders.product[MgState], TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[ShardTok],
        timerValues: TimerValues): Iterator[ShardCandidates] = {
      val buf = scala.collection.mutable.HashMap.empty[String, Long]
      val version = (if (state.exists()) state.get().updates else 0L) + 1L
      if (state.exists()) {
        val s = state.get()
        s.toks.iterator.zip(s.counts.iterator).foreach { case (t, c) => buf.update(t, c) }
      }
      // classic MG update (same rule as the batch MisraGriesAgg)
      rows.foreach { r =>
        val cur = buf.getOrElse(r.tok, 0L)
        if (cur > 0L || buf.size < k) buf.update(r.tok, cur + 1L)
        else {
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          buf.mapValuesInPlace((_, c) => c - 1L)
          buf.foreach { case (t, c) => if (c <= 0L) dead += t }
          dead.foreach(buf.remove)
        }
      }
      val (toks, counts) = buf.toSeq.sortBy(_._1).unzip
      state.update(MgState(toks, counts, version))
      // retained counts are MG lower bounds (decrements only subtract),
      // and exact while the shard's sketch never overflowed k
      Iterator.single(ShardCandidates(key, toks, counts, version))
    }
  }

  /** Cross-batch streaming frequent tokens: shard each token, keep one
    * Misra-Gries sketch per shard, emit every shard's current
    * candidate set each batch.
    */
  def streamingHeavyHitters(tokens: Dataset[String], k: Int = 64,
      shards: Int = 8): Dataset[ShardCandidates] = {
    import tokens.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    tokens.map(t => ShardTok(math.floorMod(t.hashCode, shards), t))
      .groupByKey(_.shard)
      .transformWithState(new HeavyHittersProcessor(k), TimeMode.None(), OM.Update())
  }

  /** Streaming corpus curation — the batch `corpus_funnel` stages on a
    * document stream (doc_id, text, ts): token-count quality gate,
    * exact near-dup drop on the normalized-text fingerprint bounded by
    * the watermark (evictable state, like [[dedupEvents]]), and the
    * same md5-prefix stable split tag the batch path uses, so a doc
    * lands in the same split whether it arrived by batch or stream.
    * Batch inputs run the identical plan with plain dropDuplicates.
    */
  def curateDocuments(docs: DataFrame, minTokens: Int = 5,
      watermarkDelay: String = "2 hours"): DataFrame = {
    import graft.functions.TextOps
    val gated = docs
      .filter(size(split(trim(col("text")), "\\s+")) >= minTokens)
      .withColumn("fp", md5(TextOps.normText(col("text"))))
    val deduped =
      if (docs.isStreaming)
        gated.withWatermark("ts", watermarkDelay).dropDuplicatesWithinWatermark("fp")
      else gated.dropDuplicates("fp")
    deduped.withColumn("split", TextOps.stableSplit(col("doc_id")))
  }

  final case class BandedSig(band: Int, key: Long, id: Long, sig: Long)
  final case class NearDupPair(a: Long, b: Long, hamming: Int, band: Int)
  final case class BucketMembers(ids: Seq[Long], sigs: Seq[Long])

  /** Per-(band, key) bucket state for [[streamingNearDup]]: the
    * members seen so far, in arrival order, capped at `maxBucket` with
    * the same star degradation as the batch path — a doc arriving at a
    * full bucket is compared against the bucket's min-id
    * REPRESENTATIVE only and not stored, so one degenerate bucket
    * (boilerplate flood) holds <= maxBucket state entries forever and
    * each arrival does <= maxBucket popcounts. The difference from
    * batch `cappedPairs` is arrival-order-shaped: the first maxBucket
    * members pair in full, the tail is star-linked — batch degrades
    * the WHOLE oversized bucket to the star. On buckets that never
    * overflow (every corpus this library pins), the emitted pair set
    * is IDENTICAL to the batch banding.
    */
  class NearDupProcessor(maxDist: Int, maxBucket: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, Long), BandedSig, NearDupPair] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var state: ValueState[BucketMembers] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[BucketMembers]("bucket",
        Encoders.product[BucketMembers], TTLConfig.NONE)

    override def handleInputRows(key: (Int, Long), rows: Iterator[BandedSig],
        timerValues: TimerValues): Iterator[NearDupPair] = {
      // ascending-id processing inside the batch makes the emitted set
      // independent of partition iteration order
      val incoming = rows.toArray.sortBy(_.id)
      val st = if (state.exists()) state.get() else BucketMembers(Nil, Nil)
      val ids = scala.collection.mutable.ArrayBuffer(st.ids: _*)
      val sigs = scala.collection.mutable.ArrayBuffer(st.sigs: _*)
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
      def emit(x: Long, sx: Long, y: Long, sy: Long, band: Int): Unit = {
        val h = java.lang.Long.bitCount(sx ^ sy)
        if (h <= maxDist)
          out += NearDupPair(math.min(x, y), math.max(x, y), h, band)
      }
      incoming.foreach { r =>
        if (!ids.contains(r.id)) { // at-least-once replay guard
          if (ids.length >= maxBucket) {
            val rep = ids.indices.minBy(ids)
            emit(ids(rep), sigs(rep), r.id, r.sig, r.band)
          } else {
            var i = 0
            while (i < ids.length) {
              emit(ids(i), sigs(i), r.id, r.sig, r.band)
              i += 1
            }
            ids += r.id
            sigs += r.sig
          }
        }
      }
      state.update(BucketMembers(ids.toSeq, sigs.toSeq))
      out.iterator
    }
  }

  /** Streaming SimHash near-dup detection — near-dup pairs ON INGEST,
    * the streaming twin of [[graft.operators.Dedup.simhashNearDupPairs]]:
    * each document's 64-bit SimHash (the same codegen'd kernel, a
    * stateless projection) splits into `maxDist + 1` pigeonhole bands;
    * each band's 64/(maxDist+1)-bit key routes the doc to a bucket
    * whose members live in transformWithState value state across
    * micro-batches, so a new document is compared (exact popcount)
    * ONLY against its <= bands x maxBucket bucket peers — never the
    * corpus — and a pair spanning arbitrarily distant micro-batches is
    * still found the moment its second member arrives. Emits each
    * discovered pair once per colliding band (Append mode — pairs
    * never retract); distinct (a, b, hamming) downstream for the pair
    * set. State is bounded by corpus distinct-signature volume exactly
    * like the batch banding's shuffle, and per-bucket by `maxBucket`;
    * a production deployment working over an unbounded stream would
    * add TTL eviction (accepting recall loss against evicted history)
    * — the same trade `dedupEvents` makes with its watermark.
    * StreamingSpec pins the multi-batch pair set == the batch
    * formulation token-for-token, planted cross-batch dups included.
    */
  /** Seed the persisted incremental-dedup store with an
    * already-deduped base corpus: survivors' (id, text) and their
    * MinHash signatures land under `batch=base` partition dirs, the
    * layout [[streamingDedupIncrement]] grows batch by batch. The
    * signature parquet is what makes increments cheap: each
    * micro-batch only signatures ITS OWN docs and joins base state
    * through the banded bucket index, never the base text (the
    * [[graft.operators.Dedup.dedupIncrement]] baseSigs contract).
    */
  def seedDedupBase(base: DataFrame, idCol: String, textCol: String,
      storeDir: String, shingleLen: Int = 3, numPerm: Int = 32): Unit = {
    val docs = base.select(col(idCol), col(textCol))
    docs.write.mode("overwrite").parquet(s"$storeDir/docs/batch=base")
    graft.operators.Dedup
      .minhashSignaturesFast(docs, idCol, textCol, shingleLen, numPerm)
      .write.mode("overwrite").parquet(s"$storeDir/sigs/batch=base")
  }

  /** The deduped corpus so far: every LIVE batch partition of the
    * store (seed base or consolidated base, plus each uncompacted
    * micro-batch's survivors), with the `batch` partition column kept
    * for provenance. Liveness comes from [[DedupStore]]'s manifest so
    * a crashed-mid-compaction store reads exactly as before the
    * attempt.
    */
  def dedupStoreDocs(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    DedupStore.readLive(spark, storeDir, "docs")

  /** One micro-batch of [[streamingDedupIncrement]], factored out so
    * specs can drive it directly. IDEMPOTENT under at-least-once
    * replay: outputs go to DETERMINISTIC per-batch partition dirs
    * (`batch=b<id>`) with overwrite mode, and the base read EXCLUDES
    * the current batch id — a replayed batch overwrites its own
    * partial output instead of double-appending or self-deduping.
    */
  private[graft] def dedupIncrementBatch(batch: DataFrame, batchId: Long,
      storeDir: String, idCol: String, textCol: String,
      jaccardThreshold: Double, shingleLen: Int, numPerm: Int,
      bands: Int, maxBucket: Int): Unit = {
    val spark = batch.sparkSession
    val part = s"b$batchId"
    // A FRESH checkpoint on an EXISTING compacted store restarts batch
    // ids at 0 — and the old manifest may have tombstoned those names
    // when it folded them, which would make this batch's output
    // silently invisible to every reader (data loss, no error). Refuse
    // loudly instead: the operator cannot tell new-b0 from replayed-b0,
    // only the caller can (new storeDir, or keep the checkpoint).
    val (_, dead) = DedupStore.manifest(spark, storeDir)
    require(!dead(part),
      s"batch partition '$part' is tombstoned in $storeDir's manifest: " +
        "this stream is writing batch ids the store already compacted " +
        "away (fresh checkpoint over an existing store?). Use a new " +
        "storeDir or restart from the original checkpoint.")
    val baseDocs = DedupStore.readLive(spark, storeDir, "docs")
      .filter(col("batch") =!= part)
      .select(col(idCol), col(textCol))
    val baseSigs = DedupStore.readLive(spark, storeDir, "sigs")
      .filter(col("batch") =!= part)
      .select(col("id"), col("sig"))
    val survivors = graft.operators.Dedup.dedupIncrement(
        baseDocs, batch.select(col(idCol), col(textCol)), idCol, textCol,
        jaccardThreshold, shingleLen, numPerm, bands, maxBucket,
        baseSigs = Some(baseSigs),
        // a micro-batch is trigger-bounded: prune the store's bucket
        // table to the batch's (band, key) set map-side (r16 VERDICT
        // #3) instead of window-sorting every store bucket per batch
        incrementBounded = true)
      .persist() // written twice (docs + sigs); run the verify once
    try {
      survivors.write.mode("overwrite")
        .parquet(s"$storeDir/docs/batch=$part")
      graft.operators.Dedup
        .minhashSignaturesFast(survivors, idCol, textCol, shingleLen, numPerm)
        .write.mode("overwrite").parquet(s"$storeDir/sigs/batch=$part")
    } finally { survivors.unpersist(false); () }
  }

  /** CONTINUOUS incremental near-dup dedup — the Structured Streaming
    * shape of the batch [[graft.operators.Dedup.dedupIncrement]] +
    * WarmStore pair (periodic ingestion's production form, VERDICT r12
    * #5): each micro-batch is an increment resolved against the
    * persisted store with base-wins semantics, and its SURVIVORS (and
    * their signatures) become base for every later micro-batch. Doc
    * death rules per batch are exactly the batch operator's: near-dup
    * of any store doc ⇒ dies (base wins); within the micro-batch, min
    * id wins via connected components.
    *
    * Equivalence with ONE batch dedupIncrement over the concatenated
    * increments holds whenever cross-micro-batch near-dup chains pass
    * through SURVIVORS (StreamingSpec pins it, planted cross-batch
    * dups included). The one divergence, inherent to continuous
    * resolution: an increment doc whose ONLY near-dup is a
    * base-killed doc from an EARLIER micro-batch survives here (the
    * dead doc left no trace in the store), while the batch operator —
    * which builds intra-increment components before the anti join —
    * would kill it. Continuous semantics are the production contract;
    * the store never contains two near-dups either way.
    *
    * Restart-safe: the checkpoint replays the last uncommitted batch
    * into [[dedupIncrementBatch]]'s deterministic overwrite dirs
    * (idempotent), and committed batches never re-fire.
    */
  def streamingDedupIncrement(docs: DataFrame, storeDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", jaccardThreshold: Double = 0.7,
      shingleLen: Int = 3, numPerm: Int = 32, bands: Int = 8,
      maxBucket: Int = graft.operators.Dedup.DefaultMaxBucket,
      compactEvery: Option[Int] = None,
      minorEvery: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        dedupIncrementBatch(batch, batchId, storeDir, idCol, textCol,
          jaccardThreshold, shingleLen, numPerm, bands, maxBucket)
        // Periodic in-stream compaction: every k-th micro-batch folds
        // the COMMITTED prefix (ids < batchId — the current batch is
        // still uncommitted while foreachBatch runs, so it is never
        // folded and its replay stays idempotent). `compactEvery` is
        // the MAJOR cadence (full fold into one base — O(store)
        // rewrite, run it rarely); `minorEvery` the MINOR one
        // (batches-only fold into a delta — O(new data), the
        // steady-state cadence at continuous-ingestion scale). When
        // both fire on the same batch the major wins. Both key off
        // batchId alone, so a replayed batch re-runs the SAME
        // compaction (idempotent per the DedupStore manifest
        // protocol); crash anywhere inside is the protocol's pinned
        // crash window.
        val major = compactEvery.exists(k => batchId > 0 && batchId % k == 0)
        val minor = minorEvery.exists(k => batchId > 0 && batchId % k == 0)
        if (major || minor)
          DedupStore.compact(batch.sparkSession, storeDir, batchId - 1,
            foldBase = major)
      }
      .start()

  /** Seed the persisted incremental-CONTAINMENT store: the base
    * corpus's sorted shingle sets land under `docs/batch=base`, its
    * PPJoin prefix rows (the floor(n/5)+1 rarest shingles per doc,
    * see [[graft.operators.Dedup.containmentPrefixRows]]) under
    * `prefix/batch=base`, and (unless `minePairs = false`) the base
    * corpus's own containment pairs, mined by the batch operator's
    * core over the same shingle table and df aggregate, under
    * `pairs/batch=base`. The persisted prefix is what makes
    * increments cheap: each micro-batch joins the STORED index rows
    * against its own postings instead of re-ranking every store doc's
    * shingles per batch.
    *
    * `postings/batch=base` holds the base's PRE-EXPLODED posting rows
    * (g, doc_id, nsh), range-partitioned and sorted by g: each
    * micro-batch's store-side prune reads this flat sub instead of
    * re-exploding every store doc's shingle array — at the 500k-doc
    * tier the re-explode was 4.2 s of an 8.7 s batch. Store parameters
    * persist to `containment-meta.txt` ([[containmentMeta]]) so
    * compactions resolve the stream's maxPosting instead of trusting a
    * caller default.
    *
    * Two more TINY subs carry the cross-batch bookkeeping that keeps
    * each increment's cost bounded by the batch, not the store:
    *   - `hot/batch=base` — the CUMULATIVE hot-shingle set (df >
    *     maxPosting). Exact by construction and monotone forever
    *     after: df only grows, and a shingle can only cross the cap
    *     in a batch that contains it, so each batch appends exactly
    *     its newly-hot shingles.
    *   - `stale/batch=base` — store docs whose STORED prefix lost a
    *     row to a shingle that went hot after ingestion. Empty at seed
    *     by construction: seed prefixes are ranked against the seed
    *     df, so already-hot shingles rank LAST and displace no cold
    *     row.
    */
  def seedContainmentBase(base: DataFrame, idCol: String, textCol: String,
      storeDir: String, shingleLen: Int = 3, minShingles: Int = 5,
      maxPosting: Int = graft.operators.Dedup.DefaultMaxPosting,
      minePairs: Boolean = true): Unit = {
    import graft.operators.Dedup
    val MAD = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sh = Dedup.containmentShingles(base, idCol, textCol,
        shingleLen, minShingles).persist(MAD)
    try {
      sh.write.mode("overwrite").parquet(s"$storeDir/docs/batch=base")
      containmentPostingsOf(sh, sorted = true)
        .write.mode("overwrite").parquet(s"$storeDir/postings/batch=base")
      val stats = Dedup.containmentShingleStats(Dedup.containmentPostings(sh))
        .persist(MAD)
      try {
        Dedup.containmentPrefixRows(sh, stats)
          .write.mode("overwrite").parquet(s"$storeDir/prefix/batch=base")
        stats.filter(col("df") > maxPosting).select(col("g"))
          .write.mode("overwrite").parquet(s"$storeDir/hot/batch=base")
        sh.select(col("doc_id")).limit(0)
          .write.mode("overwrite").parquet(s"$storeDir/stale/batch=base")
        if (minePairs)
          Dedup.containmentPairsOf(sh, stats, maxPosting)
            .write.mode("overwrite").parquet(s"$storeDir/pairs/batch=base")
      } finally { stats.unpersist(false); () }
      writeContainmentMeta(base.sparkSession, storeDir, maxPosting)
    } finally { sh.unpersist(false); () }
  }

  /** The pre-exploded posting rows (g, doc_id, nsh) of a shingle-set
    * df — the `postings` store sub's row shape. With `sorted` (seed
    * bases and major folds), rows are range-partitioned and sorted by
    * g so each parquet file covers a narrow g range and row-group
    * min/max stats carry real pruning power for g-bounded readers;
    * per-batch deltas sort locally only (batch-sized files — a range
    * shuffle would cost more than it prunes).
    */
  private[graft] def containmentPostingsOf(sh: DataFrame,
      sorted: Boolean): DataFrame = {
    val posts = graft.operators.Dedup.containmentPostings(sh)
      .select(col("g"), col("doc_id"), col("nsh"))
    if (sorted) posts.repartitionByRange(col("g")).sortWithinPartitions("g")
    else posts.sortWithinPartitions("g")
  }

  /** Persisted store parameters (`containment-meta.txt`, r17 ADVICE:
    * the hot-set bookkeeping is cap-dependent and CUMULATIVE, so every
    * writer — stream batches and compactions alike — must use the cap
    * the store was seeded with; a silent default mismatch corrupts
    * hotness invisibly). Written at seed time; absent on stores seeded
    * before r18 (those accept the caller's cap unvalidated).
    */
  private[graft] def containmentMeta(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Option[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$storeDir/containment-meta.txt")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList
      finally in.close()
      lines.collectFirst {
        case l if l.startsWith("maxPosting=") =>
          l.stripPrefix("maxPosting=").trim.toInt
      }
    }
  }

  private def writeContainmentMeta(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, maxPosting: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$storeDir/containment-meta.txt")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(p, true)
    try out.write(s"maxPosting=$maxPosting\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** Sentinel for [[containmentCompact]]'s `maxPosting`: resolve the
    * cap from the store's persisted meta instead of trusting a
    * caller-side default.
    */
  val UseStoreMaxPosting: Int = Int.MinValue

  /** Broadcast ceiling for the batch's distinct-shingle set (r17
    * ADVICE): the map-side store prune broadcasts it, which is safe
    * only while micro-batches are source-rate-limited. An unbounded
    * first batch (availableNow backfill without maxFilesPerTrigger /
    * maxOffsetsPerTrigger) could blow the driver where the old
    * unpruned plan merely ran slow — past this many distinct shingles
    * (~32 MB of longs; the hashed-relation blowup stays well under
    * the 8 GB broadcast hard cap) the prune falls back to a
    * shuffle-hash semi join: the store side shuffles O(its postings)
    * once, exactly the pre-r17 degradation shape, and the batch still
    * completes.
    */
  private[graft] val MaxBroadcastShingles: Long = 4000000L

  /** Format/compatibility gate run before every store read-write cycle:
    *   - `hot`/`stale` subs absent → the store predates the r17
    *     format; its prefix ranking may already have drifted from the
    *     hotness bookkeeping these subs carry, so there is nothing
    *     safe to backfill from — fail actionably (r17 ADVICE) instead
    *     of surfacing DedupStore.readLive's raw path-not-found.
    *   - `postings` partitions missing for live docs partitions →
    *     backfilled HERE, one deterministic write per missing part
    *     (identical to what the original writer would have produced,
    *     so a concurrent replay overwriting the same dir converges).
    *     This migrates r17-format stores in place and also repairs a
    *     store whose writer crashed between the docs and postings
    *     writes of one batch.
    *   - persisted meta cap (r18+) ≠ the caller's cap → fail: hot
    *     bookkeeping under two caps is silent corruption.
    */
  private[graft] def ensureContainmentStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String, maxPosting: Int): Unit = {
    containmentMeta(spark, storeDir).foreach { cap =>
      require(cap == maxPosting,
        s"containment store $storeDir was seeded with maxPosting=$cap " +
          s"but this caller passed $maxPosting: the hot-set bookkeeping " +
          "is cumulative per cap — pass the store's cap, or reseed via " +
          "seedContainmentBase to change it.")
    }
    val f = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (sub <- Seq("hot", "stale"))
      if (!f.exists(new org.apache.hadoop.fs.Path(s"$storeDir/$sub")))
        throw new IllegalStateException(
          s"containment store $storeDir has no '$sub' sub: it predates " +
            "the r17 store format (hot/stale hotness bookkeeping). Its " +
            "prefix ranking cannot be trusted against a backfilled hot " +
            "set — reseed via seedContainmentBase.")
    val docParts = DedupStore.liveParts(spark, storeDir).toSet
    val postParts = docParts.filter(p => f.exists(
      new org.apache.hadoop.fs.Path(s"$storeDir/postings/batch=$p")))
    for (p <- (docParts -- postParts).toSeq.sorted) {
      containmentPostingsOf(
          spark.read.parquet(s"$storeDir/docs/batch=$p")
            .select(col("doc_id"), col("sh")),
          sorted = p == "base" || p.startsWith("base-g"))
        .write.mode("overwrite").parquet(s"$storeDir/postings/batch=$p")
    }
  }

  /** All containment pairs mined so far: the live `pairs` log (seed
    * batch + one partition per micro-batch). On an organic corpus the
    * union over batches equals the batch operator run once on the
    * concatenated corpus (StreamingSpec pins it token-for-token) —
    * containment mines PAIRS without doc death, so unlike incremental
    * dedup there is no ordering divergence to inherit.
    */
  def containmentStorePairs(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    DedupStore.readLive(spark, storeDir, "pairs")

  /** One micro-batch of [[streamingContainment]]: mine every
    * containment pair TOUCHING the new docs — a in new vs anyone
    * (both directions of the prefix join), a in store vs b in new via
    * the PERSISTED prefix index — with the candidate-and-verify core
    * of [[graft.operators.Dedup.containmentPairs]], then append the
    * batch's shingles, postings, prefix rows, newly-hot shingles and
    * newly-stale doc ids to the store. Idempotent under replay exactly
    * as [[dedupIncrementBatch]]: deterministic per-batch partition
    * dirs, overwrite mode, every base read excludes the current batch
    * id. Doc ids must be unique across the store and the batch (the
    * core's verify precondition).
    *
    * COST SHAPE: everything keyed is bounded by the BATCH, not the
    * store. The store contributes per batch only map-side columnar
    * scans — the persisted `postings` sub (g, doc_id, nsh; g-sorted in
    * consolidated generations) semi-pruned against this batch's
    * distinct shingles (a shingle can only form a pair with a batch
    * doc if the batch contains it), the prefix sub semi-pruned the
    * same way, and the tiny hot/stale subs. Shuffled volume is
    * O(postings matching the batch's shingles), so per-batch time
    * grows with scan bandwidth, not with store-sized shuffles —
    * ContainmentStreamGate's chain mode pins the 1x-vs-10x-store
    * ratio. HONEST LIMITS of the scan terms that remain linear in
    * store size: (1) the postings semi join still scans every row
    * group whose g range can match the batch — with hashed shingles
    * the batch's g set spans the space, so in practice the whole flat
    * (g, doc_id, nsh) sub is read each batch, just without array
    * decode or a Generate; (2) the verify reads the docs sub once to
    * look up candidate endpoints' shingle sets. Both are flat columnar
    * reads at scan bandwidth; at a store size where even that
    * dominates, the lever is compaction cadence + a coarse g-bucketing
    * of the postings generation, not this operator. The batch's
    * distinct-shingle set is the one broadcast of corpus-derived
    * data; it is bounded by the micro-batch (the trigger interval /
    * source rate limit controls it), and past [[MaxBroadcastShingles]]
    * the prune degrades to a shuffle-hash semi join instead of
    * risking the driver.
    *
    * EXACTNESS of the pruned df: the pruned postings still contain
    * EVERY store posting of each batch shingle, so per-shingle totals
    * and min-id representatives computed from them are exact — and
    * since df only grows and only via batches containing the shingle,
    * the persisted `hot` sub plus this batch's totals give the exact
    * global hot set wherever it matters (a shingle outside the batch
    * cannot route any of this batch's pairs).
    *
    * Pair-set completeness across batches: a pair lands in exactly
    * the batch its LATER doc arrives in (new-vs-new and new-vs-store
    * both orientations are mined; store-vs-store pairs were mined
    * when the younger side arrived). The hot-posting star tier pairs
    * new hot members with the current min-id representative. The one
    * divergence from the batch operator, inherent to incremental
    * resolution on a DEGENERATE corpus: members that arrived before
    * the eventual min-id representative stay linked to the
    * representative current at their arrival (the audit trail is
    * [[graft.operators.Dedup.hotPostingReport]] over the store).
    * Organic corpora (empty hot set) have exact twin parity. A second
    * potential divergence — a stored prefix shrinking below the
    * lossless floor(n/5)+1 bound when its shingles go hot AFTER
    * ingestion — is CLOSED by the stale-prefix refresh below.
    */
  private[graft] def containmentIncrementBatch(batch: DataFrame,
      batchId: Long, storeDir: String, idCol: String, textCol: String,
      shingleLen: Int, minShingles: Int, maxPosting: Int): Unit = {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val part = s"b$batchId"
    val (_, dead) = DedupStore.manifest(spark, storeDir)
    require(!dead(part),
      s"batch partition '$part' is tombstoned in $storeDir's manifest: " +
        "this stream is writing batch ids the store already compacted " +
        "away (fresh checkpoint over an existing store?). Use a new " +
        "storeDir or restart from the original checkpoint.")
    ensureContainmentStore(spark, storeDir, maxPosting)
    val MAD = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val newSh = Dedup.containmentShingles(batch, idCol, textCol,
        shingleLen, minShingles).persist(MAD)
    val storeSh = DedupStore.readLive(spark, storeDir, "docs")
      .filter(col("batch") =!= part).select(col("doc_id"), col("sh"))
    val postsNew = Dedup.containmentPostings(newSh)
    val newG = postsNew.select(col("g")).distinct()
    // Batch-shingle prune, broadcast up to MaxBroadcastShingles (the
    // count is a batch-bounded job over the persisted newSh), else the
    // graceful shuffle-hash fallback — see the scaladoc.
    val pruneToBatch: DataFrame => DataFrame =
      if (newG.count() <= MaxBroadcastShingles)
        _.join(broadcast(newG), Seq("g"), "left_semi")
      else
        _.join(newG.hint("shuffle_hash"), Seq("g"), "left_semi")
    // Store postings pruned MAP-SIDE to the batch's shingles: read
    // from the persisted pre-exploded `postings` sub (no per-batch
    // array decode or Generate over the store), the semi drops every
    // posting that cannot touch this batch, and only the survivors
    // (all store postings of the batch's shingles — the exactness
    // contract above) are ever shuffled or cached.
    val postsStore = pruneToBatch(
        DedupStore.readLive(spark, storeDir, "postings")
          .filter(col("batch") =!= part)
          .select(col("doc_id"), col("nsh"), col("g")))
      .persist(MAD)
    // Exact per-shingle totals + min-id representatives for every
    // shingle in the batch (the only shingles any of this batch's
    // tiers can route on).
    val aggAll = Dedup.containmentShingleStats(postsStore.unionByName(postsNew))
      .persist(MAD)
    try {
      val hotTab = aggAll.filter(col("df") > maxPosting)
      val hotPrior = DedupStore.readLive(spark, storeDir, "hot")
        .filter(col("batch") =!= part).select(col("g")).distinct()
      val newlyHot = hotTab.select(col("g"))
        .join(hotPrior, Seq("g"), "left_anti").persist(MAD)
      // Store prefix rows pruned to the batch's shingles — serves both
      // the cold store-vs-new join and the stale probe (newly-hot
      // shingles are batch shingles by the monotonicity argument).
      val storePrefix = pruneToBatch(
          DedupStore.readLive(spark, storeDir, "prefix")
            .filter(col("batch") =!= part)
            .select(col("a"), col("nsha"), col("g")))
        .persist(MAD)
      // STALE-PREFIX bookkeeping: a stored prefix row whose shingle
      // crossed df > maxPosting AFTER its ranking leaves the cold join
      // for the star tier, and the doc's surviving cold prefix can
      // fall below the lossless floor(n/5)+1 bound — a (store, new)
      // pair sharing only cold shingles outside the reduced prefix
      // would be silently missed. Displacement can only be CAUSED by a
      // shingle in the batch that made it hot (prefixes written later
      // rank it last), so the probe runs ONLY when this batch made
      // something newly hot — organic batches (empty hot delta) touch
      // no prefix row for it — and its hits are PERSISTED to the
      // `stale` sub so later batches read the tiny cumulative list
      // instead of re-probing. A MAJOR containmentCompact re-ranks the
      // folded prefix generation and resets the list.
      val staleDelta =
        (if (newlyHot.isEmpty)
          storePrefix.select(col("a").as("doc_id")).limit(0)
        else storePrefix.join(broadcast(newlyHot), Seq("g"))
          .select(col("a").as("doc_id")).distinct())
        .persist(MAD)
      newlyHot.write.mode("overwrite").parquet(s"$storeDir/hot/batch=$part")
      staleDelta.write.mode("overwrite")
        .parquet(s"$storeDir/stale/batch=$part")
      val staleAll = DedupStore.readLive(spark, storeDir, "stale")
        .filter(col("batch") =!= part).select(col("doc_id"))
        .unionByName(staleDelta).distinct()
        .persist(MAD)
      // Re-rank stale docs' prefixes with every currently-hot shingle
      // ranked LAST (df = cap+1; absent shingles coalesce to 0): the
      // resulting floor(n/5)+1 prefix keeps a maximal cold subset,
      // which is all the lossless pigeonhole argument needs — exact
      // per-shingle df would only reorder COLD shingles among
      // themselves, changing candidate fan-out, never coverage. That
      // keeps the refresh free of any store-sized aggregate; extra
      // candidates are verified away.
      //
      // The stale list is counted once (it is persisted and reused)
      // and broadcast into the semi join when bounded: on the 5M-doc
      // planted gate a shuffle-hash semi re-shuffled the whole docs sub
      // whenever the probe fired (182.9 s vs 64.6 s organic). The
      // shuffle-hash fallback covers the contractually-unbounded
      // degenerate corpus; the corpus side is never the build side.
      val nStale = staleAll.count()
      val refreshedPrefix =
        if (nStale == 0L) None
        else {
          val staleSh =
            if (nStale <= MaxBroadcastShingles)
              storeSh.join(broadcast(staleAll), Seq("doc_id"), "left_semi")
            else storeSh.join(staleAll.hint("shuffle_hash"),
              Seq("doc_id"), "left_semi")
          val hotRank = hotPrior.unionByName(newlyHot)
            .withColumn("df", lit((maxPosting + 1).toLong))
          Some(Dedup.containmentPrefixRows(staleSh, hotRank))
        }
      val prefixNew = Dedup.containmentPrefixRows(newSh,
          aggAll.select(col("g"), col("df")))
        .persist(MAD)
      val storeSide = refreshedPrefix.fold(storePrefix)(storePrefix.unionByName(_))
      // Candidates persisted + counted ONCE: the count both feeds the
      // verify (reuse instead of recomputing the candidate joins) and
      // decides its corpus-prune shape — 2 endpoints per candidate,
      // same broadcast ceiling as the shingle prune. Past the ceiling
      // the verify falls back to the unpruned store-sized merge sort.
      val cand = Dedup.containmentCandidates(
          Seq(prefixNew -> postsStore.unionByName(postsNew), // a in NEW vs anyone
            storeSide -> postsNew),                          // a in STORE vs NEW
          postsNew, hotTab)
        .persist(MAD)
      try {
        Dedup.containmentVerify(storeSh.unionByName(newSh), cand,
            pruneCorpus = 2L * cand.count() <= MaxBroadcastShingles)
          .write.mode("overwrite").parquet(s"$storeDir/pairs/batch=$part")
        newSh.write.mode("overwrite").parquet(s"$storeDir/docs/batch=$part")
        containmentPostingsOf(newSh, sorted = false)
          .write.mode("overwrite").parquet(s"$storeDir/postings/batch=$part")
        prefixNew.write.mode("overwrite")
          .parquet(s"$storeDir/prefix/batch=$part")
      } finally {
        cand.unpersist(false)
        prefixNew.unpersist(false); staleDelta.unpersist(false)
        staleAll.unpersist(false)
        storePrefix.unpersist(false); newlyHot.unpersist(false); ()
      }
    } finally {
      aggAll.unpersist(false); postsStore.unpersist(false)
      newSh.unpersist(false); ()
    }
  }

  /** CONTINUOUS incremental containment mining — the Structured
    * Streaming shape of [[graft.operators.Dedup.containmentPairs]]
    * (r14 VERDICT #6): each micro-batch mines every containment pair
    * touching its docs against the persisted shingle+prefix store and
    * appends its own shingles/postings/prefix for later batches. The
    * live `pairs` log ([[containmentStorePairs]]) is the complete pair
    * set so far. Same checkpoint/replay and compaction story as
    * [[streamingDedupIncrement]] (compaction folds
    * docs+postings+prefix+pairs in lockstep through the shared
    * manifest protocol).
    *
    * SOURCE RATE LIMIT: size micro-batches with the source's trigger
    * bound (maxFilesPerTrigger / maxOffsetsPerTrigger) — per-batch
    * memory and the store-prune broadcast are bounded by the batch's
    * distinct shingles. An unbounded backfill batch will not kill the
    * driver (past [[MaxBroadcastShingles]] the prune falls back to a
    * shuffle-hash semi join) but runs at the unpruned pre-r17 cost
    * shape; rate-limit the source instead.
    */
  def streamingContainment(docs: DataFrame, storeDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", shingleLen: Int = 3, minShingles: Int = 5,
      maxPosting: Int = graft.operators.Dedup.DefaultMaxPosting,
      compactEvery: Option[Int] = None, minorEvery: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        containmentIncrementBatch(batch, batchId, storeDir, idCol, textCol,
          shingleLen, minShingles, maxPosting)
        val major = compactEvery.exists(k => batchId > 0 && batchId % k == 0)
        val minor = minorEvery.exists(k => batchId > 0 && batchId % k == 0)
        if (major || minor)
          containmentCompact(batch.sparkSession, storeDir, batchId - 1,
            foldBase = major, maxPosting = maxPosting)
      }
      .start()

  /** Containment-aware compaction: [[DedupStore.compact]] over
    * docs+postings+prefix+pairs+hot+stale, with a MAJOR fold's
    * generations REWRITTEN from the folded docs:
    *   - `postings` re-exploded from the folded docs, range-
    *     partitioned and sorted by g — one consolidated, g-clustered
    *     generation replaces the accumulated locally-sorted per-batch
    *     deltas (r17 VERDICT #3).
    *   - `prefix` re-ranked against the folded df — permanently
    *     erasing stale prefix rows (shingles gone hot since
    *     ingestion). Lossless by the pigeonhole argument (any
    *     floor(n/5)+1 prefix is complete) and deterministic given the
    *     folded docs (the publish protocol's rename-race safety needs
    *     that).
    *   - `hot` recomputed exactly from the folded df, at the cap the
    *     store was SEEDED with: `maxPosting` defaults to
    *     [[UseStoreMaxPosting]], which resolves from the store's
    *     persisted meta — so an out-of-band fold can no longer
    *     silently rewrite hotness under a default cap the stream
    *     never ran (r17 ADVICE). An explicit value must match the
    *     meta when the meta exists.
    *   - `stale` emptied: the re-ranked prefix displaces nothing, so
    *     the per-batch refresh list resets. Residual unfolded batches
    *     (> upToBatchId) keep their own partitions — their stale rows
    *     may still name folded docs, which costs a harmless no-op
    *     refresh until the next major fold.
    * Minor folds pass docs/postings/prefix/pairs through unchanged
    * (re-ranking a delta's docs against only their own df would be
    * valid but cleans nothing global) and just dedup the tiny
    * hot/stale rows.
    */
  def containmentCompact(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, upToBatchId: Long, foldBase: Boolean,
      maxPosting: Int = UseStoreMaxPosting): Unit = {
    val cap =
      if (maxPosting == UseStoreMaxPosting)
        containmentMeta(spark, storeDir).getOrElse(throw
          new IllegalArgumentException(
            s"containment store $storeDir carries no persisted " +
              "maxPosting (seeded before r18) — pass the cap the " +
              "stream runs with explicitly."))
      else maxPosting
    ensureContainmentStore(spark, storeDir, cap)
    val dedupRows: (String, DataFrame) => DataFrame =
      (_, folded) => folded.distinct()
    val rewrite: Map[String, (String, DataFrame) => DataFrame] =
      if (!foldBase) Map("hot" -> dedupRows, "stale" -> dedupRows)
      else Map(
        "postings" -> { (gen, _) =>
          containmentPostingsOf(
            spark.read.parquet(s"$storeDir/docs/batch=$gen")
              .select(col("doc_id"), col("sh")),
            sorted = true)
        },
        "prefix" -> { (gen, _) =>
          val docs = spark.read.parquet(s"$storeDir/docs/batch=$gen")
            .select(col("doc_id"), col("sh"))
          val dfByG = docs.select(explode(col("sh")).as("g"))
            .groupBy(col("g")).agg(count(lit(1)).as("df"))
          graft.operators.Dedup.containmentPrefixRows(docs, dfByG)
        },
        "hot" -> { (gen, _) =>
          spark.read.parquet(s"$storeDir/docs/batch=$gen")
            .select(explode(col("sh")).as("g"))
            .groupBy(col("g")).agg(count(lit(1)).as("df"))
            .filter(col("df") > cap).select(col("g"))
        },
        "stale" -> ((_, folded) => folded.limit(0)))
    DedupStore.compact(spark, storeDir, upToBatchId, foldBase,
      subs = Seq("docs", "postings", "prefix", "pairs", "hot", "stale"),
      rewrite = rewrite)
  }

  def streamingNearDup(docs: DataFrame, maxDist: Int = 3,
      maxBucket: Int = graft.operators.Dedup.DefaultMaxBucket)
      : Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    val bands = maxDist + 1
    require(64 % bands == 0, s"maxDist+1 must divide 64 (got $bands bands)")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sigs = docs.select(col("doc_id").cast("long").as("id"),
      graft.functions.VectorExpressions.simhash64(
        graft.operators.Dedup.tokens(col("text"))).as("sig"))
    sigs.select(col("id"), col("sig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("sig"), b * width).bitwiseAND(mask)
              .as("key"))): _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"),
        col("id"), col("sig"))
      .as[BandedSig]
      .groupByKey(r => (r.band, r.key))
      .transformWithState(new NearDupProcessor(maxDist, maxBucket),
        TimeMode.None(), OM.Append())
  }
}
