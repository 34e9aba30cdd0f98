package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.core.Buffers
import graft.operators.TextAnalysis
import graft.sources.PersistedIndex
import graft.sources.PersistedIndex.{readStore, writeBatchIdempotent}

/** Structured Streaming surface (SURVEY §2.8 T1–T10, S12–S13, K6).
  *
  * The reference's DStream programs (`304-streaming/spark/src/main/scala/
  * ExerciseNetcat.scala`, `ExerciseKafka.scala`) are re-expressed as
  * unbounded DataFrames: every transform below is a plain
  * DataFrame→DataFrame function, so it runs identically on a batch frame
  * (unit tests, backfills) and on a stream — and the SAME operator
  * library (TextAnalysis tokenizer etc.) serves both. State management
  * (running counts, running averages) is the engine's incremental
  * aggregation or an explicit `GroupState`, not hand-rolled
  * `updateStateByKey` closures; recovery comes from the checkpoint
  * contract (T4) instead of manual restart logic.
  */
object Streams {

  // ------------------------------------------------------------ sources

  /** S12: socket text source (`ExerciseNetcat.scala:37`). Dev/debug only —
    * a socket has no replay, so exactly-once does not hold across restart.
    */
  def socketLines(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream
      .format("socket")
      .option("host", host).option("port", port)
      .load()

  /** S1-as-stream: file-arrival text source — each new file in `dir` is a
    * micro-batch; fully replayable, so checkpoint recovery (T4) is exact.
    */
  def fileLines(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream
    (if (maxFilesPerTrigger > 0)
      r.option("maxFilesPerTrigger", maxFilesPerTrigger)
    else r).text(dir)
  }

  /** S13: Kafka source (`ExerciseKafka.scala:51-55`) — value bytes decoded
    * to string. Requires the spark-sql-kafka connector jar on the
    * classpath (not bundled in this container).
    */
  def kafkaLines(spark: SparkSession, servers: String, topic: String,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(col("value").cast("string").as("value"))

  // --------------------------------------------------------- transforms

  /** T2/T3: per-batch word counts — stateless; each micro-batch is
    * counted independently (`ExerciseNetcat.scala:44-55`). Append-safe.
    */
  def batchWordCounts(lines: DataFrame): DataFrame =
    lines.select(explode(TextAnalysis.tokens(col("value"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** T5: running word counts across ALL batches — the engine's
    * incremental stateful aggregation replaces `updateStateByKey`
    * (`ExerciseNetcat.scala:91-109`). Emit with Update/Complete mode.
    */
  def runningWordCounts(lines: DataFrame): DataFrame =
    batchWordCounts(lines)

  // NOTE: a state-v2 twin of T5 (`transformWithState` + ValueState with
  // declarative TTL) was built and reverted: Spark 4.1.2's
  // TransformWithStateExecBase eagerly initializes PythonSQLMetrics at
  // exec-node construction, which NPEs (null SparkPlan.session) on the
  // micro-batch planning thread — an upstream bug in the exec node, not
  // reachable from user code. flatMapGroupsWithState ([[closedSessions]])
  // and mapGroupsWithState ([[runningAvgWithState]]) cover the
  // arbitrary-state surface on this Spark build.

  /** T9: hashtag extraction + running counts
    * (`ExerciseNetcat.scala:136-149`): tokens starting with '#',
    * lowercased, counted across batches.
    */
  def hashtagCounts(lines: DataFrame): DataFrame =
    lines.select(explode(TextAnalysis.tokens(col("value"))).as("tok"))
      .filter(col("tok").startsWith("#"))
      .select(lower(col("tok")).as("hashtag"))
      .groupBy("hashtag").agg(count(lit(1)).as("cnt"))

  /** Streaming exact-dedup for a document stream: one row per first-seen
    * content fingerprint across ALL batches — the streaming face of
    * `Dedup.exactDedup`. State is one entry per distinct fingerprint;
    * pass a watermark column + `withWatermark` upstream and swap to
    * `dropDuplicatesWithinWatermark` when the key space is unbounded, so
    * state ages out instead of growing forever.
    */
  def streamingExactDedup(documents: DataFrame): DataFrame =
    documents
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .dropDuplicates("fp")

  /** Composite state carried across batches for T6. */
  final case class AvgState(sum: Double, count: Long)
  final case class KeyedAvg(key: String, avg: Double, count: Long)

  /** T6: running average per key with EXPLICIT composite state — the
    * (sum, count) accumulator the reference threads through
    * `updateStateByKey` (`ExerciseNetcat.scala:175-203`), here a typed
    * `GroupState[AvgState]` under `mapGroupsWithState`. Use when the
    * state transition genuinely can't be an aggregate; otherwise prefer
    * `groupBy.avg` (same result, engine-managed partial aggregation).
    */
  def runningAvgWithState(pairs: Dataset[(String, Double)]): Dataset[KeyedAvg] = {
    import pairs.sparkSession.implicits._
    pairs.groupByKey(_._1)
      .mapGroupsWithState[AvgState, KeyedAvg](GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[AvgState]) =>
          val prev = state.getOption.getOrElse(AvgState(0.0, 0L))
          var sum = prev.sum
          var n = prev.count
          rows.foreach { case (_, v) => sum += v; n += 1 }
          state.update(AvgState(sum, n))
          KeyedAvg(key, if (n > 0) sum / n else 0.0, n)
      }
  }

  /** T7: sliding event-time window counts with a watermark — the modern
    * form of the reference's processing-time `window(Seconds(30),
    * Seconds(10))` (`ExerciseNetcat.scala:115-142`). The watermark bounds
    * state: buckets older than it are finalized and dropped, which is
    * what makes windowed aggregation runnable forever at scale.
    */
  def slidingEventCounts(
      events: DataFrame,
      windowDur: String = "10 minutes",
      slideDur: String = "5 minutes",
      watermarkDelay: String = "15 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(
        window(col("ts"), windowDur, slideDur).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("event_type"), col("n_events"))

  /** Event-time sessionization on a stream: `session_window` groups each
    * user's events into sessions separated by ≥ `gap` of inactivity — the
    * streaming face of [[graft.operators.Relational.sessionize]] (q55).
    * The watermark finalizes a session once event time passes its close
    * plus `watermarkDelay`, so per-user state is bounded and append mode
    * emits each session exactly once. (Edge note: the batch twin starts a
    * new session strictly AFTER `gap`; `session_window` starts one AT the
    * gap — events exactly `gap` apart split here and merge there.)
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("session_value"))
      .select(col("user_id"),
        col("w.start").as("session_start"),
        col("w.end").as("session_end"),
        col("n_events"), col("session_value"))

  /** State for [[closedSessions]]: the user's currently-open session
    * (epoch millis — a Timestamp in state would fight the encoder).
    */
  final case class OpenSession(startMs: Long, endMs: Long, n: Long)
  final case class SessionState(sessions: Seq[OpenSession])
  final case class ClosedSession(user_id: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
      n_events: Long)

  /** Emit-on-close sessionization via `flatMapGroupsWithState` — the
    * arbitrary-state counterpart of [[sessionWindows]] for when the
    * session TRANSITION itself is custom logic (here: emit one row per
    * session, only when it closes, never a partial).
    *
    * State per user is a short SORTED LIST of open intervals, and a
    * session is emitted ONLY once the watermark proves it immutable
    * (end + gap < watermark — every event the engine still admits has
    * t ≥ watermark and so cannot touch it). Both halves are load-
    * bearing, and the randomized-order spec is what forced them: a
    * single open slot silently absorbs a within-watermark event that
    * belongs BEFORE the open session, and emitting an interval merely
    * because a same-batch successor exists is unsound — a later batch
    * may still deliver an admissible event that extends the interval
    * backward (or bridges it to a neighbor), which would need a
    * retraction append mode cannot express. The list stays tiny: it is
    * bounded by watermark-window / gap intervals, and the engine's
    * EVENT-TIME TIMEOUT (armed at the earliest live deadline) flushes
    * without new data. Matches the batch twin's gap rule (events exactly
    * `gap` apart merge) for every event the watermark admits.
    */
  def closedSessions(events: DataFrame, gapSeconds: Long = 1800L,
      watermarkDelay: String = "1 hour"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000L
    def close(user: Long, s: OpenSession) = ClosedSession(user,
      new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.endMs),
      s.n)
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, rows, state: GroupState[SessionState]) =>
          val wm = state.getCurrentWatermarkMs()
          // open intervals, sorted by start, pairwise > gap apart
          val ivs = scala.collection.mutable.ArrayBuffer.empty[OpenSession]
          state.getOption.foreach(ivs ++= _.sessions)
          if (!state.hasTimedOut) {
            val times = rows.map(_._2.getTime).toArray.sorted
            times.foreach { t =>
              val i = ivs.indexWhere(s =>
                t >= s.startMs - gapMs && t <= s.endMs + gapMs)
              if (i < 0) {
                val j = ivs.indexWhere(_.startMs > t)
                ivs.insert(if (j < 0) ivs.length else j,
                  OpenSession(t, t, 1L))
              } else {
                val s = ivs(i)
                ivs(i) = OpenSession(math.min(s.startMs, t),
                  math.max(s.endMs, t), s.n + 1)
                // the extension may bridge the gap to the NEXT interval
                // (t landed between two sessions and glued them): merge.
                // No backward bridge exists — t matched the FIRST
                // interval within reach, so it is > gap past i-1's end.
                if (i + 1 < ivs.length &&
                    ivs(i + 1).startMs - ivs(i).endMs <= gapMs) {
                  val (a, b) = (ivs(i), ivs(i + 1))
                  ivs(i) = OpenSession(a.startMs,
                    math.max(a.endMs, b.endMs), a.n + b.n)
                  ivs.remove(i + 1)
                }
              }
            }
          }
          val (safe, live) = ivs.partition(_.endMs + gapMs < wm)
          if (live.isEmpty) state.remove()
          else {
            state.update(SessionState(live.toVector))
            // fire when the earliest live deadline passes; the engine
            // rejects a timeout at/behind the current watermark
            state.setTimeoutTimestamp(
              math.max(live.map(_.endMs).min + gapMs, wm + 1))
          }
          safe.iterator.map(close(user, _))
      }
  }

  /** Stream-static enrichment join: each micro-batch of the stream hash-
    * joins against the (small) static dimension, broadcast so the stream
    * side never shuffles — the streaming face of J3/J4. The dimension is
    * re-resolved per batch, so a refreshed underlying table is picked up
    * without restarting the query.
    */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys)

  /** Stream-stream interval join: views matched to the purchases they
    * follow within `horizon` per user — the streaming face of
    * [[graft.operators.Temporal.purchaseWindowViews]] (q77), with the
    * same [start, end) semantics. Both sides carry a watermark and the
    * join condition bounds event-time distance, which is exactly what
    * lets the engine EXPIRE buffered rows: without the time-range bound
    * a stream-stream join's state grows forever. `delayThreshold` is
    * how much lateness is tolerated before a row is dropped; state held
    * ≈ watermark + horizon per side.
    *
    * `joinType = "left_outer"` preserves the PURCHASE side: a purchase
    * with no view in its horizon is emitted once, with null view
    * columns, as soon as the watermark proves no matching view can
    * still arrive — the "unattributed conversions" feed. (Outer results
    * are inherently watermark-delayed; inner matches still emit
    * immediately.)
    */
  def streamingAttribution(views: DataFrame, purchases: DataFrame,
      horizonSeconds: Long = 3600L,
      delayThreshold: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    val v = views.select(col("user_id").as("v_user_id"),
      col("ts").as("v_ts"), col("event_id").as("view_id"))
      .withWatermark("v_ts", delayThreshold)
    val p = purchases.select(col("user_id"), col("ts").as("p_ts"),
      col("event_id").as("purchase_id"))
      .withWatermark("p_ts", delayThreshold)
    p.join(v,
      expr(s"""v_ts >= p_ts AND
               v_ts < p_ts + INTERVAL $horizonSeconds SECONDS""") &&
        p("user_id") === v("v_user_id"),
      joinType)
      .select(p("user_id"), col("purchase_id"), col("view_id"),
        col("p_ts"), col("v_ts"))
  }

  // -------------------------------------------------------------- sinks

  /** K6: console sink with an explicit trigger (T1 batch-interval
    * analogue, `ExerciseNetcat.scala:40`).
    */
  def startConsole(df: DataFrame, mode: OutputMode,
      intervalMs: Long = 1000): StreamingQuery =
    df.writeStream
      .outputMode(mode)
      .format("console")
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()

  /** T10: ranked output per micro-batch via foreachBatch (T8): the top-N
    * rows of each batch's state snapshot go to `sink`. foreachBatch gives
    * every batch as a normal DataFrame — the seam for arbitrary batch
    * sinks (`ExerciseNetcat.scala:155-166` prints ranked hashtags).
    */
  def startRankedForeachBatch(
      counts: DataFrame,
      n: Int,
      checkpoint: String,
      sink: (Array[org.apache.spark.sql.Row], Long) => Unit): StreamingQuery =
    counts.writeStream
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(batch.orderBy(col("cnt").desc, col(batch.columns.head).asc)
          .limit(n).collect(), id)
      }
      .start()

  /** The one foreachBatch launcher of every ingest tier and
    * batch-partitioned store: run `body` on each micro-batch of `df`
    * (append mode, checkpointed) — e.g.
    * `startIngest(docs, ckpt)(nearDupIngestBatch(_, _, out, sig))`.
    * Delivery is at least once: after a failure between a batch's
    * writes and its checkpoint commit the engine replays it with the
    * SAME batch id, and every body here is idempotent for a fixed id
    * (per-batch dynamic partition overwrite), which makes the pair
    * effectively exactly-once. An ingest tier's body screens its batch
    * once: both of its writes read one buffer of the survivors
    * ([[landSurvivors]]), released before the body returns.
    */
  def startIngest(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        body(b, id)
      }
      .start()

  /** Exactly-once parquet sink for non-transactional targets: each
    * micro-batch overwrites ITS OWN batch_id partition
    * ([[graft.sources.PersistedIndex.writeBatchIdempotent]]) — a replay
    * rewrites the same partition with the same rows instead of
    * appending duplicates.
    */
  def startIdempotentParquetSink(df: DataFrame, path: String,
      checkpoint: String): StreamingQuery =
    startIngest(df, checkpoint)(writeBatchIdempotent(_, _, path))

  /** The in-batch self-dedup shared by every ingest tier: lowest doc_id
    * per normalized fingerprint (the [[graft.operators.Dedup.exactDedup]]
    * convention), inlined schema-agnostically so any doc_id+text frame
    * streams in. The xxhash64 over the full row breaks doc_id ties
    * DETERMINISTICALLY. Within one attempt both writes read one buffer
    * of the survivors ([[landSurvivors]]), released when the batch
    * ends, so they always agree; but a replay screens the batch again,
    * and a tie resolved differently there would land another payload
    * than the attempt it replaces. (Residual: two rows with equal
    * doc_id AND a 64-bit hash collision on different payloads could
    * still flip — accepted.) Returns the input columns plus `fpCol`.
    */
  private def selfDedupBatch(batch: DataFrame, fpCol: String,
      caller: String): DataFrame = {
    require(!batch.columns.contains(fpCol),
      s"$caller: input must not already have a $fpCol column")
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(fpCol)
      .orderBy(col("doc_id"), xxhash64(batch.columns.map(col): _*))
    batch
      .withColumn(fpCol, TextAnalysis.fingerprint(col("text")))
      .withColumn("__rn", row_number().over(byFp))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** `self` less every batch row a near-dup screen's `hits` names in
    * `hitCol` — once, however many prior rows it matched.
    */
  private def withoutHits(self: DataFrame, hits: DataFrame,
      hitCol: String = "new_id", idCol: String = "doc_id"): DataFrame =
    self.join(hits.select(col(hitCol).as(idCol)).distinct(), Seq(idCol),
      "left_anti")

  /** The landing step every ingest tier ends with: materialize the
    * batch's `survivors` once ([[graft.core.Buffers.once]]), write
    * `output` of them to `outDir`, then write `storeRows` of that same
    * buffer to `storeDir` — the screen (batch scan, self-dedup shuffle,
    * store and index joins) runs once, not once per write — and release
    * the buffer when the batch ends, returned or thrown. `storeRows`
    * must be a function of the survivors alone (their fingerprints or
    * signatures), so a store row never belongs to a screened-out doc;
    * `output` drops what the survivors carry only for it.
    *
    * Output before store is the replay order: a crash between the
    * two writes (the [[graft.core.CrashHook]] site
    * `ingestStore:<storeDir>`) leaves the output partition written and
    * the store's not, and the replay, whose store read ignores its own
    * batch, screens the same survivors and rewrites both partitions.
    */
  private def landSurvivors(survivors: DataFrame, batchId: Long,
      outDir: String, storeDir: String,
      output: DataFrame => DataFrame = docs => docs)(
      storeRows: DataFrame => DataFrame): Unit = {
    val buf = Buffers.once(survivors)
    try {
      writeBatchIdempotent(output(buf), batchId, outDir)
      graft.core.CrashHook.fire(s"ingestStore:$storeDir")
      writeBatchIdempotent(storeRows(buf), batchId, storeDir)
    } finally Buffers.release(buf)
  }

  /** One micro-batch of [[startDedupedIngest]], exposed so tests and
    * manual backfills invoke exactly what a replayed batch runs. Four
    * steps, each idempotent for a fixed `batchId`:
    *
    *   1. in-batch self-dedup ([[selfDedupBatch]]);
    *   2. screen against the fingerprint STORE, ignoring rows this batch
    *      itself wrote ([[graft.sources.PersistedIndex.readStore]]) — a
    *      replayed batch must see the store as it was before its first
    *      attempt, or a crash between the fp write and the checkpoint
    *      commit would make the replay drop its own docs and overwrite
    *      the output partition with nothing (data loss);
    *   3. survivors, buffered once ([[landSurvivors]]) →
    *      dynamic-partition-overwrite of `outDir/batch_id=N`;
    *   4. the same buffer's fingerprints → dynamic-partition-overwrite
    *      of `fpDir/batch_id=N`; the buffer is released when the batch
    *      ends.
    *
    * Any crash point replays to the identical end state: the store
    * filter makes step 2 deterministic across attempts, and steps 3–4
    * rewrite rather than append. At-least-once delivery + idempotent
    * replay = effectively exactly-once, end to end INCLUDING the dedup
    * state — the piece [[startIdempotentParquetSink]] alone doesn't give.
    *
    * Scale note: the batch_id-partitioned fp store trades probe cost for
    * replay safety — each batch anti-joins the whole store (16 bytes per
    * unique doc; broadcast while small, shuffle join beyond). A long-run
    * pipeline periodically [[foldFingerprintStore]]s it into the bucketed
    * [[graft.operators.Dedup.fingerprintIndex]] table and restarts the
    * store (near-)empty, probing BOTH until the next fold: pass the
    * index table as `indexTable` and the screen becomes store ∪ index —
    * correct before the first fold (empty index), during a fold (a fp
    * may transiently be in both; the anti-join doesn't care), and after
    * (store holds only unfolded batches). The table must EXIST when
    * `indexTable` is set (bootstrap via
    * [[graft.operators.Dedup.ensureFingerprintIndex]]) so a mistyped
    * name fails loudly instead of silently skipping the index screen.
    */
  def dedupIngestBatch(batch: DataFrame, batchId: Long, outDir: String,
      fpDir: String, indexTable: Option[String] = None,
      bloomTable: Option[String] = None): Unit = {
    require(bloomTable.isEmpty || indexTable.nonEmpty,
      "dedupIngestBatch: bloomTable is a tier over the index screen — " +
        "it requires indexTable")
    val spark = batch.sparkSession
    val fpCol = "__fp_ingest"
    val fps = graft.operators.Dedup.fingerprintIndex()
    val self = selfDedupBatch(batch, fpCol, "dedupIngestBatch")
    val store = readStore(spark, fpDir, batchId, fps.storeSchema)
      .select(col("fp").as(fpCol))
    // probe-both window: folded history lives in the index table, the
    // store holds only batches since the last fold. With a bloom tier,
    // rows the INDEX's bloom rules out skip the index anti-join (the
    // bloom covers folded history only — the fold appends the bloom
    // BEFORE the index, so bloom ⊇ index always holds and a bloom miss
    // is proof of index absence); everyone still screens against the
    // store.
    val afterIndex = indexTable match {
      case None => self
      case Some(t) =>
        val idx = fps.current(spark, t, "dedupIngestBatch")
          .select(col("fp").as(fpCol))
        bloomTable match {
          case None => self.join(idx, Seq(fpCol), "left_anti")
          case Some(bt) =>
            val spec = graft.sources.IndexSpec.readRequired(spark, bt)
            // both pairing directions must agree: the bloom's spec names
            // THIS index (a bloom over another index has no ⊇ guarantee)
            // and the index's marker names THIS bloom (a superseded
            // bloom the folds stopped feeding lags the index, and its
            // misses would land already-indexed docs as silent dups)
            val pairedFp =
              graft.operators.Dedup.bloomSpecFpTable(spec, bt)
            require(pairedFp == t,
              s"dedupIngestBatch: bloom $bt was built over index " +
                s"'$pairedFp', not '$t'")
            require(
              graft.operators.Dedup.pairedBloom(spark, t).contains(bt),
              s"dedupIngestBatch: index $t is not paired to bloom $bt " +
                "(missing or superseded pairing marker) — the fold " +
                "would not maintain this bloom, breaking bloom ⊇ index")
            // re-listed like the index (see PersistedIndex.current): a
            // fold rewrites the bloom between batches
            spark.catalog.refreshTable(bt)
            val bytes = spark.table(bt).head().getAs[Array[Byte]]("bloom")
            if (bytes == null) // legacy NULL cell: nothing recorded —
              self.join(idx, Seq(fpCol), "left_anti") // full exact screen
            else {
              val seen = graft.operators.Dedup.mightContain(bytes, col(fpCol))
              self.filter(!seen).unionByName(
                self.filter(seen).join(idx, Seq(fpCol), "left_anti"))
            }
        }
    }
    val survivors = afterIndex.join(store, Seq(fpCol), "left_anti")
    landSurvivors(survivors, batchId, outDir, fpDir, _.drop(fpCol))(
      _.select(col(fpCol).as("fp")))
  }

  /** The production ingest loop: per micro-batch self-dedup, screen
    * against everything previously ingested, land survivors exactly-once
    * in `outDir`, grow the fingerprint store — the streaming composition
    * of the exact-dedup operators over a document stream with `doc_id`
    * and `text` columns. See [[dedupIngestBatch]] for the replay-safety
    * argument; every other tier launches through [[startIngest]] the
    * same way.
    */
  def startDedupedIngest(docs: DataFrame, outDir: String, fpDir: String,
      checkpoint: String, indexTable: Option[String] = None,
      bloomTable: Option[String] = None): StreamingQuery =
    startIngest(docs, checkpoint)(
      dedupIngestBatch(_, _, outDir, fpDir, indexTable, bloomTable))

  /** [[dedupIngestBatch]]'s NEAR-dup sibling: the screen is a simhash
    * chunk join (Hamming ≤ `maxHamming`) against the batch_id-
    * partitioned SIGNATURE store instead of a fingerprint equality — a
    * reworded repost is dropped, not just a byte-identical one. It is
    * [[graft.operators.Dedup.probeSimhashIndex]]'s screen,
    * [[graft.operators.Dedup.simhashHits]], over the store and index
    * rows, with no `maxBucket` bound on the prior side. Same
    * idempotent-per-batch recipe, same ordering argument: the store
    * read excludes the batch's own prior attempt, survivors land via
    * dynamic partition overwrite, then ONLY survivors' chunk rows
    * overwrite the store's batch partition (a screened-out doc's
    * signature must not enter the store, or a replay would screen
    * against it and drop everything).
    *
    * Scope: exact self-dups inside the batch collapse (fingerprint
    * window); two DISTINCT near-dup docs arriving in the SAME batch
    * both survive — in-batch near-dedup is [[graft.operators.Dedup
    * .simhashDupPairs]]'s job upstream, while this operator's contract
    * is the cross-batch screen. The store holds 4 NATIVE-signature chunk
    * rows per landed doc (~50 bytes each); the
    * [[graft.operators.Dedup.simhashIndex]] fold moves it into the
    * bucketed index periodically, exactly like the fingerprint store —
    * pass that table as `indexTable` for the probe-both screen (it must
    * exist and be a native, non-portable index; the spec guard refuses
    * a portable one, whose signatures would never match).
    */
  def nearDupIngestBatch(batch: DataFrame, batchId: Long, outDir: String,
      sigDir: String, maxHamming: Int = 3,
      indexTable: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val sigs = graft.operators.Dedup.simhashIndex()
    val fpCol = "__fp_ingest"
    val self = selfDedupBatch(batch, fpCol, "nearDupIngestBatch").drop(fpCol)
    val prior = sigs.priorRows(readStore(spark, sigDir, batchId,
      sigs.storeSchema), indexTable, "nearDupIngestBatch")
    val hits = graft.operators.Dedup.simhashHits(
      graft.operators.Dedup.simhashChunkTable(self), prior, maxHamming)
    val survivors = withoutHits(self, hits)
    landSurvivors(survivors, batchId, outDir, sigDir)(
      graft.operators.Dedup.simhashChunkTable(_))
  }

  /** The MINHASH-tier sibling of [[nearDupIngestBatch]]: the screen is
    * [[graft.operators.Dedup.probeNearDupIndex]]'s (band collision in
    * [[graft.operators.Dedup.bandCandidates]] → exact-Jaccard verify at
    * `threshold` in [[graft.operators.Dedup.verifyPairs]]) against a
    * batch_id-partitioned BAND store — so a PARAPHRASED repost at
    * Jaccard ≈ 0.7 is dropped, not just the high-similarity rewrites the
    * simhash tier's Hamming ≤ 3 admits. Same idempotent-per-batch
    * recipe: store and landed-output reads exclude the batch's own prior
    * attempt, survivors land via dynamic partition overwrite, then ONLY
    * survivors' band rows overwrite the store's batch partition.
    *
    * Recall/cost tiering (pick per pipeline, or cascade both):
    *   - simhash tier ([[nearDupIngestBatch]]): 4 chunk rows/doc,
    *     equality join + signature XOR, ZERO text reads at probe time —
    *     catches near-identical rewrites (Hamming ≤ 3 ≈ similarity
    *     ≥ ~0.95) and misses paraphrases;
    *   - minhash tier (this): `bands` rows/doc, band join + an
    *     exact-Jaccard verify that re-reads the text of MATCHED PRIOR
    *     docs only (a candidate-scale slice of the landed output /
    *     index corpus) — catches paraphrase-level dups down to the
    *     banding threshold, at the cost of those verify reads.
    *
    * The verify needs prior-doc text: store-window hits read it from
    * `outDir`'s earlier partitions (survivors' text lands there by
    * construction); index hits read it from the `indexCorpus._2` frame —
    * the documents backing the `indexCorpus._1` table (the
    * [[graft.operators.Dedup.probeNearDupIndex]] contract), whose spec
    * must match this call's (ngram, k, bands). The fold discipline is
    * the [[graft.operators.Dedup.nearDupIndex]] fold, probing BOTH until
    * the next fold. `doc_id` must be an integer column (INT or BIGINT):
    * the verify reads the landed text back as BIGINT ids.
    */
  def minhashIngestBatch(batch: DataFrame, batchId: Long, outDir: String,
      bandDir: String, indexCorpus: Option[(String, DataFrame)] = None,
      threshold: Double = 0.7, ngram: Int = 3, k: Int = 64,
      bands: Int = 16, maxBucket: Int = 1000): Unit = {
    val spark = batch.sparkSession
    val bandIdx = graft.operators.Dedup.nearDupIndex(ngram, k, bands)
    val fpCol = "__fp_ingest"
    val self = selfDedupBatch(batch, fpCol, "minhashIngestBatch").drop(fpCol)
    def bandsOf(docs: DataFrame) =
      graft.operators.Dedup.bandBucketTable(docs, ngram, k, bands)
    val priorBands = bandIdx.priorRows(readStore(spark, bandDir, batchId,
      bandIdx.storeSchema), indexCorpus.map(_._1), "minhashIngestBatch")
    val cands = graft.operators.Dedup.bandCandidates(bandsOf(self),
      priorBands, maxBucket)
    // the verify re-reads the text of matched PRIOR docs only: store hits
    // live in outDir's earlier partitions, index hits in the
    // caller-supplied corpus frame. The lazy verify, not the batch
    // operators' buffered one: the candidates are batch-sized, and a
    // buffer here would be one more eager job per micro-batch
    val landedPrior = readStore(spark, outDir, batchId,
      StructType.fromDDL("doc_id BIGINT, text STRING"))
    val priorDocs = indexCorpus.map { case (_, corpus) =>
      landedPrior.unionByName(
        corpus.select(col("doc_id").cast("long").as("doc_id"), col("text")))
    }.getOrElse(landedPrior)
    val hits = graft.operators.Dedup.verifyPairs(cands, self, priorDocs,
      "new_id", "corpus_id", ngram, threshold)
    val survivors = withoutHits(self, hits)
    landSurvivors(survivors, batchId, outDir, bandDir)(bandsOf)
  }

  /** Fold the deduped ingest's batch_id-partitioned fingerprint store
    * into the bucketed [[graft.operators.Dedup.fingerprintIndex]] table
    * — the maintenance pass that keeps a long-running ingest from
    * accumulating one tiny store partition per micro-batch (probe cost
    * otherwise creeps linearly with stream lifetime). Returns the batch
    * ids folded; replay-window and crash-mid-fold arguments are
    * [[graft.sources.PersistedIndex.foldStore]]'s.
    *
    * Bloom pairing: an index marked as bloom-tiered must ALWAYS fold
    * through its bloom, and the bloom grows BEFORE the index.
    */
  def foldFingerprintStore(spark: SparkSession, fpDir: String,
      table: String, buckets: Int = 32,
      bloomTable: Option[String] = None): Seq[Long] =
    graft.operators.Dedup.fingerprintIndex(buckets).copy(
      fromStore = (_, folded) => {
        // pairing guard: one fold without the bloom grows the index past
        // it, after which already-indexed docs pass the !might_contain
        // fast path at ingest and land as silent duplicates.
        // Bootstrapping an EMPTY bloom is only ever sound while the
        // index itself is empty: resurrecting a missing bloom over a
        // non-empty index (or silently repointing the marker at a
        // typo'd name) would fabricate exactly the bloom ⊂ index state
        // the guard exists to prevent, so every such case throws.
        val paired = graft.operators.Dedup.pairedBloom(spark, table)
        bloomTable match {
          case None =>
            require(paired.isEmpty,
              s"foldFingerprintStore: index $table is paired to bloom " +
                s"${paired.getOrElse("")} — folding past it breaks " +
                "bloom ⊇ index (silent duplicate landings); pass the " +
                "paired bloomTable")
          case Some(bt) if paired.contains(bt) =>
            require(spark.catalog.tableExists(bt),
              s"foldFingerprintStore: paired bloom $bt is missing — an " +
                "empty bootstrap over a non-empty index would break " +
                "bloom ⊇ index; rebuild it with buildBloomIndex over the " +
                "indexed corpus")
            require(graft.operators.Dedup.bloomSpecFpTable(
                graft.sources.IndexSpec.readRequired(spark, bt), bt) == table,
              s"foldFingerprintStore: bloom $bt's spec names a different " +
                s"index than $table — crossed pairing state; rebuild")
          case Some(bt) if paired.isEmpty =>
            // fresh pairing: sound only while the index holds nothing yet
            require(spark.table(table).isEmpty,
              s"foldFingerprintStore: cannot pair bloom $bt to the " +
                s"non-empty index $table mid-flight — the bootstrap bloom " +
                "would not cover the already-indexed fingerprints; " +
                "rebuild with buildBloomIndex over the indexed corpus " +
                "(which records the pairing)")
            graft.operators.Dedup.ensureBloomIndex(spark, bt, table)
            require(graft.operators.Dedup.pairedBloom(spark, table)
                .contains(bt),
              s"foldFingerprintStore: bloom $bt exists but is not paired " +
                s"to $table (stale or missing marker) — rebuild the bloom " +
                "with buildBloomIndex")
          case Some(bt) =>
            throw new IllegalArgumentException(
              s"foldFingerprintStore: index $table is paired to bloom " +
                s"${paired.get}, not $bt — folding through the wrong " +
                "bloom leaves the paired one behind; pass the paired " +
                "bloomTable")
        }
        // bloom BEFORE index: the ingest's bloom tier treats a bloom
        // miss as proof of index absence, so the bloom must never lag
        // the index. A crash between the two appends leaves bloom ⊇
        // index (harmless — the extra fps just route through the residue
        // anti-join); the re-run re-ORs and re-anti-joins to the
        // identical end state.
        bloomTable.foreach(bt =>
          graft.operators.Dedup.appendBloomFingerprints(folded, bt))
        folded
      }).foldStore(spark, fpDir, table)

  /** The SEMANTIC tier of the deduped ingest family — the fourth
    * modality beside exact ([[dedupIngestBatch]]), simhash
    * ([[nearDupIngestBatch]]) and minhash ([[minhashIngestBatch]]): an
    * EMBEDDING stream (vec_id, embedding, payload…) screened per
    * micro-batch against a cell-assigned vector store plus an optional
    * persisted IVF index, under the FROZEN quantizer in
    * `centroidTable` (built once on a seed corpus — the
    * [[graft.operators.Similarity.probeSemanticIndex]] contract). A
    * batch vector with a cosine ≥ `threshold` neighbor among prior
    * vectors in its `nprobe` probed cells is dropped; survivors land
    * exactly-once and their (vec_id, embedding, cell) rows overwrite
    * the store's batch partition.
    *
    * Scope rules mirror the near-dup tiers: EXACT in-batch duplicates
    * (byte-equal embeddings) collapse to the lowest vec_id; two
    * DISTINCT semantic near-dups arriving in the same batch both
    * survive — in-batch semantic dedup is
    * [[graft.operators.Similarity.semanticDedup]]'s job upstream. The
    * replay argument is [[dedupIngestBatch]]'s verbatim: the store read
    * excludes the batch's own prior attempt, survivor choice is
    * deterministic, both writes are per-batch dynamic overwrites.
    * Fold discipline: the [[graft.operators.Similarity.ivfIndex]] fold
    * (with the same centroid table), probing BOTH until the next fold.
    */
  def semanticIngestBatch(batch: DataFrame, batchId: Long, outDir: String,
      vecDir: String, centroidTable: String, threshold: Double = 0.95,
      nprobe: Int = 1, indexTable: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val vecs = graft.operators.Similarity.ivfIndex()
    val cents = graft.operators.Similarity.cellsOf(spark, centroidTable)
    val byEmb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("embedding")).orderBy(col("vec_id"))
    val self = batch.withColumn("__rn", row_number().over(byEmb))
      .filter(col("__rn") === 1).drop("__rn")
    val prior = vecs.priorRows(readStore(spark, vecDir, batchId,
      vecs.storeSchema), indexTable, "semanticIngestBatch")
    val hits = graft.operators.Similarity.semanticHits(
      self, prior, cents, threshold, nprobe)
    val survivors = withoutHits(self, hits, "q_id", "vec_id")
    landSurvivors(survivors, batchId, outDir, vecDir)(s =>
      graft.operators.Similarity.assignCellsFrame(
        s.select(col("vec_id"), col("embedding")), cents))
  }

  /** The WINNOWING tier of the deduped ingest family — the passage-
    * level sixth modality beside exact / bloom / simhash / minhash /
    * semantic: each micro-batch's documents are screened by SHARED
    * SELECTED FINGERPRINTS ([[graft.operators.Dedup.winnowingFingerprints]],
    * the MOSS scheme) against a batch_id-partitioned fingerprint store
    * plus an optional persisted winnow index — so a document that
    * REUSES A PASSAGE (quotation, boilerplate splice, partial copy)
    * from any prior landed or indexed document is dropped at crawl
    * time, a containment case the whole-doc similarity tiers
    * structurally miss (a long doc quoting a short one has low global
    * Jaccard). The screen is [[graft.operators.Dedup.probeWinnowIndex]]'s,
    * [[graft.operators.Dedup.winnowHits]]: posting-list join on fp, the
    * df ≤ `maxDf` boilerplate cut derived from matched rows, pair hit at
    * ≥ `minShared` distinct shared hashes. No text re-read —
    * fingerprints alone decide.
    *
    * Same idempotent-per-batch recipe as every tier: in-batch exact
    * self-dups collapse first (two DISTINCT passage-sharers in one
    * batch both survive — in-batch passage analysis is
    * [[graft.operators.Dedup.winnowingMatches]]'s job upstream); store
    * and output reads exclude the batch's own prior attempt; survivors
    * and their fingerprints land via dynamic partition overwrite. Fold
    * discipline: the [[graft.operators.Dedup.winnowIndex]] fold, probing
    * BOTH until the next fold. `k`/`w` must match the index the stream
    * probes (asserted per batch against its spec).
    */
  def winnowIngestBatch(batch: DataFrame, batchId: Long, outDir: String,
      fpDir: String, indexTable: Option[String] = None,
      minShared: Int = 2, maxDf: Int = 64, k: Int = 4,
      w: Int = 5): Unit = {
    val spark = batch.sparkSession
    // the store's fingerprints are only meaningful at ONE winnowing
    // geometry: assert before reading (a restart at different (k, w)
    // would join nothing against the stored hashes and lose the whole
    // screen silently); the stamp itself lands after the write below
    graft.operators.Dedup.assertWinnowGeometry(spark, fpDir, k, w,
      "winnowIngestBatch", stamp = false, ownBatch = Some(batchId))
    val fpCol = "__fp_ingest"
    val self = selfDedupBatch(batch, fpCol, "winnowIngestBatch").drop(fpCol)
    def fpsOf(docs: DataFrame) = graft.operators.Dedup
      .winnowingFingerprints(docs, k, w)
      .select("doc_id", "fp").distinct()
    // the index's spec guard is probeWinnowIndex's: an index built at a
    // different (k, w) holds hashes this batch's fingerprints can never
    // join — the screen would silently vanish
    val winnows = graft.operators.Dedup.winnowIndex(k, w)
    val priorFps = winnows.priorRows(
      readStore(spark, fpDir, batchId, winnows.storeSchema)
        .withColumnRenamed("doc_id", "corpus_id"),
      indexTable, "winnowIngestBatch")
    val hits = graft.operators.Dedup.winnowHits(
      fpsOf(self).select(col("doc_id").as("new_id"), col("fp")), priorFps,
      minShared, maxDf)
    val survivors = withoutHits(self, hits)
    landSurvivors(survivors, batchId, outDir, fpDir)(fpsOf)
    graft.operators.Dedup.assertWinnowGeometry(spark, fpDir, k, w,
      "winnowIngestBatch", stamp = true, ownBatch = Some(batchId))
  }

  /** One micro-batch of the streaming heavy-hitter summary: compute the
    * batch's Misra–Gries summary (bounded 2k buffers, no distinct-key
    * shuffle — [[graft.functions.FrequentItemsAgg]]) and land its ≤ 2k
    * (value, cnt) rows plus one (NULL, n) total row in the batch's own
    * `batch_id=N` partition of `storeDir` — the same dynamic-partition-
    * overwrite recipe as the ingest stores, so an at-least-once replay
    * rewrites its own partition instead of double counting, and the
    * store is a per-batch summary log that merges associatively
    * ([[mergedHeavyHitters]]). Growth is ≤ 2k+1 tiny rows per batch;
    * [[foldHeavyHitterStore]] compacts history into one ≤ k+1-row
    * epoch partition whenever the caller wants the merge's driver
    * collect back to O(k).
    */
  def heavyHitterBatch(batch: DataFrame, batchId: Long, colName: String,
      k: Int, storeDir: String): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val agg = udaf(new graft.functions.FrequentItemsAgg(k))
    val s = batch.select(col(colName).cast("string").as("v"))
      .filter(col("v").isNotNull)
      .agg(agg(col("v")).as("s"))
      .selectExpr("s._1 AS entries", "s._2 AS n").head()
    val entries = s.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    val n = s.getLong(1)
    val rows = entries.map { case (v, c) => (Option(v), c) } :+
      (Option.empty[String], n) // NULL value row carries the batch total
    writeBatchIdempotent(rows.toDF("value", "cnt"), batchId, storeDir)
  }

  /** Streaming heavy hitters: per micro-batch Misra–Gries summaries into
    * a compact state store — the per-crawl "what's trending" companion
    * to the deduped ingest. Candidates come out of
    * [[mergedHeavyHitters]] whenever asked; nothing rescans history.
    */
  /** `foldEvery = Some(n)` wires [[foldHeavyHitterStore]] into the
    * running stream: every n-th micro-batch compacts the store inline
    * (after its own summary lands), so an operator who never calls the
    * fold manually still gets an O(k) store at any stream age instead
    * of one summary partition per micro-batch forever. Safe under
    * replay: the fold is the crash-safe epoch protocol and always
    * leaves the newest partition unfolded, so a re-delivered batch
    * rewrites its own partition and the re-run fold is a no-op or a
    * fresh epoch — answers are unchanged either way (the mergeable-
    * summaries bound; asserted in StreamingSpec).
    */
  def startHeavyHitterStream(df: DataFrame, colName: String, k: Int,
      storeDir: String, checkpoint: String,
      foldEvery: Option[Int] = None): StreamingQuery = {
    foldEvery.foreach(n => require(n > 0,
      s"startHeavyHitterStream: foldEvery must be positive, got $n"))
    startIngest(df, checkpoint) { (b, id) =>
      heavyHitterBatch(b, id, colName, k, storeDir)
      if (foldEvery.exists(n => (id + 1) % n == 0)) {
        foldHeavyHitterStore(b.sparkSession, storeDir, k)
        ()
      }
    }
  }

  /** Merge the per-batch summary store into the stream-lifetime heavy
    * hitters: entrywise count sums (one tiny aggregate over ≤ 2k+1 rows
    * per batch), a final Misra–Gries compress to k, then the exact
    * recount of the ≤ k candidates over `recountOver` at threshold
    * ⌈minShare·N⌉ — identical in shape to the batch
    * [[graft.operators.Sketches.heavyHitters]], and identical in ANSWER
    * for k = ⌈1/minShare⌉ under ANY batch split: each batch's summary
    * under-counts a value by ≤ n_b/(k+1), the sums under-count by
    * ≤ N/(k+1) < ⌈minShare·N⌉, and the final compress preserves the
    * bound (the mergeable-summaries argument, Agarwal et al. 2013), so
    * every true heavy hitter survives into the recount and the recount
    * discards everything else. Tested against the batch operator under
    * an adversarial split in StreamingSpec.
    */
  def mergedHeavyHitters(spark: SparkSession, storeDir: String, k: Int,
      recountOver: DataFrame, colName: String,
      minShare: Double): DataFrame = {
    // bounded driver state: the committed fold partition (≤ k+1 rows)
    // plus ≤ 2k+1 rows per batch landed since that fold — O(k) for a
    // stream that folds periodically ([[foldHeavyHitterStore]]), not
    // O(k·stream lifetime). The epoch read rule also makes every
    // fold-crash window invisible: an uncommitted fold partition has no
    // marker and is skipped; a committed fold supersedes its inputs
    // even before they are garbage-collected.
    val dir = new org.apache.hadoop.fs.Path(storeDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epoch = heavyHitterFoldEpoch(fs, dir)
    val summed = spark.read.parquet(storeDir)
      .filter(liveAtEpoch(epoch))
      .groupBy("value").agg(sum("cnt").as("cnt"))
      .collect()
    val n = summed.collectFirst {
      case r if r.isNullAt(0) => r.getLong(1)
    }.getOrElse(0L)
    val merged = graft.functions.FrequentItemsAgg.compress(
      summed.collect { case r if !r.isNullAt(0) =>
        r.getString(0) -> r.getLong(1)
      }.toMap, k)
    graft.operators.Sketches.exactRecount(recountOver, colName,
      merged.keys.toSeq, math.ceil(minShare * n).toLong)
  }

  /** The committed fold epoch of a heavy-hitter store: the largest E
    * with BOTH the fold partition `batch_id=-E` and its `_fold_E`
    * commit marker present. The marker is created strictly AFTER the
    * partition write, so a crash mid-fold can never present a partial
    * partition as live (`_`-prefixed files are invisible to parquet
    * reads, so the marker never pollutes the data).
    */
  private def heavyHitterFoldEpoch(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(dir)) 0L
    else {
      val folds = PersistedIndex.storePartitions(fs, dir).filter(_ < 0).map(-_).toSet
      fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("_fold_"))
        .map(_.stripPrefix("_fold_").toLong)
        .filter(folds.contains)
        .maxOption.getOrElse(0L)
    }

  /** Compact the heavy-hitter summary store: sum and Misra–Gries-
    * compress every live partition EXCEPT the newest batch into one
    * ≤ k+1-row fold partition, so [[mergedHeavyHitters]]'s driver
    * collect stays O(k) regardless of stream lifetime — pre-fold the
    * store grew one ≤ 2k+1-row summary per micro-batch forever, the
    * one unbounded driver-side path left in the tier. Soundness is the
    * mergeable-summaries theorem (Agarwal et al., ACM TODS 2013):
    * summing MG summaries and re-compressing at the same k keeps the
    * aggregate per-value under-count ≤ N/(k+1) across ANY merge tree,
    * and the NULL total row carries N exactly — so for
    * k ≥ 1/minShare, fold-then-merge answers EQUAL merge-without-fold
    * answers after the exact recount (asserted under an adversarial
    * split in StreamingSpec). Fold cadence is the caller's: each fold
    * collects the O(k·batches-since-last-fold) summed summary, the
    * same bounded read the merge itself pays.
    *
    * Crash safety — the epoch protocol (a mini commit log, shared with
    * [[mergedHeavyHitters]]'s read rule):
    *   1. write the folded summary to `batch_id=-E` (E = the newest
    *      live batch id; epochs grow with the stream, so E is fresh)
    *      via dynamic partition overwrite;
    *   2. THEN create the `_fold_E` marker (one atomic file create).
    * Readers honor a fold only with its marker: a crash before the
    * marker leaves readers on the previous epoch and the re-run
    * recomputes from the unchanged inputs, overwriting the uncommitted
    * partition; a crash after the marker leaves the folded inputs as
    * garbage readers already ignore, deleted by this or the next
    * fold's GC step. Returns the positive batch ids folded in (Nil
    * when there is nothing to fold).
    */
  /** The epoch read rule shared by every store reader
    * ([[mergedHeavyHitters]], [[streamQuantiles]]): partitions landed
    * at or after the committed epoch, plus that epoch's fold partition.
    * ONE copy — crash-window invisibility (uncommitted folds skipped,
    * committed folds superseding their not-yet-GC'd inputs) depends on
    * this exact predicate, so readers must never drift apart.
    */
  private def liveAtEpoch(epoch: Long) =
    col("batch_id") >= epoch || col("batch_id") === -epoch

  /** Shared prologue of every epoch-folded store compaction
    * ([[foldHeavyHitterStore]], [[foldHistogramStore]]): resolve the
    * committed epoch, pick the foldable positive partitions strictly
    * below the newest live batch (the tip stays unfolded — it may
    * still be rewritten by a replay), and build the live-input
    * predicate for the fold's read. None when there is nothing to
    * fold. One copy for the same reason as [[liveAtEpoch]].
    */
  private def foldPlan(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path)
      : Option[(Long, Seq[Long], org.apache.spark.sql.Column)] = {
    val e0 = heavyHitterFoldEpoch(fs, dir)
    val positives = PersistedIndex.storePartitions(fs, dir).filter(_ >= 0)
    if (positives.isEmpty) return None
    val e1 = positives.max // newest live batch stays unfolded
    val foldable = positives.filter(id => id >= e0 && id < e1)
    if (foldable.isEmpty) return None // nothing new below the tip
    val live =
      if (e0 == 0) col("batch_id") >= 0 && col("batch_id") < e1
      else col("batch_id") === -e0 ||
        (col("batch_id") >= e0 && col("batch_id") < e1)
    Some((e1, foldable, live))
  }

  def foldHeavyHitterStore(spark: SparkSession, storeDir: String,
      k: Int): Seq[Long] = {
    import spark.implicits._
    val dir = new org.apache.hadoop.fs.Path(storeDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (e1, foldable, live) = foldPlan(fs, dir) match {
      case None => return Nil
      case Some(p) => p
    }
    val summed = spark.read.parquet(storeDir).filter(live)
      .groupBy("value").agg(sum("cnt").as("cnt"))
      .collect()
    val n = summed.collectFirst {
      case r if r.isNullAt(0) => r.getLong(1)
    }.getOrElse(0L)
    val entries = graft.functions.FrequentItemsAgg.compress(
      summed.collect { case r if !r.isNullAt(0) =>
        r.getString(0) -> r.getLong(1)
      }.toMap, k)
    val rows = entries.toSeq.sortBy(_._1)
      .map { case (v, c) => (Option(v), c) } :+
      (Option.empty[String], n)
    writeBatchIdempotent(rows.toDF("value", "cnt"), -e1, storeDir)
    commitFoldEpoch(fs, dir, e1)
    foldable
  }

  /** Commit a fold at epoch `e1` and garbage-collect what it
    * supersedes: write the `_fold_<e1>` marker (the fold partition is
    * only LIVE once this lands — a crash before it leaves an unmarked
    * partition the read rule skips), then delete folded partitions and
    * stale markers. The read rule already ignores everything deleted
    * here — deletion is housekeeping, not correctness. Shared by every
    * epoch-folded store tier (heavy hitters, histograms).
    */
  private def commitFoldEpoch(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, e1: Long): Unit = {
    fs.create(new org.apache.hadoop.fs.Path(dir, s"_fold_$e1"), true)
      .close()
    graft.core.CrashHook.fire(s"foldMarker:$dir/_fold_$e1")
    PersistedIndex.deletePartitions(fs, dir, PersistedIndex.storePartitions(fs, dir)
      .filter(id => (id >= 0 && id < e1) || (id < 0 && id != -e1)))
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(nm => nm.startsWith("_fold_") &&
        nm.stripPrefix("_fold_").toLong < e1)
      .foreach { nm =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, nm), false)
        graft.core.CrashHook.fire(s"foldMarkerGc:$dir/$nm")
      }
  }

  // -------------------------------------------------------------------
  // Streaming quantile tier: batch_id-partitioned histogram store
  // -------------------------------------------------------------------

  /** One micro-batch of the streaming QUANTILE tier: histogram the
    * batch at the [[graft.operators.Sketches.histogramBuckets]] geometry
    * into the batch's OWN batch_id partition. Histogram counts ADD — a
    * replayed batch would double-count — so this tier rides the
    * dynamic-partition-overwrite machinery
    * ([[graft.sources.PersistedIndex.writeBatchIdempotent]]),
    * NOT the HLL tier's replay-idempotent register max: at-least-once
    * delivery + same-partition rewrite = effectively exactly-once.
    * [[streamQuantiles]] answers; [[foldHistogramStore]] compacts.
    */
  def histogramBatch(batch: DataFrame, batchId: Long, valueCol: String,
      keyCol: String, storeDir: String, sigBits: Int = 4): Unit =
    writeBatchIdempotent(
      graft.operators.Sketches.histogramBuckets(batch, valueCol, keyCol,
        sigBits), batchId, storeDir)

  /** Streaming per-key quantile tracking: fold each micro-batch's
    * integer histogram into the store — running length/size quantiles
    * over an unbounded stream with ≤ ~1k bucket rows per key per
    * partition, the fourth member of the mergeable-summary stream
    * family (exact stats / HLL distincts / heavy hitters / quantiles).
    */
  /** `foldEvery = Some(n)` compacts the store inline every n-th
    * micro-batch ([[foldHistogramStore]]) — same contract as the
    * heavy-hitter tier's option, and here the fold is EXACT, so inline
    * compaction cannot change any answer at any point.
    */
  def startHistogramStream(df: DataFrame, valueCol: String,
      keyCol: String, storeDir: String, checkpoint: String,
      sigBits: Int = 4, foldEvery: Option[Int] = None): StreamingQuery = {
    foldEvery.foreach(n => require(n > 0,
      s"startHistogramStream: foldEvery must be positive, got $n"))
    startIngest(df, checkpoint) { (b, id) =>
      histogramBatch(b, id, valueCol, keyCol, storeDir, sigBits)
      if (foldEvery.exists(n => (id + 1) % n == 0)) {
        foldHistogramStore(b.sparkSession, storeDir)
        ()
      }
    }
  }

  /** Stream-lifetime per-key quantiles off the store: bucket-wise SUM
    * over every live partition — EXACT, because the histogram of a
    * union is the sum of the histograms — then the same estimate chain
    * as the batch operator, so stream ≡ batch under ANY batch split
    * (asserted in StreamingSpec). The sum is distributed and the
    * result is ≤ ~1k rows per key: nothing collects, at any stream
    * age. Same epoch read rule as the heavy-hitter store: the
    * committed fold partition (−e) plus batches ≥ e.
    */
  def streamQuantiles(spark: SparkSession, storeDir: String,
      percentiles: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(storeDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epoch = heavyHitterFoldEpoch(fs, dir)
    val hist = spark.read.parquet(storeDir)
      .filter(liveAtEpoch(epoch))
      .groupBy("key", "bl", "sh", "idx").agg(sum("cnt").as("cnt"))
    graft.operators.Sketches.quantileEstimates(hist, percentiles)
  }

  /** Compact the histogram store: bucket-wise-sum every live partition
    * below the newest batch into one fold partition (the
    * [[foldHeavyHitterStore]] epoch/marker protocol). Unlike the
    * Misra–Gries fold, this one is EXACT — answers are identical at
    * every stream point, folded or not; what it buys is scan cost
    * (≤ ~1k rows per key group instead of one partition per micro-batch
    * forever). Fully distributed: the fold never collects.
    */
  def foldHistogramStore(spark: SparkSession,
      storeDir: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(storeDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (e1, foldable, live) = foldPlan(fs, dir) match {
      case None => return Nil
      case Some(p) => p
    }
    // materialize BEFORE the partition write: the plan reads the very
    // directory the fold adds a partition to (tiny — ≤ ~1k rows/key)
    val folded = Buffers.once(spark.read.parquet(storeDir).filter(live)
      .groupBy("key", "bl", "sh", "idx").agg(sum("cnt").as("cnt")))
    writeBatchIdempotent(folded, -e1, storeDir)
    commitFoldEpoch(fs, dir, e1)
    foldable
  }

  /** Streaming per-key cardinality tracking: fold each micro-batch into
    * the persisted HLL store ([[graft.operators.Sketches.appendHllStore]])
    * — running distinct-per-stratum counts over an unbounded stream with
    * constant state (one ≤ 2^lgK-register sketch per key group).
    * Replay safety needs NO batch_id machinery here: HLL union is
    * idempotent for a replayed identical batch (register-wise max), so
    * a crash between the fold and the checkpoint commit re-runs to the
    * identical store. Bootstrap the store first
    * ([[graft.operators.Sketches.ensureHllStore]]) so a mistyped table
    * fails loudly on the first batch.
    */
  def startCardinalityTracking(docs: DataFrame, table: String,
      checkpoint: String): StreamingQuery =
    startIngest(docs, checkpoint)((b, _) =>
      graft.operators.Sketches.appendHllStore(b, table))

  /** T4/T5: start a running-aggregate query into the in-memory table
    * `name` (complete mode) with a checkpoint — stop + restart with the
    * same checkpoint resumes the state exactly (tested in StreamingSpec).
    */
  def startMemorySink(df: DataFrame, name: String,
      checkpoint: String): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", checkpoint)
      .start()
}
