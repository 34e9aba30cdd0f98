package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}
import org.apache.spark.sql.types.StructType
import graft.core.{Buffers, CrashHook}
import graft.sources.PersistedIndex
import graft.streaming.Streams

class StreamingSpec extends SparkSpec {
  import SparkSpec.spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext =
    SparkSpec.spark.sqlContext

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-stream-$tag").toString

  test("T5: running word counts accumulate across micro-batches") {
    val in = MemoryStream[String]
    val q = Streams.runningWordCounts(in.toDF())
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("t5").start()
    try {
      in.addData("spark streams spark")
      q.processAllAvailable()
      spark.table("t5").filter(col("word") === "spark")
        .collect()(0).getAs[Long]("cnt") shouldBe 2L
      in.addData("spark again")
      q.processAllAvailable()
      spark.table("t5").filter(col("word") === "spark")
        .collect()(0).getAs[Long]("cnt") shouldBe 3L // state carried over
    } finally q.stop()
  }

  test("T9: hashtag pipeline filters, lowercases and counts") {
    val in = MemoryStream[String]
    val q = Streams.hashtagCounts(in.toDF())
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("t9").start()
    try {
      in.addData("check #Spark and #spark plus #OTHER words")
      q.processAllAvailable()
      val rows = spark.table("t9").collect()
        .map(r => r.getAs[String]("hashtag") -> r.getAs[Long]("cnt")).toMap
      rows shouldBe Map("#spark" -> 2L, "#other" -> 1L)
    } finally q.stop()
  }

  test("T6: mapGroupsWithState running average carries composite state") {
    val in = MemoryStream[(String, Double)]
    val q = Streams.runningAvgWithState(in.toDS())
      .toDF().writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("t6").start()
    try {
      in.addData(("u1", 10.0), ("u1", 20.0), ("u2", 5.0))
      q.processAllAvailable()
      in.addData(("u1", 30.0))
      q.processAllAvailable()
      // last update for u1 reflects ALL three values: (10+20+30)/3
      val u1 = spark.table("t6").filter(col("key") === "u1")
        .orderBy(col("count").desc).collect()(0)
      u1.getAs[Long]("count") shouldBe 3L
      u1.getAs[Double]("avg") shouldBe 20.0
    } finally q.stop()
  }

  test("T7: sliding event-time windows with watermark") {
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "event_type")
    val q = Streams.slidingEventCounts(df)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("t7").start()
    try {
      in.addData(
        (Timestamp.valueOf("2026-01-01 10:02:00"), "click"),
        (Timestamp.valueOf("2026-01-01 10:07:00"), "click"))
      q.processAllAvailable()
      val rows = spark.table("t7").collect()
      // 10:02 falls in [9:55,10:05) and [10:00,10:10); 10:07 in
      // [10:00,10:10) and [10:05,10:15) -> the 10:00 window holds both
      val w10 = rows.filter(_.getAs[Timestamp]("window_start")
        == Timestamp.valueOf("2026-01-01 10:00:00"))
      w10.length shouldBe 1
      w10(0).getAs[Long]("n_events") shouldBe 2L
      rows.length shouldBe 3
    } finally q.stop()
  }

  test("session_window: streaming sessionization finalizes sessions in append mode") {
    val in = MemoryStream[(Timestamp, Long, Double)]
    val df = in.toDF().toDF("ts", "user_id", "value")
    val q = Streams.sessionWindows(df, gap = "30 minutes",
      watermarkDelay = "10 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess").start()
    try {
      // u1: two events 10 min apart (one session), then a 2h-later event
      // (second session, still open)
      in.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), 1L, 5.0),
        (Timestamp.valueOf("2026-01-01 10:10:00"), 1L, 7.0),
        (Timestamp.valueOf("2026-01-01 12:30:00"), 1L, 1.0))
      q.processAllAvailable()
      // advance the watermark far past the first session's close so it is
      // finalized and emitted
      in.addData((Timestamp.valueOf("2026-01-01 18:00:00"), 2L, 0.0))
      q.processAllAvailable()
      val u1 = spark.table("sess").filter(col("user_id") === 1L)
        .orderBy("session_start").collect()
      u1.length shouldBe 2
      u1(0).getAs[Long]("n_events") shouldBe 2L
      u1(0).getAs[Double]("session_value") shouldBe 12.0
      u1(0).getAs[Timestamp]("session_start") shouldBe
        Timestamp.valueOf("2026-01-01 10:00:00")
      // session close = last event + gap
      u1(0).getAs[Timestamp]("session_end") shouldBe
        Timestamp.valueOf("2026-01-01 10:40:00")
      u1(1).getAs[Long]("n_events") shouldBe 1L
    } finally q.stop()
  }

  test("closedSessions emits each session exactly once, on close") {
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "user_id")
    val q = Streams.closedSessions(df, gapSeconds = 1800L,
      watermarkDelay = "10 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("closed").start()
    try {
      // u1: two events 10 min apart, then 2h later a third -> the first
      // session closes INLINE within the batch; the second stays open
      in.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), 1L),
        (Timestamp.valueOf("2026-01-01 10:10:00"), 1L),
        (Timestamp.valueOf("2026-01-01 12:30:00"), 1L))
      q.processAllAvailable()
      // a far-future event advances the watermark past 13:00 so u1's
      // open session fires its event-time TIMEOUT (no u1 data needed)
      in.addData((Timestamp.valueOf("2026-01-01 18:00:00"), 2L))
      q.processAllAvailable()
      val u1 = spark.table("closed").filter(col("user_id") === 1L)
        .orderBy("session_start").collect()
      u1.length shouldBe 2
      u1(0).getAs[Timestamp]("session_start") shouldBe
        Timestamp.valueOf("2026-01-01 10:00:00")
      // close = LAST EVENT (not +gap: this is the raw extent form)
      u1(0).getAs[Timestamp]("session_end") shouldBe
        Timestamp.valueOf("2026-01-01 10:10:00")
      u1(0).getAs[Long]("n_events") shouldBe 2L
      u1(1).getAs[Timestamp]("session_start") shouldBe
        Timestamp.valueOf("2026-01-01 12:30:00")
      u1(1).getAs[Long]("n_events") shouldBe 1L
      // u2's session is still open -> not emitted
      spark.table("closed").filter(col("user_id") === 2L)
        .count() shouldBe 0L
    } finally q.stop()
  }

  test("closedSessions: late events before the open session follow the gap rule") {
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "user_id")
    // generous watermark so a 2h-late event is still admitted
    val q = Streams.closedSessions(df, gapSeconds = 1800L,
      watermarkDelay = "6 hours")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("lateclosed").start()
    try {
      // batch 1: the open session starts at 12:00
      in.addData((Timestamp.valueOf("2026-01-01 12:00:00"), 1L))
      q.processAllAvailable()
      // batch 2, both late but within the watermark:
      //  - 10:00 is > gap before the open start -> its own earlier
      //    session (emitted once the watermark passes 10:30)
      //  - 11:45 is within the gap of 12:00 -> extends the start BACK
      in.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), 1L),
        (Timestamp.valueOf("2026-01-01 11:45:00"), 1L))
      q.processAllAvailable()
      // advance the watermark far past 12:00+gap so the open session
      // times out
      in.addData((Timestamp.valueOf("2026-01-02 12:00:00"), 2L))
      q.processAllAvailable()
      val u1 = spark.table("lateclosed").filter(col("user_id") === 1L)
        .orderBy("session_start").collect()
      u1.length shouldBe 2
      u1(0).getAs[Timestamp]("session_start") shouldBe
        Timestamp.valueOf("2026-01-01 10:00:00")
      u1(0).getAs[Timestamp]("session_end") shouldBe
        Timestamp.valueOf("2026-01-01 10:00:00")
      u1(0).getAs[Long]("n_events") shouldBe 1L
      u1(1).getAs[Timestamp]("session_start") shouldBe
        Timestamp.valueOf("2026-01-01 11:45:00") // extended backward
      u1(1).getAs[Timestamp]("session_end") shouldBe
        Timestamp.valueOf("2026-01-01 12:00:00")
      u1(1).getAs[Long]("n_events") shouldBe 2L
    } finally q.stop()
  }

  test("closedSessions: randomized event order across batches equals the batch fold") {
    // seeded property check: any within-watermark arrival order must
    // yield exactly the sessions of the time-sorted batch gap rule —
    // the class of bug the round-5 advice found (pre-start late events)
    val rnd = new scala.util.Random(20260813L)
    val gapMs = 1800L * 1000L
    val base = java.sql.Timestamp.valueOf("2026-02-01 00:00:00").getTime
    val events = (1L to 40L).flatMap { user =>
      (0 until (5 + rnd.nextInt(25))).map { _ =>
        // 6h span, second-granular: clusters + stragglers both occur
        (user, base + rnd.nextInt(6 * 3600) * 1000L)
      }
    }
    def reference(times: Seq[Long]): Seq[(Long, Long, Long)] =
      times.sorted.foldLeft(Vector.empty[(Long, Long, Long)]) {
        case (acc, t) => acc.lastOption match {
          case Some((s, e, n)) if t - e <= gapMs =>
            acc.init :+ ((s, math.max(e, t), n + 1L))
          case _ => acc :+ ((t, t, 1L))
        }
      }
    val expected = events.groupBy(_._1).view
      .mapValues(evs => reference(evs.map(_._2))).toMap
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "user_id")
    val q = Streams.closedSessions(df, gapSeconds = 1800L,
      watermarkDelay = "24 hours")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("propsessions").start()
    try {
      // globally shuffled, split into 5 random batches: heavy cross-
      // batch disorder, every event still within the 24h watermark
      val shuffled = rnd.shuffle(events)
      shuffled.grouped((shuffled.size + 4) / 5).foreach { chunk =>
        in.addData(chunk.map { case (u, t) => (new Timestamp(t), u) })
        q.processAllAvailable()
      }
      // sentinel 3 days out: watermark passes every end + gap -> all
      // open sessions time out and flush
      in.addData((new Timestamp(base + 72L * 3600 * 1000), 9999L))
      q.processAllAvailable()
      val got = spark.table("propsessions")
        .filter(col("user_id") =!= 9999L).collect()
        .groupBy(_.getAs[Long]("user_id")).view.mapValues(_.map(r => (
          r.getAs[Timestamp]("session_start").getTime,
          r.getAs[Timestamp]("session_end").getTime,
          r.getAs[Long]("n_events"))).sortBy(x => (x._1, x._2)).toSeq)
        .toMap
      got.keySet shouldBe expected.keySet
      got.foreach { case (user, sessions) =>
        withClue(s"user $user:") {
          sessions shouldBe expected(user).sortBy(x => (x._1, x._2))
        }
      }
    } finally q.stop()
  }

  test("stream-static enrichment joins each batch against the broadcast dim") {
    val in = MemoryStream[(Long, Double)]
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = Streams.streamStaticEnrich(
      in.toDF().toDF("user_id", "value"), dim, Seq("user_id"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("enrich").start()
    try {
      in.addData((1L, 5.0), (2L, 7.0), (3L, 9.0)) // 3 has no dim row
      q.processAllAvailable()
      val rows = spark.table("enrich").collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[String]("tier")).toMap
      rows shouldBe Map(1L -> "gold", 2L -> "basic")
    } finally q.stop()
  }

  test("stream-stream attribution join matches views into purchase windows") {
    val views = MemoryStream[(Timestamp, Long, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    def ev(s: MemoryStream[(Timestamp, Long, Long)]) =
      s.toDF().toDF("ts", "user_id", "event_id")
    val q = Streams.streamingAttribution(ev(views), ev(purchases),
      horizonSeconds = 3600L)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("attr").start()
    try {
      purchases.addData((Timestamp.valueOf("2026-01-01 10:00:00"), 1L, 100L))
      views.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), 1L, 200L), // t=0 in
        (Timestamp.valueOf("2026-01-01 10:59:59"), 1L, 201L), // in window
        (Timestamp.valueOf("2026-01-01 11:00:00"), 1L, 202L), // end excl.
        (Timestamp.valueOf("2026-01-01 09:59:59"), 1L, 203L), // before
        (Timestamp.valueOf("2026-01-01 10:30:00"), 2L, 204L)) // other user
      q.processAllAvailable()
      val got = spark.table("attr").collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("view_id")))
        .toSet
      got shouldBe Set((100L, 200L), (100L, 201L))
    } finally q.stop()
  }

  test("left-outer attribution emits unattributed purchases after the watermark") {
    val views = MemoryStream[(Timestamp, Long, Long)]
    val purchases = MemoryStream[(Timestamp, Long, Long)]
    def ev(s: MemoryStream[(Timestamp, Long, Long)]) =
      s.toDF().toDF("ts", "user_id", "event_id")
    val q = Streams.streamingAttribution(ev(views), ev(purchases),
      horizonSeconds = 3600L, delayThreshold = "10 minutes",
      joinType = "left_outer")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("louter").start()
    try {
      purchases.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), 1L, 100L), // no view
        (Timestamp.valueOf("2026-01-01 10:00:00"), 2L, 200L)) // has one
      views.addData((Timestamp.valueOf("2026-01-01 10:30:00"), 2L, 10L))
      q.processAllAvailable()
      // advance BOTH watermarks past purchase + horizon + delay so the
      // engine can prove u1's purchase stays unmatched
      views.addData((Timestamp.valueOf("2026-01-01 15:00:00"), 9L, 99L))
      purchases.addData(
        (Timestamp.valueOf("2026-01-01 15:00:00"), 9L, 999L))
      q.processAllAvailable()
      val rows = spark.table("louter").collect()
      val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
      u1.length shouldBe 1
      u1(0).isNullAt(u1(0).fieldIndex("view_id")) shouldBe true
      val u2 = rows.filter(_.getAs[Long]("user_id") == 2L)
      u2.length shouldBe 1
      u2(0).getAs[Long]("view_id") shouldBe 10L
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: dedup state is bounded by event time") {
    // the documented upgrade path of Streams.streamingExactDedup for
    // unbounded key spaces: duplicates within the watermark are dropped,
    // and a key seen again AFTER its state aged out is re-admitted —
    // state never grows past the watermark horizon
    val in = MemoryStream[(Timestamp, String)]
    val df = in.toDF().toDF("ts", "fp")
    val q = df.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("fp")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wmdedup").start()
    try {
      in.addData(
        (Timestamp.valueOf("2026-01-01 10:00:00"), "A"),
        (Timestamp.valueOf("2026-01-01 10:01:00"), "A")) // dup, in window
      q.processAllAvailable()
      spark.table("wmdedup").filter(col("fp") === "A").count() shouldBe 1
      // push the watermark far past A's expiry so its state is evicted
      in.addData((Timestamp.valueOf("2026-01-01 14:00:00"), "B"))
      q.processAllAvailable()
      // A reappears hours later: old state gone, so it is emitted again
      in.addData((Timestamp.valueOf("2026-01-01 14:05:00"), "A"))
      q.processAllAvailable()
      spark.table("wmdedup").filter(col("fp") === "A").count() shouldBe 2
    } finally q.stop()
  }

  test("T2/T3/T8/T10: foreachBatch emits ranked top-N per batch") {
    val in = MemoryStream[String]
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Seq[(String, Long)])]()
    val q = Streams.startRankedForeachBatch(
      Streams.runningWordCounts(in.toDF()), n = 2, tmp("t10"),
      (rows, id) => seen.synchronized {
        seen += ((id, rows.map(r =>
          r.getAs[String]("word") -> r.getAs[Long]("cnt")).toSeq))
      })
    try {
      in.addData("b b b a a c")
      q.processAllAvailable()
      val last = seen.synchronized(seen.last._2)
      last shouldBe Seq("b" -> 3L, "a" -> 2L) // ranked, capped at N
    } finally q.stop()
  }

  test("stream over the driver's events parquet equals the batch answer") {
    // the real testdata as a stream: same transform, same result as batch
    // the file stream source wants a directory; stage the single parquet
    // file into one
    val dir = tmp("evt-src")
    Files.copy(java.nio.file.Paths.get(s"${SparkSpec.sfDir}/events.parquet"),
      java.nio.file.Paths.get(dir, "events.parquet"))
    val raw = spark.read.parquet(dir)
    // mirror Tables.events (legacy int64-nanos testdata needs the µs
    // conversion), then force session-local TIMESTAMP: the watermark
    // clock rejects TIMESTAMP_NTZ, and under the repo's fixed UTC
    // session the cast is value-identical
    def toEventTime(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      (if (df.schema("ts").dataType ==
          org.apache.spark.sql.types.LongType)
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else df).withColumn("ts", col("ts").cast("timestamp"))
    val stream = toEventTime(
      spark.readStream.schema(raw.schema).parquet(dir))
    val q = Streams.slidingEventCounts(stream)
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("evt").start()
    try {
      q.processAllAvailable()
      val streamed = rowSet(spark.table("evt"))
      val batch = rowSet(toEventTime(tables.events)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("window_start"),
          col("w.end").as("window_end"),
          col("event_type"), col("n_events")))
      streamed shouldBe batch
    } finally q.stop()
  }

  test("streaming exact-dedup keeps first-seen content across batches") {
    val in = MemoryStream[(Long, String)]
    val q = Streams.streamingExactDedup(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup").start()
    try {
      in.addData((1L, "same content"), (2L, "other content"))
      q.processAllAvailable()
      in.addData((3L, "SAME   content"), (4L, "new content")) // 3 dups 1
      q.processAllAvailable()
      val ids = spark.table("dedup").select("doc_id")
        .as[Long].collect().sorted
      ids.toSeq shouldBe Seq(1L, 2L, 4L) // cross-batch dup suppressed
    } finally q.stop()
  }

  test("batch text operators compose unchanged onto a stream") {
    val in = MemoryStream[(Long, String)]
    // TextAnalysis.qualityFeatures is a plain DataFrame function — the
    // same code path serves batch tables and unbounded streams
    val q = graft.operators.TextAnalysis.qualityFeatures(
      in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("qf").start()
    try {
      in.addData((1L, "the quick brown fox"), (2L, ""))
      q.processAllAvailable()
      val r = spark.table("qf").orderBy("doc_id").collect()
      r(0).getAs[Long]("n_tokens") shouldBe 4L
      r(0).getAs[Double]("stopword_ratio") shouldBe 0.25
      r(1).getAs[Long]("n_tokens") shouldBe 0L
    } finally q.stop()
  }

  test("S14: replay producer feeds the file stream in rate-limited batches") {
    val dir = tmp("replay")
    val lines = Seq.tabulate(10)(i => s"event $i").toDF("value")
    val written = graft.streaming.Replay.replayLines(
      lines, dir, batchSize = 4, intervalMs = 10)
    written shouldBe 10L
    // 10 lines in batches of 4 -> 3 files, all complete
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".txt"))
    files.length shouldBe 3
    val q = Streams.runningWordCounts(Streams.fileLines(spark, dir))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("replay").start()
    try {
      q.processAllAvailable()
      spark.table("replay").filter(col("word") === "event")
        .collect()(0).getAs[Long]("cnt") shouldBe 10L
    } finally q.stop()
  }

  test("T4: checkpointed query resumes state across restart") {
    val srcDir = tmp("t4-src")
    val ckpt = tmp("t4-ckpt")
    def start(name: String) =
      Streams.startMemorySink(
        Streams.runningWordCounts(Streams.fileLines(spark, srcDir)),
        name, ckpt)

    Files.writeString(java.nio.file.Paths.get(srcDir, "f1.txt"), "a a b\n")
    val q1 = start("t4a")
    try { q1.processAllAvailable() } finally q1.stop()
    spark.table("t4a").filter(col("word") === "a")
      .collect()(0).getAs[Long]("cnt") shouldBe 2L

    // new data lands while the query is DOWN; restart from the checkpoint
    Files.writeString(java.nio.file.Paths.get(srcDir, "f2.txt"), "a c\n")
    val q2 = start("t4b")
    try { q2.processAllAvailable() } finally q2.stop()
    val counts = spark.table("t4b").collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("cnt")).toMap
    // state recovered: 'a' counts from BOTH files; f1 not re-emitted twice
    counts shouldBe Map("a" -> 3L, "b" -> 1L, "c" -> 1L)
  }

  test("S12: socket source streams lines from a live loopback socket") {
    val server = new java.net.ServerSocket(
      0, 1, java.net.InetAddress.getLoopbackAddress)
    val port = server.getLocalPort
    @volatile var sock: java.net.Socket = null
    // the socket source connects on query start; this thread plays the
    // netcat side — accept once, write lines, leave the pipe open so the
    // source's reader thread can drain it
    val writer = new Thread(() => {
      try {
        val s = server.accept()
        sock = s
        val out = new java.io.PrintWriter(
          new java.io.OutputStreamWriter(s.getOutputStream,
            java.nio.charset.StandardCharsets.UTF_8), true)
        out.println("spark streams spark")
        out.println("more spark lines")
      } catch { case _: Throwable => () }
    })
    writer.setDaemon(true)
    writer.start()
    val q = Streams.runningWordCounts(
        Streams.socketLines(spark, "127.0.0.1", port))
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("s12").start()
    try {
      // socket delivery is asynchronous (a reader thread buffers lines
      // between micro-batches): poll until the counts land
      def cnt(w: String): Long = spark.table("s12")
        .filter(col("word") === w).collect()
        .headOption.map(_.getAs[Long]("cnt")).getOrElse(0L)
      val deadline = System.nanoTime() + 30L * 1000L * 1000L * 1000L
      while (cnt("spark") != 3L && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(50)
      }
      cnt("spark") shouldBe 3L
      cnt("lines") shouldBe 1L
    } finally {
      q.stop()
      if (sock != null) sock.close()
      server.close()
    }
  }

  test("deduped ingest: cross-batch dups dropped once, replay idempotent") {
    val (out, fp, ckpt) = (tmp("ingest-out"), tmp("ingest-fp"),
      tmp("ingest-ckpt"))
    // createTempDirectory pre-creates the dirs; the sinks must own them
    Seq(out, fp).foreach(d => new java.io.File(d).delete())
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = Streams.startDedupedIngest(docs, out, fp, ckpt)
    try {
      // batch 0: doc 2 is a normalization-dup of doc 1 -> self-dedup
      in.addData((1L, "alpha beta gamma"), (2L, "ALPHA  beta gamma"),
        (3L, "delta epsilon"))
      q.processAllAvailable()
      // batch 1: doc 4 duplicates batch 0's doc 1 -> store screen;
      // doc 5 is fresh
      in.addData((4L, "alpha beta gamma"), (5L, "zeta eta"))
      q.processAllAvailable()
    } finally q.stop()
    def landed(): Seq[Long] = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    landed() shouldBe Seq(1L, 3L, 5L)
    // the store holds exactly one fingerprint per landed doc
    spark.read.parquet(fp).select("fp").distinct().count() shouldBe 3L
    // replay batch 0 verbatim (what the engine does after a crash
    // before the checkpoint commit): every write is a same-partition
    // rewrite — the end state must be the same answer, no duplicates
    val batch0 = Seq((1L, "alpha beta gamma"), (2L, "ALPHA  beta gamma"),
      (3L, "delta epsilon")).toDF("doc_id", "text")
    Streams.dedupIngestBatch(batch0, 0L, out, fp)
    landed() shouldBe Seq(1L, 3L, 5L)
    spark.read.parquet(fp).count() shouldBe 3L
  }

  test("deduped ingest: random batch splits land exactly one doc per fingerprint") {
    val (out, fp) = (tmp("ingest-rnd-out"), tmp("ingest-rnd-fp"))
    Seq(out, fp).foreach(d => new java.io.File(d).delete())
    val rnd = new scala.util.Random(42L)
    // 60 docs over 20 distinct texts -> every text duplicated ~3x,
    // spread arbitrarily across 4 batches
    val docs = (1L to 60L).map(i => (i, s"text body number ${rnd.nextInt(20)}"))
    val batches = rnd.shuffle(docs).grouped(15).toSeq
    batches.zipWithIndex.foreach { case (b, id) =>
      Streams.dedupIngestBatch(b.toDF("doc_id", "text"), id.toLong, out, fp)
    }
    val n = docs.map(_._2).distinct.size.toLong
    val landed = spark.read.parquet(out)
    landed.count() shouldBe n
    // one survivor per distinct fingerprint, store in lockstep
    landed.select("text").distinct().count() shouldBe n
    spark.read.parquet(fp).select("fp").distinct().count() shouldBe n
    spark.read.parquet(fp).count() shouldBe n
  }

  test("deduped ingest: replay from the crash-window partial state converges") {
    // the one reachable partial state is output-written-store-not (the
    // write order's whole point): simulate the crash by deleting the
    // store partition after a clean run, then replay the batch
    val (out, fp) = (tmp("ingest-crash-out"), tmp("ingest-crash-fp"))
    Seq(out, fp).foreach(d => new java.io.File(d).delete())
    val b0 = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val b1 = Seq((3L, "alpha beta"), (4L, "epsilon zeta")).toDF("doc_id", "text")
    Streams.dedupIngestBatch(b0, 0L, out, fp)
    Streams.dedupIngestBatch(b1, 1L, out, fp)
    def state() = (
      spark.read.parquet(out).select("doc_id").as[Long].collect().sorted.toSeq,
      spark.read.parquet(fp).select("fp").as[String].collect().sorted.toSeq)
    val clean = state()
    clean._1 shouldBe Seq(1L, 2L, 4L) // doc 3 screened against batch 0
    // crash window: batch 1's store partition vanishes, output remains
    val part = new java.io.File(s"$fp/batch_id=1")
    part.exists() shouldBe true
    part.listFiles().foreach(_.delete()); part.delete() shouldBe true
    Streams.dedupIngestBatch(b1, 1L, out, fp) // engine re-delivery
    state() shouldBe clean
  }

  test("near-dup ingest: reworded repost screened across batches, replay idempotent") {
    val (out, sig, ckpt) = (tmp("nd-ingest-out"), tmp("nd-ingest-sig"),
      tmp("nd-ingest-ckpt"))
    Seq(out, sig).foreach(d => new java.io.File(d).delete())
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val q = Streams.startIngest(docs, ckpt)(
      Streams.nearDupIngestBatch(_, _, out, sig))
    try {
      in.addData((1L, "alpha beta gamma delta"))
      q.processAllAvailable()
      // batch 1: doc 3 is a REWORDED repost of doc 1 (same token set,
      // different order and whitespace -> different fingerprint, equal
      // simhash) -> near-dup screen drops it; doc 4 is fresh
      in.addData((3L, "delta  gamma beta alpha"),
        (4L, "entirely different content with novel tokens"))
      q.processAllAvailable()
    } finally q.stop()
    def landed(): Seq[Long] = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    landed() shouldBe Seq(1L, 4L)
    // the store holds 4 chunk rows per LANDED doc only — the screened
    // doc's signature must never enter it
    spark.read.parquet(sig).count() shouldBe 8L
    // verbatim replay of batch 1 (post-crash re-delivery): identical
    val batch1 = Seq((3L, "delta  gamma beta alpha"),
      (4L, "entirely different content with novel tokens"))
      .toDF("doc_id", "text")
    Streams.nearDupIngestBatch(batch1, 1L, out, sig)
    landed() shouldBe Seq(1L, 4L)
    spark.read.parquet(sig).count() shouldBe 8L
  }

  test("deduped ingest: folds between batches of a RUNNING stream land no duplicate") {
    // the stream's batches run in its own session; the fold appends to
    // the index from this one. Each batch re-sends every earlier text
    // plus five new ones, and the store folds after every second batch:
    // a batch that read a stale index listing would let the folded
    // fingerprints through
    val (out, fp, ckpt) = (tmp("live-fold-out"), tmp("live-fold-fp"),
      tmp("live-fold-ckpt"))
    Seq(out, fp).foreach(d => new java.io.File(d).delete())
    val idx = "live_fold_fp_idx"
    spark.sql(s"DROP TABLE IF EXISTS $idx")
    graft.operators.Dedup.ensureFingerprintIndex(spark, idx)
    val in = MemoryStream[(Long, String)]
    val q = Streams.startDedupedIngest(in.toDF().toDF("doc_id", "text"),
      out, fp, ckpt, indexTable = Some(idx))
    var folded = 0
    try {
      (0 until 8).foreach { b =>
        in.addData((0 until 5 * (b + 1)).map(i =>
          (b * 1000L + i, s"live fold text number $i")))
        q.processAllAvailable()
        if (b % 2 == 1) folded += Streams.foldFingerprintStore(spark, fp,
          idx).size
      }
    } finally q.stop()
    folded should be > 0
    val landed = spark.read.parquet(out).select("text").as[String]
      .collect().toSeq
    landed.size shouldBe 40
    landed.distinct.size shouldBe 40
  }

  test("store→index fold: screen unchanged across folds, newest batch kept") {
    // control run (no index, store accumulates forever) vs a run that
    // folds after EVERY batch: landed sets must be identical — the
    // probe-both window means a fold never changes what a batch screens
    // against, before/during/after any number of folds
    val (outA, fpA) = (tmp("fold-ctl-out"), tmp("fold-ctl-fp"))
    val (outB, fpB) = (tmp("fold-out"), tmp("fold-fp"))
    Seq(outA, fpA, outB, fpB).foreach(d => new java.io.File(d).delete())
    val idx = "fold_fp_idx"
    spark.sql(s"DROP TABLE IF EXISTS $idx")
    graft.operators.Dedup.ensureFingerprintIndex(spark, idx)
    val rnd = new scala.util.Random(7L)
    val docs = (1L to 40L).map(i => (i, s"fold corpus text ${rnd.nextInt(12)}"))
    val batches = rnd.shuffle(docs).grouped(8).toSeq
    batches.zipWithIndex.foreach { case (b, id) =>
      Streams.dedupIngestBatch(b.toDF("doc_id", "text"), id.toLong, outA, fpA)
      Streams.dedupIngestBatch(b.toDF("doc_id", "text"), id.toLong, outB, fpB,
        Some(idx))
      Streams.foldFingerprintStore(spark, fpB, idx)
    }
    def landed(out: String): Seq[Long] = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    landed(outB) shouldBe landed(outA)
    // the folded store holds at most ONE batch partition (the newest
    // that landed survivors — an all-dups batch writes none) — probe
    // cost is flat in stream lifetime, not linear
    val parts = new java.io.File(fpB).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName).sorted
    parts.length should be <= 1
    // screen set preserved exactly: index ∪ store = every landed fp
    val n = docs.map(_._2).distinct.size.toLong
    spark.table(idx).union(
      spark.read.parquet(fpB).select("fp")).distinct().count() shouldBe n
    // replay of the newest batch (the only replayable one — fold keeps
    // it unfolded precisely so this converges) changes nothing
    val last = batches.size - 1
    Streams.dedupIngestBatch(batches(last).toDF("doc_id", "text"),
      last.toLong, outB, fpB, Some(idx))
    landed(outB) shouldBe landed(outA)
  }

  test("bloom-tier ingest: landed set identical with and without the bloom") {
    // control (index fold, no bloom) vs bloom-tiered run: the bloom is
    // an optimization over the index anti-join, never a semantic change
    val (outA, fpA) = (tmp("blm-ctl-out"), tmp("blm-ctl-fp"))
    val (outB, fpB) = (tmp("blm-out"), tmp("blm-fp"))
    Seq(outA, fpA, outB, fpB).foreach(d => new java.io.File(d).delete())
    val (idxA, idxB, blm) = ("blm_fp_idx_ctl", "blm_fp_idx", "blm_bloom")
    Seq(idxA, idxB, blm, blm + "__spec", idxB + "__bloom_pair")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.operators.Dedup.ensureFingerprintIndex(spark, idxA)
    graft.operators.Dedup.ensureFingerprintIndex(spark, idxB)
    graft.operators.Dedup.ensureBloomIndex(spark, blm, idxB,
      expectedItems = 1000)
    val rnd = new scala.util.Random(11L)
    val docs = (1L to 60L).map(i => (i, s"bloom tier text ${rnd.nextInt(15)}"))
    val batches = rnd.shuffle(docs).grouped(10).toSeq
    batches.zipWithIndex.foreach { case (b, id) =>
      Streams.dedupIngestBatch(b.toDF("doc_id", "text"), id.toLong,
        outA, fpA, Some(idxA))
      Streams.foldFingerprintStore(spark, fpA, idxA)
      Streams.dedupIngestBatch(b.toDF("doc_id", "text"), id.toLong,
        outB, fpB, Some(idxB), Some(blm))
      Streams.foldFingerprintStore(spark, fpB, idxB,
        bloomTable = Some(blm))
    }
    def landed(out: String): Seq[Long] = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    landed(outB) shouldBe landed(outA)
    // the fold's bloom-before-index crash window: bloom ORs in fps the
    // index hasn't absorbed yet (bloom ⊇ index — the safe direction).
    // A dup of a landed doc still screens (store/index agree), a fresh
    // doc still lands through the residue join.
    graft.operators.Dedup.appendBloomFingerprints(
      spark.read.parquet(fpB).select("fp"), blm)
    Streams.dedupIngestBatch(
      Seq((101L, docs.head._2), (102L, "bloom tier genuinely fresh"))
        .toDF("doc_id", "text"), 90L, outB, fpB, Some(idxB), Some(blm))
    landed(outB) shouldBe (landed(outA) :+ 102L)
    // a bloom table without its spec is half-built: reject loudly
    spark.sql(s"DROP TABLE IF EXISTS ${blm}__spec")
    an[IllegalStateException] should be thrownBy
      Streams.dedupIngestBatch(
        Seq((103L, "x")).toDF("doc_id", "text"), 91L, outB, fpB,
        Some(idxB), Some(blm))
  }

  test("bloom pairing: paired index refuses an unpaired fold; crossed wires are loud") {
    val (out, fp) = (tmp("pair-out"), tmp("pair-fp"))
    Seq(out, fp).foreach(d => new java.io.File(d).delete())
    val (idx, idx2, blm) = ("pair_fp_idx", "pair_fp_idx2", "pair_bloom")
    Seq(idx, idx2, blm, blm + "__spec", idx + "__bloom_pair",
      idx2 + "__bloom_pair")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    graft.operators.Dedup.ensureFingerprintIndex(spark, idx)
    graft.operators.Dedup.ensureFingerprintIndex(spark, idx2)
    graft.operators.Dedup.ensureBloomIndex(spark, blm, idx)
    Streams.dedupIngestBatch(Seq((1L, "pair a")).toDF("doc_id", "text"),
      0L, out, fp, Some(idx), Some(blm))
    Streams.dedupIngestBatch(Seq((2L, "pair b")).toDF("doc_id", "text"),
      1L, out, fp, Some(idx), Some(blm))
    // folding a bloom-paired index WITHOUT its bloom would grow the
    // index past the bloom → already-indexed docs would later pass the
    // !might_contain fast path and land as silent duplicates. Loud now.
    an[IllegalArgumentException] should be thrownBy
      Streams.foldFingerprintStore(spark, fp, idx)
    // screening through a bloom built over a DIFFERENT index: loud too
    an[IllegalArgumentException] should be thrownBy
      Streams.dedupIngestBatch(Seq((3L, "pair c")).toDF("doc_id", "text"),
        2L, out, fp, Some(idx2), Some(blm))
    // the correctly-paired fold proceeds
    Streams.foldFingerprintStore(spark, fp, idx,
      bloomTable = Some(blm)) should not be empty
  }

  test("store→index fold: crash between append and cleanup re-runs to the same state") {
    val (out, fp) = (tmp("fold-crash-out"), tmp("fold-crash-fp"))
    Seq(out, fp).foreach(d => new java.io.File(d).delete())
    val idx = "fold_fp_crash_idx"
    spark.sql(s"DROP TABLE IF EXISTS $idx")
    graft.operators.Dedup.ensureFingerprintIndex(spark, idx)
    Seq(
      Seq((1L, "crash alpha"), (2L, "crash beta")),
      Seq((3L, "crash gamma"), (4L, "crash alpha")), // 4 dups batch 0's 1
      Seq((5L, "crash delta"))
    ).zipWithIndex.foreach { case (b, id) =>
      Streams.dedupIngestBatch(b.toDF("doc_id", "text"), id.toLong, out, fp,
        Some(idx))
    }
    // the fold's one crash window: append committed, store cleanup not —
    // reproduce it by running the append step alone (exactly fold step 1)
    graft.operators.Dedup.fingerprintIndex().appendRows(
      spark.read.parquet(fp).filter(col("batch_id") < 2).select("fp"), idx)
    val fpsInIndex = spark.table(idx).count()
    fpsInIndex shouldBe 3L // alpha, beta, gamma — batch 2's delta unfolded
    // mid-crash-window the screen still works: a dup of a FOLDED doc is
    // dropped (its fp is now in both store and index — anti-join agrees)
    Streams.dedupIngestBatch(
      Seq((6L, "crash  ALPHA"), (7L, "crash epsilon")).toDF("doc_id", "text"),
      3L, out, fp, Some(idx))
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .toSeq shouldBe Seq(1L, 2L, 3L, 5L, 7L)
    // re-run the fold (the recovery): the re-append is a no-op anti-join,
    // cleanup completes, and the screen set is unchanged
    Streams.foldFingerprintStore(spark, fp, idx) should not be empty
    spark.table(idx).count() shouldBe 4L // + epsilon; alpha/beta/gamma once
    spark.table(idx).distinct().count() shouldBe 4L
    val parts = new java.io.File(fp).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName).sorted
    parts shouldBe Array("batch_id=3")
    // and the folded pipeline still screens: replay + a fresh dup batch
    Streams.dedupIngestBatch(
      Seq((8L, "crash gamma"), (9L, "crash zeta")).toDF("doc_id", "text"),
      4L, out, fp, Some(idx))
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .toSeq shouldBe Seq(1L, 2L, 3L, 5L, 7L, 9L)
  }

  test("simhash store→index fold: folded signatures keep screening reposts") {
    val (out, sig) = (tmp("nd-fold-out"), tmp("nd-fold-sig"))
    Seq(out, sig).foreach(d => new java.io.File(d).delete())
    val idx = "fold_sig_idx"
    spark.sql(s"DROP TABLE IF EXISTS $idx")
    spark.sql(s"DROP TABLE IF EXISTS ${idx}__spec")
    graft.operators.Dedup.simhashIndex().ensure(spark, idx)
    Streams.nearDupIngestBatch(
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      0L, out, sig, indexTable = Some(idx))
    Streams.nearDupIngestBatch(
      Seq((2L, "totally unrelated novel content here")).toDF("doc_id", "text"),
      1L, out, sig, indexTable = Some(idx))
    // fold batch 0's signatures into the index; batch 1 (newest) kept
    graft.operators.Dedup.simhashIndex().foldStore(spark, sig, idx) shouldBe Seq(0L)
    spark.table(idx).select("doc_id").distinct().count() shouldBe 1L
    val parts = new java.io.File(sig).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName).sorted
    parts shouldBe Array("batch_id=1")
    // a reworded repost of the FOLDED doc is still screened — the
    // probe-both window reads its signature from the index now
    Streams.nearDupIngestBatch(
      Seq((3L, "delta  gamma beta alpha"), (4L, "fresh distinct material"))
        .toDF("doc_id", "text"),
      2L, out, sig, indexTable = Some(idx))
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .toSeq shouldBe Seq(1L, 2L, 4L)
    // fold again (idempotence across folds): batch 1 folds, batch 2 kept;
    // re-folding appends each doc's chunks exactly once
    graft.operators.Dedup.simhashIndex().foldStore(spark, sig, idx) shouldBe Seq(1L)
    spark.table(idx).groupBy("doc_id").count()
      .filter(col("count") =!= 4).count() shouldBe 0L
    graft.operators.Dedup.simhashIndex().foldStore(spark, sig, idx) shouldBe Seq.empty
  }

  /** A 100-word base text and a paraphrase with 5 scattered word swaps:
    * each swap corrupts 3 of the 98 3-shingles, so Jaccard =
    * (98-15)/(98+15) ≈ 0.73 ≥ 0.7 (minhash tier catches it) while the
    * scattered edits flip simhash bits well past Hamming 3 in every
    * chunk (simhash tier admits it) — the tier-gap fixture.
    */
  private def tierGapTexts: (String, String) = {
    val base = (0 until 100).map(i => s"w${i % 37}tok$i")
    val para = base.zipWithIndex.map { case (w, i) =>
      if (i % 20 == 10) s"swapped$i" else w
    }
    (base.mkString(" "), para.mkString(" "))
  }

  test("minhash-tier ingest screens a paraphrase the simhash tier admits") {
    val (textA, textB) = tierGapTexts
    val b0 = Seq((1L, textA)).toDF("doc_id", "text")
    val b1 = Seq((2L, textB), (3L, "completely different fresh content " +
      (0 until 60).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    // simhash tier: the paraphrase's Hamming exceeds 3 -> doc 2 ADMITTED
    val (outS, sig) = (tmp("mh-sim-out"), tmp("mh-sim-sig"))
    Seq(outS, sig).foreach(d => new java.io.File(d).delete())
    Streams.nearDupIngestBatch(b0, 0L, outS, sig)
    Streams.nearDupIngestBatch(b1, 1L, outS, sig)
    spark.read.parquet(outS).select("doc_id").as[Long].collect().sorted
      .toSeq shouldBe Seq(1L, 2L, 3L)
    // minhash tier: banded Jaccard >= 0.7 -> doc 2 SCREENED
    val (outM, band) = (tmp("mh-out"), tmp("mh-band"))
    Seq(outM, band).foreach(d => new java.io.File(d).delete())
    Streams.minhashIngestBatch(b0, 0L, outM, band)
    Streams.minhashIngestBatch(b1, 1L, outM, band)
    def landed() = spark.read.parquet(outM)
      .select("doc_id").as[Long].collect().sorted.toSeq
    landed() shouldBe Seq(1L, 3L)
    // engine re-delivery of batch 1: partition rewrites, same answer
    Streams.minhashIngestBatch(b1, 1L, outM, band)
    landed() shouldBe Seq(1L, 3L)
    // the band store holds rows only for LANDED docs
    spark.read.parquet(band).select("doc_id").distinct()
      .as[Long].collect().sorted.toSeq shouldBe Seq(1L, 3L)
  }

  test("minhash-tier ingest probes a persisted corpus index (probe-both)") {
    import graft.operators.Dedup
    val (textA, textB) = tierGapTexts
    val corpus = Seq((100L, textA)).toDF("doc_id", "text")
    val idx = s"mh_ingest_idx_${System.nanoTime()}"
    Dedup.buildNearDupIndex(corpus, idx)
    val (out, band) = (tmp("mh-idx-out"), tmp("mh-idx-band"))
    Seq(out, band).foreach(d => new java.io.File(d).delete())
    // batch 0: a paraphrase of a CORPUS doc (index hit, store empty)
    // plus a fresh doc
    val b0 = Seq((2L, textB),
      (3L, "fresh " + (0 until 60).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    Streams.minhashIngestBatch(b0, 0L, out, band, Some((idx, corpus)))
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .toSeq shouldBe Seq(3L)
    // batch 1: a repost of batch 0's landed doc (STORE hit)
    val b1 = Seq((4L, "fresh " + (0 until 60).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    Streams.minhashIngestBatch(b1, 1L, out, band, Some((idx, corpus)))
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .toSeq shouldBe Seq(3L)
    // a mistyped index table fails loudly, never skips the screen
    an[IllegalArgumentException] should be thrownBy
      Streams.minhashIngestBatch(b1, 2L, out, band,
        Some(("mh_no_such_table", corpus)))
  }

  test("ingest screens and store folds refuse an index signed with other parameters") {
    import graft.operators.Dedup
    val (textA, _) = tierGapTexts
    val b0 = Seq((1L, textA)).toDF("doc_id", "text")
    // minhash tier: a bands = 8 stream probing a bands = 16 band index
    // would match nothing in folded history — loud, not silent
    val mIdx = s"spec_guard_band_${System.nanoTime()}"
    Dedup.nearDupIndex(bands = 16).ensure(spark, mIdx)
    val (outM, band) = (tmp("spec-mh-out"), tmp("spec-mh-band"))
    Seq(outM, band).foreach(d => new java.io.File(d).delete())
    val em = intercept[IllegalArgumentException] {
      Streams.minhashIngestBatch(b0, 0L, outM, band,
        Some((mIdx, b0.limit(0))), bands = 8)
    }
    em.getMessage should include("band hashes would never match")
    // simhash tier: the stream signs natively, so a portable index's
    // signatures would never match its screen
    val sIdx = s"spec_guard_sig_${System.nanoTime()}"
    Dedup.simhashIndex(portable = true).ensure(spark, sIdx)
    val (outS, sig) = (tmp("spec-nd-out"), tmp("spec-nd-sig"))
    Seq(outS, sig).foreach(d => new java.io.File(d).delete())
    val es = intercept[IllegalArgumentException] {
      Streams.nearDupIngestBatch(b0, 0L, outS, sig, indexTable = Some(sIdx))
    }
    es.getMessage should include("signatures would never match")
    // ...and its native signature store never folds into that index
    Streams.nearDupIngestBatch(b0, 0L, outS, sig)
    Streams.nearDupIngestBatch(
      Seq((2L, "unrelated fresh words for a second batch"))
        .toDF("doc_id", "text"), 1L, outS, sig)
    val ef = intercept[IllegalArgumentException] {
      Dedup.simhashIndex().foldStore(spark, sig, sIdx)
    }
    ef.getMessage should include("signatures would never match")
    spark.table(sIdx).count() shouldBe 0L
  }

  test("band store→index fold: screen unchanged, crash-rerun converges") {
    import graft.operators.Dedup
    val (textA, textB) = tierGapTexts
    val idx = "mh_fold_band_idx"
    spark.sql(s"DROP TABLE IF EXISTS $idx")
    spark.sql(s"DROP TABLE IF EXISTS ${graft.sources.IndexSpec.specTable(idx)}")
    Dedup.nearDupIndex().ensure(spark, idx)
    val (out, band) = (tmp("mh-fold-out"), tmp("mh-fold-band"))
    Seq(out, band).foreach(d => new java.io.File(d).delete())
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // batch 0 lands the tier-gap base, batch 1 a fresh doc; the fold
    // then moves doc 20's band rows (batch 0 < keep=1) into the INDEX
    Streams.minhashIngestBatch(Seq((20L, textA)).toDF("doc_id", "text"),
      0L, out, band, Some((idx, corpus)))
    Streams.minhashIngestBatch(
      Seq((30L, (0 until 80).map(j => s"fw$j").mkString(" ")))
        .toDF("doc_id", "text"),
      1L, out, band, Some((idx, corpus)))
    Dedup.nearDupIndex().foldStore(spark, band, idx) shouldBe Seq(0L)
    spark.table(idx).select("doc_id").distinct()
      .as[Long].collect().toSeq shouldBe Seq(20L)
    // the paraphrase now screens against FOLDED band rows, with doc
    // 20's text read back from outDir — probe-both across the fold
    Streams.minhashIngestBatch(Seq((21L, textB)).toDF("doc_id", "text"),
      2L, out, band, Some((idx, corpus)))
    def landed() = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    landed() shouldBe Seq(20L, 30L)
    // crash window: append committed (fold step 1 alone), cleanup not —
    // the screen still works mid-window, and the fold re-run appends
    // nothing (doc_id anti-join) then completes the cleanup
    Dedup.nearDupIndex().appendRows(
      spark.read.parquet(band).filter(col("batch_id") < 2L)
        .select("doc_id", "band_idx", "band_hash"), idx)
    val rowsAfterCrash = spark.table(idx).count()
    rowsAfterCrash shouldBe 32L // docs 20 + 30, 16 bands each, no dups
    Streams.minhashIngestBatch(
      Seq((22L, textB),
        (23L, (0 until 80).map(j => s"gw$j").mkString(" ")))
        .toDF("doc_id", "text"),
      3L, out, band, Some((idx, corpus)))
    landed() shouldBe Seq(20L, 23L, 30L)
    // fold recovery: re-append of doc 30's rows is a no-op anti-join,
    // cleanup completes, newest partition (batch 3) kept
    Dedup.nearDupIndex().foldStore(spark, band, idx) shouldBe Seq(1L)
    spark.table(idx).count() shouldBe rowsAfterCrash // re-append no-op
    val parts = new java.io.File(band).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName)
    parts should have length 1
  }

  test("semantic ingest: embedding reposts screened via store then index") {
    val (out, vec) = (tmp("sem-ing-out"), tmp("sem-ing-vec"))
    Seq(out, vec).foreach(d => new java.io.File(d).delete())
    val (idx, cents) = ("sem_ing_idx", "sem_ing_cents")
    Seq(idx, cents).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // seed corpus with three labeled clusters -> frozen quantizer + index
    val seed = Seq(
      (1L, Seq(1f, 0f, 0f, 0f), 0),
      (2L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (3L, Seq(0f, 1f, 0f, 0f), 1),
      (4L, Seq(0.1f, 0.9f, 0f, 0f), 1),
      (5L, Seq(0f, 0f, 0.7f, 0.7f), 2),
      (6L, Seq(0f, 0f, 0.6f, 0.8f), 2)
    ).toDF("vec_id", "embedding", "label")
    graft.operators.Similarity.buildIvfIndex(seed, idx, cents)
    def ingest(rows: Seq[(Long, Seq[Float])], id: Long): Unit =
      Streams.semanticIngestBatch(rows.toDF("vec_id", "embedding"), id,
        out, vec, cents, threshold = 0.99, nprobe = 1, Some(idx))
    def landed(): Seq[Long] = spark.read.parquet(out)
      .select("vec_id").as[Long].collect().sorted.toSeq
    // batch 0: 100 ≈ seed vector 1 (screened by the INDEX);
    // 101 is orthogonal to everything -> lands
    ingest(Seq(
      (100L, Seq(1f, 0.001f, 0f, 0f)),
      (101L, Seq(0f, 0f, 1f, 0f))), 0L)
    landed() shouldBe Seq(101L)
    // batch 1: 102 ≈ 101 (screened by the STORE, cross-batch);
    // 103 orthogonal to 101 -> lands; an exact in-batch twin of 103
    // collapses to the lowest vec_id
    ingest(Seq(
      (102L, Seq(0f, 0f, 0.999f, 0.001f)),
      (103L, Seq(0f, 0f, 0f, 1f)),
      (104L, Seq(0f, 0f, 0f, 1f))), 1L)
    landed() shouldBe Seq(101L, 103L)
    // replay of batch 1 rewrites its own partitions: nothing changes
    ingest(Seq(
      (102L, Seq(0f, 0f, 0.999f, 0.001f)),
      (103L, Seq(0f, 0f, 0f, 1f)),
      (104L, Seq(0f, 0f, 0f, 1f))), 1L)
    landed() shouldBe Seq(101L, 103L)
    // fold the store into the index; screening continues seamlessly
    graft.operators.Similarity.ivfIndex(Some(cents))
      .foldStore(spark, vec, idx) should not be empty
    ingest(Seq(
      (105L, Seq(0f, 0f, 1f, 0.001f)), // ≈ 101, now screened by the INDEX
      (106L, Seq(0.7f, 0.7f, 0f, 0f))), 2L) // fresh -> lands
    landed() shouldBe Seq(101L, 103L, 106L)
    // a crashed re-run of the fold is a no-op (vec_id anti-join)
    val before = spark.table(idx).count()
    graft.operators.Similarity.ivfIndex(Some(cents)).appendRows(
      spark.read.parquet(vec).select("vec_id", "embedding"), idx)
    val after = spark.table(idx).count()
    (after - before) should be <= 2L // only the unfolded newest batch
    spark.table(idx).groupBy("vec_id").count()
      .filter(col("count") > 1).count() shouldBe 0L
  }

  test("streaming heavy hitters ≡ batch operator under adversarial splits") {
    import graft.operators.{Sketches, TextAnalysis}
    val toks = tables.documents
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val expected = rowSet(Sketches.heavyHitters(toks, "tok", 1.0 / 128))
    expected should not be empty
    val all = toks.as[String].collect().toSeq
    val width = math.max(1, all.length / 7)
    val splits = Map(
      // sorted: each value's whole mass hits ONE batch (maximally
      // skewed per-batch summaries), random: a seeded shuffle
      "sorted" -> all.sorted.grouped(width).toSeq,
      "random" -> new scala.util.Random(42).shuffle(all).grouped(width).toSeq)
    splits.foreach { case (name, batches) =>
      val store = tmp(s"hh-$name"); new java.io.File(store).delete()
      batches.zipWithIndex.foreach { case (b, id) =>
        Streams.heavyHitterBatch(b.toDF("tok"), id.toLong, "tok", 128, store)
      }
      def merged() = rowSet(Streams.mergedHeavyHitters(
        spark, store, 128, toks, "tok", 1.0 / 128))
      withClue(s"$name split: ") { merged() shouldBe expected }
      // engine re-delivery of a committed batch: its partition rewrites,
      // counts must not double
      Streams.heavyHitterBatch(batches(1).toDF("tok"), 1L, "tok", 128, store)
      withClue(s"$name split replayed: ") { merged() shouldBe expected }
    }
  }

  test("streaming heavy hitters: compress-heavy small-k merge stays exact") {
    import graft.operators.Sketches
    // skewed synthetic stream where k=8 summaries compress constantly:
    // 500 a's + 300 b's + 120 c's + 200 distinct noise singletons;
    // threshold ceil(1120/8)=140 -> exactly {a, b} qualify, c misses
    val heavy = Seq.fill(500)("a") ++ Seq.fill(300)("b") ++ Seq.fill(120)("c")
    val noise = (0 until 200).map(i => f"noise$i%03d")
    val all = new scala.util.Random(7).shuffle(heavy ++ noise)
    val full = all.toDF("v")
    val expected = rowSet(Sketches.heavyHitters(full, "v", 1.0 / 8))
    expected.map(_.head) shouldBe Set("a", "b")
    // adversarial: all noise up front, the heavy mass arriving last
    val ordered = noise ++ heavy
    val store = tmp("hh-smallk"); new java.io.File(store).delete()
    ordered.grouped(160).zipWithIndex.foreach { case (b, id) =>
      Streams.heavyHitterBatch(b.toDF("v"), id.toLong, "v", 8, store)
    }
    rowSet(Streams.mergedHeavyHitters(spark, store, 8, full, "v", 1.0 / 8)
      ) shouldBe expected
  }

  test("heavy-hitter store fold: compacted answers equal uncompacted; O(k) bound") {
    import graft.operators.Sketches
    // skewed stream, small k -> constant compression pressure (the
    // hardest case for bound preservation across the fold)
    val heavy = Seq.fill(500)("a") ++ Seq.fill(300)("b") ++ Seq.fill(120)("c")
    val noise = (0 until 200).map(i => f"noise$i%03d")
    val ordered = noise ++ heavy // adversarial: heavy mass arrives last
    val full = (heavy ++ noise).toDF("v")
    val expected = rowSet(Sketches.heavyHitters(full, "v", 1.0 / 8))
    val store = tmp("hh-fold"); new java.io.File(store).delete()
    val batches = ordered.grouped(80).toSeq
    def merged() = rowSet(Streams.mergedHeavyHitters(
      spark, store, 8, full, "v", 1.0 / 8))
    batches.zipWithIndex.foreach { case (b, id) =>
      Streams.heavyHitterBatch(b.toDF("v"), id.toLong, "v", 8, store)
      // fold after every other batch: answers must be IDENTICAL to the
      // never-folded merge at every point of the stream
      if (id % 2 == 1) Streams.foldHeavyHitterStore(spark, store, 8)
    }
    merged() shouldBe expected
    // O(k) bound: after a final fold, live state is one <= k+1-row fold
    // partition plus the newest batch summary — and stays there however
    // many more folds run (re-folding with no new batches is a no-op)
    Streams.foldHeavyHitterStore(spark, store, 8)
    Streams.foldHeavyHitterStore(spark, store, 8) shouldBe Nil
    val liveRows = spark.read.parquet(store).count()
    liveRows should be <= (8 + 1 + 2 * 8 + 1).toLong
    merged() shouldBe expected
    // a replayed (re-delivered) newest batch rewrites its partition and
    // the folded answer still holds
    Streams.heavyHitterBatch(batches.last.toDF("v"),
      (batches.size - 1).toLong, "v", 8, store)
    merged() shouldBe expected
  }

  test("heavy-hitter store fold: uncommitted fold partition is invisible") {
    import graft.operators.Sketches
    val vals = Seq.fill(60)("x") ++ Seq.fill(20)("y") ++ Seq.fill(5)("z")
    val full = vals.toDF("v")
    val store = tmp("hh-crash"); new java.io.File(store).delete()
    vals.grouped(30).zipWithIndex.foreach { case (b, id) =>
      Streams.heavyHitterBatch(b.toDF("v"), id.toLong, "v", 4, store)
    }
    val expected = rowSet(Sketches.heavyHitters(full, "v", 1.0 / 4))
    // simulate a fold that crashed between the partition write and the
    // marker create: a poisoned partition with NO _fold_ marker must be
    // ignored by the epoch read rule, not summed into the answer
    Seq((Option("x"), 999999L), (Option.empty[String], 999999L))
      .toDF("value", "cnt")
      .withColumn("batch_id", lit(-2L)).write.mode("append")
      .partitionBy("batch_id").parquet(store)
    rowSet(Streams.mergedHeavyHitters(spark, store, 4, full, "v", 1.0 / 4)
      ) shouldBe expected
    // the next real fold commits epoch 2 (marker present), GCs the
    // poison, and the answer is unchanged
    Streams.foldHeavyHitterStore(spark, store, 4)
    rowSet(Streams.mergedHeavyHitters(spark, store, 4, full, "v", 1.0 / 4)
      ) shouldBe expected
  }

  test("streaming quantile tier: store equals batch at every point; fold exact") {
    import graft.operators.Sketches
    val docs = tables.documents
    val store = tmp("hist-stream"); new java.io.File(store).delete()
    // the batch truth this stream must reproduce: estimate columns of
    // the inline histogram quantiles over everything ingested so far
    def batchTruth(upTo: Long) = rowSet(Sketches.quantileEstimates(
      Sketches.histogramBuckets(
        docs.filter(col("doc_id") % 6 < upTo), "n_chars", "lang"),
      Seq(50, 90, 99)))
    def stream() = rowSet(Streams.streamQuantiles(spark, store))
    (0L until 6L).foreach { id =>
      Streams.histogramBatch(docs.filter(col("doc_id") % 6 === id),
        id, "n_chars", "lang", store)
      // stream == batch at EVERY stream point (exact — the histogram
      // of a union is the bucket-wise sum)
      stream() shouldBe batchTruth(id + 1)
      // fold mid-stream: answers identical, folded or not
      if (id == 3) Streams.foldHistogramStore(spark, store)
    }
    val expected = batchTruth(6)
    stream() shouldBe expected
    // a replayed (re-delivered) batch rewrites its own partition — the
    // double-count the batch_id machinery exists to prevent
    Streams.histogramBatch(docs.filter(col("doc_id") % 6 === 5L),
      5L, "n_chars", "lang", store)
    stream() shouldBe expected
    // final fold: re-fold with nothing new is a no-op; live rows stay
    // bounded by ~1k-bucket groups (fold partition + newest batch)
    Streams.foldHistogramStore(spark, store)
    Streams.foldHistogramStore(spark, store) shouldBe Nil
    stream() shouldBe expected
    val nKeys = docs.select("lang").distinct().count()
    spark.read.parquet(store).count() should be <=
      (2 * nKeys * ((64 - 4) * 16 + 32))
  }

  test("streaming cardinality tier: HLL store equals a single-pass batch build") {
    import graft.operators.Sketches
    val ckpt = tmp("hll-ckpt")
    Seq("hll_live", "hll_live__spec", "hll_live_ref", "hll_live_ref__spec")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val rows = (1 to 90).map(i => (s"lang${i % 3}", s"text ${i % 40}"))
    Sketches.ensureHllStore(rows.take(1).toDF("lang", "text"),
      Seq("lang"), "text", "hll_live")
    val in = MemoryStream[(String, String)]
    val q = Streams.startCardinalityTracking(
      in.toDF().toDF("lang", "text"), "hll_live", ckpt)
    try {
      rows.grouped(30).foreach { b =>
        in.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // register-wise max is a pure function of the item set: the
    // streamed store must equal a single-pass batch build EXACTLY
    Sketches.buildHllStore(rows.toDF("lang", "text"), Seq("lang"),
      "text", "hll_live_ref")
    def est(t: String) = Sketches.hllEstimates(spark, t)
      .as[(String, Long)].collect().toMap
    est("hll_live") shouldBe est("hll_live_ref")
    est("hll_live").keySet shouldBe Set("lang0", "lang1", "lang2")
  }

  test("streaming heavy hitters: live stream end to end") {
    import graft.operators.Sketches
    val (store, ckpt) = (tmp("hh-live"), tmp("hh-live-ckpt"))
    new java.io.File(store).delete()
    val in = MemoryStream[String]
    val q = Streams.startHeavyHitterStream(in.toDF().toDF("v"), "v", 4,
      store, ckpt)
    try {
      in.addData(Seq.fill(30)("x") ++ Seq.fill(5)("y"): _*)
      q.processAllAvailable()
      in.addData(Seq.fill(20)("z") ++ Seq.fill(15)("x"): _*)
      q.processAllAvailable()
    } finally q.stop()
    val full = (Seq.fill(45)("x") ++ Seq.fill(5)("y") ++ Seq.fill(20)("z"))
      .toDF("v")
    rowSet(Streams.mergedHeavyHitters(spark, store, 4, full, "v", 1.0 / 4)
      ) shouldBe rowSet(Sketches.heavyHitters(full, "v", 1.0 / 4))
  }

  test("idempotent parquet sink: a replayed batch rewrites, never duplicates") {
    val in = MemoryStream[String]
    val dir = tmp("idem-sink")
    val q = Streams.startIdempotentParquetSink(
      in.toDF().select(col("value")), s"$dir/out", s"$dir/chk")
    try {
      in.addData("a", "b")
      q.processAllAvailable()
      in.addData("c")
      q.processAllAvailable()
      val once = spark.read.parquet(s"$dir/out")
      once.count() shouldBe 3L
      // simulate the failure-replay path: re-run batch 0's write verbatim
      // (same batch id, same rows — exactly what the engine re-delivers
      // after a crash between write and checkpoint commit)
      graft.sources.PersistedIndex.writeBatchIdempotent(
        Seq("a", "b").toDF("value"), 0L, s"$dir/out")
      val replayed = spark.read.parquet(s"$dir/out")
      replayed.count() shouldBe 3L // batch 0 rewritten in place, no dups
      replayed.filter(col("batch_id") === 0).count() shouldBe 2L
    } finally q.stop()
  }

  test("RocksDB state store: stateful aggregation runs on the prod backend") {
    // the default HDFSBackedStateStore holds every key in executor heap —
    // fine for tests, a memory wall for 100-TB streaming state. RocksDB
    // (bundled with Spark 4) spills state to local disk; this asserts the
    // same running counts come back on that backend. providerClass is
    // read per-query at start, so a temporary conf flip scopes it here.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[String]
      val q = Streams.runningWordCounts(in.toDF())
        .writeStream.outputMode(OutputMode.Complete())
        .option("checkpointLocation", tmp("rocks-chk"))
        .format("memory").queryName("rocks").start()
      try {
        in.addData("alpha beta alpha")
        q.processAllAvailable()
        in.addData("alpha")
        q.processAllAvailable()
        spark.table("rocks").filter(col("word") === "alpha")
          .collect()(0).getAs[Long]("cnt") shouldBe 3L
        q.lastProgress.stateOperators(0).customMetrics
          .keySet.toString should include("rocksdb")
      } finally q.stop()
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("K6: console sink renders each micro-batch to stdout") {
    val in = MemoryStream[String]
    val counts = Streams.batchWordCounts(in.toDF())
    val buf = new java.io.ByteArrayOutputStream()
    // Console.out is a DynamicVariable (InheritableThreadLocal): the
    // stream-execution thread is created inside start(), so launching the
    // query within withOut makes the sink's println/show land in `buf`
    val q = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Streams.startConsole(counts, OutputMode.Complete(), intervalMs = 50)
    }
    try {
      in.addData("alpha beta alpha")
      q.processAllAvailable()
      val out = buf.toString("UTF-8")
      out should include("Batch:")
      out should include("alpha")
      out should include("word")
    } finally q.stop()
  }

  test("foldEvery: heavy-hitter stream self-compacts to O(k) with no manual fold") {
    import graft.operators.Sketches
    val heavy = Seq.fill(400)("a") ++ Seq.fill(250)("b")
    val noise = (0 until 150).map(i => f"n$i%03d")
    val all = new scala.util.Random(11).shuffle(heavy ++ noise)
    val full = all.toDF("value")
    val expected = rowSet(Sketches.heavyHitters(full, "value", 1.0 / 8))
    expected.map(_.head) shouldBe Set("a", "b")
    val store = tmp("hh-foldevery"); new java.io.File(store).delete()
    val in = MemoryStream[String]
    val q = Streams.startHeavyHitterStream(in.toDF(), "value", 8,
      store, tmp("hh-foldevery-ck"), foldEvery = Some(2))
    try {
      // 10 micro-batches; the stream folds itself every 2nd batch —
      // NO manual foldHeavyHitterStore call anywhere in this test
      all.grouped(80).foreach { b =>
        in.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // O(k) bound at stream end: one <= k+1-row fold partition + at
    // most foldEvery unfolded batch summaries of <= 2k+1 rows each
    spark.read.parquet(store).count() should be <= (9 + 2 * 17).toLong
    rowSet(Streams.mergedHeavyHitters(spark, store, 8, full, "value",
      1.0 / 8)) shouldBe expected
  }

  test("foldEvery: histogram stream self-compacts; quantiles unchanged") {
    import graft.operators.Sketches
    val vals = (1 to 600).map(i => ("g", (i * 37 % 500).toLong + 1))
    val full = vals.toDF("k", "v")
    val expected = rowSet(Sketches.quantileEstimates(
      Sketches.histogramBuckets(full, "v", "k"), Seq(50, 90, 99)))
    val store = tmp("qh-foldevery"); new java.io.File(store).delete()
    val in = MemoryStream[(String, Long)]
    val q = Streams.startHistogramStream(
      in.toDF().toDF("k", "v"), "v", "k",
      store, tmp("qh-foldevery-ck"), foldEvery = Some(3))
    try {
      vals.grouped(60).foreach { b =>
        in.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // the exact fold: answers identical to the single-pass batch chain
    rowSet(Streams.streamQuantiles(spark, store,
      Seq(50, 90, 99))) shouldBe expected
    // self-compacted: far fewer partitions live than the 10 batches
    // written (one fold partition + <= foldEvery unfolded batches)
    val dir = new org.apache.hadoop.fs.Path(store)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).map(_.getPath.getName)
      .count(_.startsWith("batch_id=")) should be <= 4
  }

  /** A 30-token passage spliced into otherwise-disjoint documents:
    * global Jaccard ≈ 0.27 (< the minhash tier's 0.7 — whole-doc
    * similarity admits the splice) while the shared passage winnows to
    * well over minShared selected fingerprints.
    */
  private def passageTexts: (String, String) = {
    val passage = (0 until 30).map(i => s"p$i").mkString(" ")
    val textA = passage + " " + (0 until 40).map(i => s"a$i").mkString(" ")
    val textB = (0 until 40).map(i => s"b$i").mkString(" ") + " " + passage
    (textA, textB)
  }

  test("winnow-tier ingest screens a passage splice the minhash tier admits") {
    val (textA, textB) = passageTexts
    val b0 = Seq((1L, textA)).toDF("doc_id", "text")
    val b1 = Seq((2L, textB),
      (3L, "fresh " + (0 until 60).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    // minhash tier: global Jaccard far below 0.7 -> the splice LANDS
    val (outM, band) = (tmp("wn-mh-out"), tmp("wn-mh-band"))
    Seq(outM, band).foreach(d => new java.io.File(d).delete())
    Streams.minhashIngestBatch(b0, 0L, outM, band)
    Streams.minhashIngestBatch(b1, 1L, outM, band)
    spark.read.parquet(outM).select("doc_id").as[Long].collect().sorted
      .toSeq shouldBe Seq(1L, 2L, 3L)
    // winnow tier: shared selected fingerprints -> the splice SCREENED
    val (out, fps) = (tmp("wn-out"), tmp("wn-fp"))
    Seq(out, fps).foreach(d => new java.io.File(d).delete())
    Streams.winnowIngestBatch(b0, 0L, out, fps)
    Streams.winnowIngestBatch(b1, 1L, out, fps)
    def landed() = spark.read.parquet(out)
      .select("doc_id").as[Long].collect().sorted.toSeq
    landed() shouldBe Seq(1L, 3L)
    // engine re-delivery of batch 1: partition rewrites, same answer
    Streams.winnowIngestBatch(b1, 1L, out, fps)
    landed() shouldBe Seq(1L, 3L)
    // the fingerprint store holds rows only for LANDED docs
    spark.read.parquet(fps).select("doc_id").distinct()
      .as[Long].collect().sorted.toSeq shouldBe Seq(1L, 3L)
  }

  test("winnow-tier ingest probes a persisted corpus index (probe-both)") {
    import graft.operators.Dedup
    val (textA, textB) = passageTexts
    val corpus = Seq((100L, textA)).toDF("doc_id", "text")
    val idx = s"wn_ingest_idx_${System.nanoTime()}"
    Dedup.buildWinnowIndex(corpus, idx)
    val (out, fps) = (tmp("wn-idx-out"), tmp("wn-idx-fp"))
    Seq(out, fps).foreach(d => new java.io.File(d).delete())
    // batch 0: a passage splice from a CORPUS doc (index hit, store
    // empty) plus a fresh doc
    val b0 = Seq((2L, textB),
      (3L, "fresh " + (0 until 60).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    Streams.winnowIngestBatch(b0, 0L, out, fps, Some(idx))
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .toSeq shouldBe Seq(3L)
    // batch 1: a repost of batch 0's landed doc (STORE hit)
    val b1 = Seq((4L, "fresh " + (0 until 60).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    Streams.winnowIngestBatch(b1, 1L, out, fps, Some(idx))
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .toSeq shouldBe Seq(3L)
    // a mistyped index table fails loudly, never skips the screen
    an[IllegalArgumentException] should be thrownBy
      Streams.winnowIngestBatch(b1, 2L, out, fps, Some("wn_no_such_table"))
  }

  test("winnow store→index fold: screen unchanged, crash-rerun converges") {
    import graft.operators.Dedup
    val (textA, textB) = passageTexts
    val idx = s"wn_fold_idx_${System.nanoTime()}"
    Dedup.winnowIndex().ensure(spark, idx)
    val (out, fps) = (tmp("wn-fold-out"), tmp("wn-fold-fp"))
    Seq(out, fps).foreach(d => new java.io.File(d).delete())
    Streams.winnowIngestBatch(
      Seq((10L, textA)).toDF("doc_id", "text"), 0L, out, fps, Some(idx))
    Streams.winnowIngestBatch(
      Seq((11L, "other " + (0 until 50).map(i => s"w$i").mkString(" ")))
        .toDF("doc_id", "text"), 1L, out, fps, Some(idx))
    // fold everything below the newest batch into the index
    Dedup.winnowIndex().foldStore(spark, fps, idx) shouldBe Seq(0L)
    spark.table(idx).select("corpus_id").distinct()
      .as[Long].collect().toSeq shouldBe Seq(10L)
    // the screen is unchanged across the fold: a passage splice of the
    // FOLDED doc is still dropped (index hit now, store hit before)
    Streams.winnowIngestBatch(
      Seq((12L, textB)).toDF("doc_id", "text"), 2L, out, fps, Some(idx))
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .toSeq shouldBe Seq(10L, 11L)
    // crash between append and cleanup: the re-run append is a no-op
    // (corpus_id anti-join) — no duplicate posting rows ever
    Dedup.winnowIndex().appendRows(
      spark.read.parquet(fps)
        .select(col("doc_id").as("corpus_id"), col("fp")), idx)
    spark.table(idx).groupBy("corpus_id", "fp").count()
      .filter(col("count") > 1).count() shouldBe 0L
  }

  test("winnow-tier geometry guards: mismatched (k, w) is loud, never silent") {
    import graft.operators.Dedup
    val (textA, _) = passageTexts
    val (out, fps) = (tmp("wn-geo-out"), tmp("wn-geo-fp"))
    Seq(out, fps).foreach(d => new java.io.File(d).delete())
    Streams.winnowIngestBatch(
      Seq((1L, textA)).toDF("doc_id", "text"), 0L, out, fps)
    // a restart at different geometry must refuse the stamped store
    the[IllegalArgumentException] thrownBy {
      Streams.winnowIngestBatch(
        Seq((2L, textA)).toDF("doc_id", "text"), 1L, out, fps,
        minShared = 2, maxDf = 64, k = 5, w = 9)
    } should have message ("requirement failed: winnowIngestBatch: " +
      s"fingerprint store $fps was written at geometry _winnow_k4_w5 " +
      "but this call uses _winnow_k5_w9 — mismatched winnowing " +
      "geometry joins nothing and loses the screen silently; use the " +
      "original (k, w) or a fresh store")
    // an index built at different geometry must refuse the probe (the
    // ingest's screen would otherwise silently join nothing)
    val idx = s"wn_geo_idx_${System.nanoTime()}"
    Dedup.buildWinnowIndex(
      Seq((100L, textA)).toDF("doc_id", "text"), idx, k = 5, w = 9)
    an[IllegalArgumentException] should be thrownBy
      Streams.winnowIngestBatch(
        Seq((3L, textA)).toDF("doc_id", "text"), 1L, out, fps, Some(idx))
    // and the fold refuses to plant unmatchable hashes in it (two
    // store partitions first — a single partition is never foldable)
    Streams.winnowIngestBatch(
      Seq((4L, "fresh " + (0 until 50).map(i => s"g$i").mkString(" ")))
        .toDF("doc_id", "text"), 1L, out, fps)
    an[IllegalArgumentException] should be thrownBy
      Dedup.winnowIndex(k = 5, w = 9).foldStore(spark, fps, idx)
  }

  test("streaming→batch promotion: screened store feeds corpusBuild ≡ batch-equivalent screens") {
    import graft.operators.{Dedup, Pipeline}
    val docs = tables.documents
    val batches = (0 until 4).map(i =>
      docs.filter(pmod(col("doc_id"), lit(4L)) === i))

    // --- STREAM side: each crawl batch flows exact → minhash → winnow;
    // each tier lands its survivors (outN) and grows its own store;
    // stores fold into index tables MID-stream (probe-both keeps the
    // screen set identical through a fold)
    val (out1, fp1) = (tmp("promo-e-out"), tmp("promo-e-fp"))
    val (out2, band2) = (tmp("promo-m-out"), tmp("promo-m-band"))
    val (out3, fp3) = (tmp("promo-w-out"), tmp("promo-w-fp"))
    Seq(out1, fp1, out2, band2, out3, fp3)
      .foreach(d => new java.io.File(d).delete())
    val eIdx = s"promo_fp_idx_${System.nanoTime()}"
    val mIdx = s"promo_band_idx_${System.nanoTime()}"
    val wIdx = s"promo_winnow_idx_${System.nanoTime()}"
    Dedup.ensureFingerprintIndex(spark, eIdx)
    Dedup.nearDupIndex().ensure(spark, mIdx)
    Dedup.winnowIndex().ensure(spark, wIdx)
    val emptyCorpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    def ingest(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      Streams.dedupIngestBatch(b, id, out1, fp1, Some(eIdx))
      val s1 = spark.read.parquet(out1)
        .filter(col("batch_id") === id).drop("batch_id")
      Streams.minhashIngestBatch(s1, id, out2, band2,
        Some((mIdx, emptyCorpus)))
      val s2 = spark.read.parquet(out2)
        .filter(col("batch_id") === id).drop("batch_id")
      Streams.winnowIngestBatch(s2, id, out3, fp3, Some(wIdx))
    }
    ingest(batches(0), 0L)
    ingest(batches(1), 1L)
    // crash replay of batch 1 through ALL tiers: partition overwrite +
    // own-batch-excluded store reads make the rerun idempotent
    ingest(batches(1), 1L)
    // fold every tier's store into its index mid-stream
    Streams.foldFingerprintStore(spark, fp1, eIdx) shouldBe Seq(0L)
    Dedup.nearDupIndex().foldStore(spark, band2, mIdx) shouldBe Seq(0L)
    Dedup.winnowIndex().foldStore(spark, fp3, wIdx) shouldBe Seq(0L)
    ingest(batches(2), 2L)
    ingest(batches(3), 3L)
    val streamCorpus = spark.read.parquet(out3).drop("batch_id")

    // --- BATCH side: the same screens as fold-left batch operators,
    // each tier keeping its OWN accepted history (exactly what each
    // stream tier's store+index holds)
    def selfExact(b: org.apache.spark.sql.DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__fp").orderBy(col("doc_id"))
      b.withColumn("__fp",
          graft.operators.TextAnalysis.fingerprint(col("text")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn", "__fp")
    }
    def winnowScreen(b: org.apache.spark.sql.DataFrame,
        acc: org.apache.spark.sql.DataFrame) = {
      val newFps = Dedup.winnowingFingerprints(b, 4, 5)
        .select(col("doc_id").as("new_id"), col("fp")).distinct()
      val priorFps = Dedup.winnowingFingerprints(acc, 4, 5)
        .select(col("doc_id").as("prior_id"), col("fp")).distinct()
      val hits = newFps.join(priorFps, Seq("fp"))
        .dropDuplicates("new_id", "prior_id", "fp")
      val keepFp = hits.groupBy("fp")
        .agg(countDistinct("prior_id").as("df"))
        .filter(col("df") <= 64).select("fp")
      val dropped = hits.join(keepFp, Seq("fp"))
        .groupBy("new_id", "prior_id").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .select(col("new_id").as("doc_id")).distinct()
      b.join(dropped, Seq("doc_id"), "left_anti")
    }
    var acc1 = docs.limit(0)
    var acc2 = docs.limit(0)
    var acc3 = docs.limit(0)
    for (b <- batches) {
      val s1 = Dedup.incrementalExactDedup(selfExact(b), acc1)
      acc1 = Buffers.once(acc1.unionByName(s1))
      val mHits = Dedup.incrementalNearDup(s1, acc2)
        .select(col("new_id").as("doc_id")).distinct()
      val s2 = s1.join(mHits, Seq("doc_id"), "left_anti")
      acc2 = Buffers.once(acc2.unionByName(s2))
      val s3 = winnowScreen(s2, acc3)
      acc3 = Buffers.once(acc3.unionByName(s3))
    }

    // the two screened corpora are identical...
    streamCorpus.select("doc_id").as[Long].collect().sorted.toSeq shouldBe
      acc3.select("doc_id").as[Long].collect().sorted.toSeq
    // ...and the batch build runs END TO END over the streamed store,
    // chunk-for-chunk equal to building over the batch-screened corpus
    val builtFromStream = Pipeline.corpusBuild(streamCorpus)
    builtFromStream.count() should be > 0L
    rowSet(builtFromStream) shouldBe rowSet(Pipeline.corpusBuild(acc3))
  }

  test("winnow-tier marker-less store: own-batch replay recovers, all else refuses") {
    import graft.operators.Dedup
    val (textA, _) = passageTexts
    val (out, fps) = (tmp("wn-nomark-out"), tmp("wn-nomark-fp"))
    Seq(out, fps).foreach(d => new java.io.File(d).delete())
    val b0 = Seq((1L, textA)).toDF("doc_id", "text")
    Streams.winnowIngestBatch(b0, 0L, out, fps)
    val marker = new java.io.File(fps, "_winnow_k4_w5")
    marker.exists() shouldBe true
    // crash between batch 0's write and its stamp, simulated: rows
    // present, marker gone. A DIFFERENT batch must refuse — partition
    // 0's geometry is unproven, and stamping would adopt this call's
    // (k, w) over rows that may have been winnowed at another
    assert(marker.delete())
    an[IllegalArgumentException] should be thrownBy
      Streams.winnowIngestBatch(
        Seq((2L, "next " + (0 until 50).map(i => s"n$i").mkString(" ")))
          .toDF("doc_id", "text"), 1L, out, fps)
    // ...but the checkpoint REPLAY of batch 0 itself recovers: dynamic
    // partition overwrite rewrites the whole partition at this call's
    // geometry, so the post-write stamp is proven, not assumed
    Streams.winnowIngestBatch(b0, 0L, out, fps)
    marker.exists() shouldBe true
    // two stamped partitions, then lose the marker: the FOLD must
    // refuse (it wrote none of the rows — folding would plant
    // permanently unmatchable hashes in the index), and own-batch
    // replay no longer vouches for the OTHER partition either
    Streams.winnowIngestBatch(
      Seq((3L, "more " + (0 until 50).map(i => s"m$i").mkString(" ")))
        .toDF("doc_id", "text"), 1L, out, fps)
    val idx = s"wn_nomark_idx_${System.nanoTime()}"
    Dedup.winnowIndex().ensure(spark, idx)
    assert(marker.delete())
    an[IllegalArgumentException] should be thrownBy
      Dedup.winnowIndex().foldStore(spark, fps, idx)
    an[IllegalArgumentException] should be thrownBy
      Streams.winnowIngestBatch(
        Seq((4L, "even " + (0 until 50).map(i => s"e$i").mkString(" ")))
          .toDF("doc_id", "text"), 2L, out, fps)
    // the documented operator remedy: restore the marker by hand when
    // the rows' geometry IS known — everything proceeds
    marker.createNewFile() shouldBe true
    Dedup.winnowIndex().foldStore(spark, fps, idx) shouldBe Seq(0L)
    spark.table(idx).select("corpus_id").distinct()
      .as[Long].collect().toSeq shouldBe Seq(1L)
  }

  // ------------------------------------------ one screen per ingest batch

  /** One ingest tier over fresh output and store dirs: `run` lands a
    * batch, `refused` runs a batch its index guard throws on, `batches`
    * are two batches whose second reposts a doc of the first and adds a
    * fresh one, and `readable` pairs each dir the tier reads back with
    * the schema it opens it with.
    */
  private final class IngestTier(val name: String, val out: String,
      val store: String, val run: (DataFrame, Long) => Unit,
      val refused: () => Unit, val batches: Seq[DataFrame],
      val readable: Seq[(String, StructType)])

  /** The five ingest tiers, each probing an index of its family. */
  private def ingestTiers(tag: String): Seq[IngestTier] = {
    import graft.operators.{Dedup, Similarity}
    val n = System.nanoTime()
    def dirs(t: String): (String, String) = {
      val d = (tmp(s"$tag-$t-out"), tmp(s"$tag-$t-store"))
      Seq(d._1, d._2).foreach(x => new java.io.File(x).delete())
      d
    }
    def text(i: Int) = (0 until 40).map(j => s"t${i}w$j").mkString(" ")
    val texts = Seq(
      Seq((1L, text(1)), (2L, text(2))).toDF("doc_id", "text"),
      Seq((3L, text(1)), (4L, text(4))).toDF("doc_id", "text"))
    val noCorpus = Seq.empty[(Long, String)].toDF("doc_id", "text")

    val eIdx = s"tier_fp_$n"
    Dedup.ensureFingerprintIndex(spark, eIdx)
    val (eOut, eStore) = dirs("exact")
    val exact = new IngestTier("exact", eOut, eStore,
      Streams.dedupIngestBatch(_, _, eOut, eStore, Some(eIdx)),
      () => Streams.dedupIngestBatch(texts(1), 2L, eOut, eStore,
        Some(s"tier_no_such_$n")),
      texts, Seq(eStore -> Dedup.fingerprintIndex().storeSchema))

    val (sIdx, sPortable) = (s"tier_sig_$n", s"tier_sig_portable_$n")
    Dedup.simhashIndex().ensure(spark, sIdx)
    Dedup.simhashIndex(portable = true).ensure(spark, sPortable)
    val (sOut, sStore) = dirs("simhash")
    val simhash = new IngestTier("simhash", sOut, sStore,
      Streams.nearDupIngestBatch(_, _, sOut, sStore, indexTable = Some(sIdx)),
      () => Streams.nearDupIngestBatch(texts(1), 2L, sOut, sStore,
        indexTable = Some(sPortable)),
      texts, Seq(sStore -> Dedup.simhashIndex().storeSchema))

    val mIdx = s"tier_band_$n"
    Dedup.nearDupIndex().ensure(spark, mIdx)
    val (mOut, mStore) = dirs("minhash")
    val minhash = new IngestTier("minhash", mOut, mStore,
      Streams.minhashIngestBatch(_, _, mOut, mStore, Some((mIdx, noCorpus))),
      () => Streams.minhashIngestBatch(texts(1), 2L, mOut, mStore,
        Some((mIdx, noCorpus)), bands = 8),
      texts, Seq(mStore -> Dedup.nearDupIndex().storeSchema,
        mOut -> StructType.fromDDL("doc_id BIGINT, text STRING")))

    val (wIdx, wOther) = (s"tier_winnow_$n", s"tier_winnow_k5w9_$n")
    Dedup.winnowIndex().ensure(spark, wIdx)
    Dedup.winnowIndex(k = 5, w = 9).ensure(spark, wOther)
    val (wOut, wStore) = dirs("winnow")
    val winnow = new IngestTier("winnow", wOut, wStore,
      Streams.winnowIngestBatch(_, _, wOut, wStore, Some(wIdx)),
      () => Streams.winnowIngestBatch(texts(1), 2L, wOut, wStore,
        Some(wOther)),
      texts, Seq(wStore -> Dedup.winnowIndex().storeSchema))

    val (vIdx, cents) = (s"tier_ivf_$n", s"tier_cents_$n")
    Similarity.buildIvfIndex(Seq(
      (1L, Seq(1f, 0f, 0f, 0f), 0), (2L, Seq(0.9f, 0.1f, 0f, 0f), 0),
      (3L, Seq(0f, 1f, 0f, 0f), 1), (4L, Seq(0.1f, 0.9f, 0f, 0f), 1),
      (5L, Seq(0f, 0f, 0.7f, 0.7f), 2), (6L, Seq(0f, 0f, 0.6f, 0.8f), 2))
      .toDF("vec_id", "embedding", "label"), vIdx, cents)
    val vecs = Seq(
      Seq((101L, Seq(0f, 0f, 1f, 0f)), (106L, Seq(0.7f, 0.7f, 0f, 0f))),
      Seq((102L, Seq(0f, 0f, 0.999f, 0.001f)), (103L, Seq(0f, 0f, 0f, 1f))))
      .map(_.toDF("vec_id", "embedding"))
    val (vOut, vStore) = dirs("semantic")
    def semantic(b: DataFrame, id: Long, idx: String): Unit =
      Streams.semanticIngestBatch(b, id, vOut, vStore, cents,
        threshold = 0.99, indexTable = Some(idx))
    val sem = new IngestTier("semantic", vOut, vStore, semantic(_, _, vIdx),
      () => semantic(vecs(1), 2L, s"tier_no_such_$n"),
      vecs, Seq(vStore -> Similarity.ivfIndex().storeSchema))

    Seq(exact, simhash, minhash, winnow, sem)
  }

  private def persistedRdds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Run `body` with the ingest landing step killed between its output
    * and store writes to `storeDir`. */
  private def killedBeforeStore(storeDir: String)(body: => Unit): Unit = {
    val site = s"ingestStore:$storeDir"
    CrashHook.arm(s => if (s == site) throw new IllegalStateException(
      s"simulated crash after $s"))
    try {
      val e = intercept[IllegalStateException](body)
      e.getMessage shouldBe s"simulated crash after $site"
    } finally CrashHook.disarm()
  }

  test("each ingest tier screens once per batch and releases its buffer") {
    ingestTiers("once").foreach { t =>
      withClue(s"${t.name}: ") {
        t.run(t.batches(0), 0L)
        // a batch over an existing store: no schema inference, and no
        // buffer outlives it
        val held = persistedRdds()
        val jobs = jobsOf(spark)(t.run(t.batches(1), 1L))
        jobs should not be empty
        // a parquet schema inference runs outside any SQL execution
        jobs.count(_.getProperty("spark.sql.execution.id") == null) shouldBe 0
        (persistedRdds() -- held) shouldBe empty
        // a batch its index guard refuses, and one killed between its
        // two writes, leave no buffer behind either
        an[IllegalArgumentException] should be thrownBy t.refused()
        (persistedRdds() -- held) shouldBe empty
        killedBeforeStore(t.store)(t.run(t.batches(1), 1L))
        (persistedRdds() -- held) shouldBe empty
      }
    }
  }

  test("each ingest tier: a batch killed between its writes replays to the clean state") {
    def state(t: IngestTier) = {
      def rows(dir: String) = spark.read.parquet(dir).collect()
        .map(_.toSeq.map {
          case a: scala.collection.Seq[_] => a.toList
          case v => v
        }).toSeq.sortBy(_.mkString("|"))
      (rows(t.out), rows(t.store))
    }
    ingestTiers("clean").zip(ingestTiers("killed")).foreach {
      case (clean, killed) => withClue(s"${clean.name}: ") {
        clean.batches.zipWithIndex.foreach { case (b, i) =>
          clean.run(b, i.toLong) }
        killed.run(killed.batches(0), 0L)
        killedBeforeStore(killed.store)(killed.run(killed.batches(1), 1L))
        // the crash window: batch 1's output landed, its store rows not
        new java.io.File(s"${killed.out}/batch_id=1").exists() shouldBe true
        new java.io.File(s"${killed.store}/batch_id=1").exists() shouldBe false
        killed.run(killed.batches(1), 1L) // the engine's re-delivery
        state(killed) shouldBe state(clean)
        // the repost was screened: one fewer row landed than sent
        spark.read.parquet(clean.out).count() shouldBe 3L
      }
    }
  }

  test("every ingest store reads back by its known schema as by inference") {
    ingestTiers("schema").foreach { t =>
      t.batches.zipWithIndex.foreach { case (b, i) => t.run(b, i.toLong) }
      t.readable.foreach { case (dir, schema) =>
        withClue(s"${t.name} $dir: ") {
          val inferred = spark.read.parquet(dir).filter(col("batch_id") =!= 1L)
            .select(schema.fields.map(f =>
              col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
          val known = PersistedIndex.readStore(spark, dir, 1L, schema)
          known.schema shouldBe inferred.schema
          rowSet(known) should not be empty
          rowSet(known) shouldBe rowSet(inferred)
        }
      }
    }
    // the minhash tier's landed output holds the caller's doc_id type:
    // an INT column reads back widened, with the inferred read's rows
    val (out, band) = (tmp("int-ids-out"), tmp("int-ids-band"))
    Seq(out, band).foreach(d => new java.io.File(d).delete())
    Seq(Seq((1, "one two three four five six"), (2, "seven eight nine ten")),
      Seq((3, "one two three four five six"), (4, "eleven twelve thirteen")))
      .zipWithIndex.foreach { case (b, i) =>
        Streams.minhashIngestBatch(b.toDF("doc_id", "text"), i.toLong, out,
          band)
      }
    spark.read.parquet(out).schema("doc_id").dataType shouldBe
      org.apache.spark.sql.types.IntegerType
    spark.read.parquet(out).select("doc_id").as[Int].collect().sorted
      .toSeq shouldBe Seq(1, 2, 4)
    rowSet(PersistedIndex.readStore(spark, out, 1L,
        StructType.fromDDL("doc_id BIGINT, text STRING"))) shouldBe
      rowSet(spark.read.parquet(out).filter(col("batch_id") =!= 1L)
        .select(col("doc_id").cast("long"), col("text")))
  }

  test("a running stream refuses an index rebuilt with other parameters") {
    import graft.operators.Dedup
    val idx = s"rebuilt_sig_${System.nanoTime()}"
    Dedup.simhashIndex().ensure(spark, idx)
    val (out, sig, ckpt) = (tmp("rebuilt-out"), tmp("rebuilt-sig"),
      tmp("rebuilt-ckpt"))
    Seq(out, sig).foreach(d => new java.io.File(d).delete())
    val in = MemoryStream[(Long, String)]
    val q = Streams.startIngest(in.toDF().toDF("doc_id", "text"), ckpt)(
      Streams.nearDupIngestBatch(_, _, out, sig, indexTable = Some(idx)))
    try {
      in.addData((1L, "alpha beta gamma delta"))
      q.processAllAvailable()
      in.addData((2L, "epsilon zeta eta theta"))
      q.processAllAvailable()
      // rebuilt with other signature parameters between two batches:
      // the stream's next batch must refuse it
      spark.sql(s"DROP TABLE $idx")
      Dedup.simhashIndex(portable = true).ensure(spark, idx)
      in.addData((3L, "iota kappa lambda mu"))
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n") should include(
          "signatures would never match")
    } finally q.stop()
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .toSeq shouldBe Seq(1L, 2L)
  }

  /** Two exact-tier batches landed in fresh dirs: (outDir, fpDir). */
  private def landedExact(tag: String): (String, String) = {
    val (out, fp) = (tmp(s"$tag-out"), tmp(s"$tag-fp"))
    Seq(out, fp).foreach(d => new java.io.File(d).delete())
    Seq(Seq((1L, "alpha beta")), Seq((2L, "gamma delta"))).zipWithIndex
      .foreach { case (b, i) =>
        Streams.dedupIngestBatch(b.toDF("doc_id", "text"), i.toLong, out, fp)
      }
    (out, fp)
  }

  private def partitions(dir: String): Set[String] =
    new java.io.File(dir).list().filter(_.startsWith("batch_id=")).toSet

  test("folding a directory that is not a store throws and deletes nothing") {
    val (out, _) = landedExact("fold-not-store")
    val idx = s"fold_not_store_${System.nanoTime()}"
    val before = partitions(out)
    before shouldBe Set("batch_id=0", "batch_id=1")
    val e = intercept[IllegalArgumentException](
      Streams.foldFingerprintStore(spark, out, idx))
    e.getMessage should include("without fp")
    partitions(out) shouldBe before
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
      .toSeq shouldBe Seq(1L, 2L)
    spark.table(idx).count() shouldBe 0L
  }

  test("an ingest screen pointed at a directory that is not its store throws") {
    val (landed, _) = landedExact("screen-not-store")
    val out = tmp("screen-not-store-out2")
    new java.io.File(out).delete()
    // the exact tier's fingerprint store mistaken for the landed output
    val e = intercept[IllegalArgumentException](Streams.dedupIngestBatch(
      Seq((3L, "alpha beta")).toDF("doc_id", "text"), 2L, out, landed))
    e.getMessage should include("without fp")
    new java.io.File(out).exists() shouldBe false
    partitions(landed) shouldBe Set("batch_id=0", "batch_id=1")
  }
}
