package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** What one run hands a workload: the live session, the data directory,
  * the run's private work directory and the seeded random source. In the
  * traced run, `step` records a span around a call into the engine.
  */
final class Ctx(val spark: SparkSession, val sfDir: String, val work: File,
    val rnd: scala.util.Random, val tracer: Option[Tracer]) {
  var op: Int = -1
  var opSpan: Int = -1
  var constructEndMs: Double = Double.NegativeInfinity
  var execSpan: Int = -1
  val extra = mutable.LinkedHashMap[String, Double]()

  /** Runs `f`; in the traced run's ops, as a span of `layer` under the op
    * span.
    */
  def step[A](name: String, layer: String)(f: => A): (A, Int) = tracer match {
    case Some(t) if op >= 0 => t.span(opSpan, op, name, layer)(f)
    case _ => (f, -1)
  }
  def nowMs: Double = tracer.map(_.nowMs).getOrElse(System.currentTimeMillis().toDouble)
}

/** One op's outcome as the workload sees it. */
final case class OpOutcome(kind: String, label: String, docs: Long)

trait Workload {
  /** The workload's warm-up, once per run; part of `setup_s`. */
  def prepare(c: Ctx): Unit
  /** The percentile `op_tail_s` reports on this workload. */
  def tailPercentile: Int
  /** Runs op number `i` of the closed loop. */
  def op(c: Ctx, i: Int): OpOutcome
  /** Output checks, outside the timed region: one message per failure,
    * keyed by the op label it condemns ("*" condemns every op).
    */
  def verify(c: Ctx): Seq[(String, String)]
  /** Untimed clean-up: stop streams, drop the workload's tables. */
  def cleanup(c: Ctx): Unit = ()
  /** Input text bytes and stored bytes, where the workload writes. */
  def storage(c: Ctx): Option[(Long, Long)] = None
}

object Workloads {
  def apply(name: String, queriesFile: File, expected: Map[String, (Long, String)]): Workload =
    name match {
      case "floor_mix" | "heavy_exec" => new QueryMix(QueryMix.load(queriesFile, name), expected)
      case "stream_ingest" => new StreamIngest
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** The directories a run's workloads write: its warehouse and the
    * ingest's input, output and state directories.
    */
  def stored(work: File): (Long, Long) =
    Seq(new File(work, "warehouse"), new File(work, "ingest")).map(dirBytes)
      .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }

  def dirBytes(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes)
      .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
}

/** `SparkEntry` queries written to the `noop` sink in a seeded order:
  * the workload's queries of queries.tsv, the same ones for every seed.
  *
  * `prepare` runs each query once with an `Observation` that counts rows
  * and sums a per-row hash, and checks both against the expected values,
  * then once more exactly as an op runs it: the check stays out of the
  * timed ops, and the measured ops start past the steepest part of the
  * JIT warm-up.
  */
final class QueryMix(picks: IndexedSeq[String], expected: Map[String, (Long, String)])
    extends Workload {
  private var order: IndexedSeq[String] = IndexedSeq.empty
  private val failures = mutable.ArrayBuffer[(String, String)]()

  // a 25 s run of floor_mix measures at least 25 ops on a quiet host,
  // so at least ten lie beyond p60
  override val tailPercentile = 60

  override def prepare(c: Ctx): Unit =
    picks.foreach { q =>
      try {
        val (rows, digest) = QueryMix.observe(graft.SparkEntry.queries(q)(c.spark, c.sfDir))
        expected.get(q) match {
          case None => failures += q -> s"$q: no expected value for ${new File(c.sfDir).getName}"
          case Some((n, d)) if n != rows || d != digest =>
            failures += q -> s"$q: got rows=$rows digest=$digest, expected rows=$n digest=$d"
          case _ =>
        }
        run(c, q)
      } catch {
        case e: Throwable => failures += q -> s"$q: check failed: ${e.getMessage}"
      }
    }

  private def run(c: Ctx, q: String): Unit = {
    val (df, _) = c.step("construct", "operators")(graft.SparkEntry.queries(q)(c.spark, c.sfDir))
    c.constructEndMs = c.nowMs
    c.execSpan = c.step("sink", "sources")(
      df.write.format("noop").mode("overwrite").save())._2
  }

  override def op(c: Ctx, i: Int): OpOutcome = {
    if (i % picks.size == 0) order = c.rnd.shuffle(picks)
    val q = order(i % picks.size)
    run(c, q)
    OpOutcome("query", q, 0L)
  }

  override def verify(c: Ctx): Seq[(String, String)] = failures.toSeq
}

object QueryMix {
  def load(f: File, workload: String): IndexedSeq[String] =
    scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).filter(_(0) == workload)
      .map(_(1)).toIndexedSeq

  /** Fractional values are rounded to 6 places before hashing, so the
    * digest does not depend on the last bits of a floating-point result.
    */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _ => c
  }

  /** Row count and order-insensitive digest (sum of per-row xxhash64) of
    * `df`, observed while it is written to the `noop` sink.
    */
  def observe(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType)).toSeq: _*)
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(h.cast(DecimalType(38, 0))), lit(BigDecimal(0)).cast(DecimalType(38, 0))).as("h"))
      .write.format("noop").mode("overwrite").save()
    val r = obs.get
    (r("rows").asInstanceOf[Long], r("h").toString)
  }
}

/** `Streams.startDedupedIngest` over a file source. Each op drops one
  * seeded batch of documents into the watched directory as an atomic file
  * move (the `Replay` recipe) and waits for `processAllAvailable`; every
  * `foldEvery`-th op instead folds the fingerprint store into the index.
  *
  * The fold runs while the stream is paused (stop, fold, restart from the
  * checkpoint), one of the two schedules `foldFingerprintStore` documents.
  * The other, folding between batches of a running stream, lands
  * duplicates: the stream's own session keeps the index table's file
  * listing from before the fold, so fingerprints moved from the store into
  * the index stop screening. The output check below catches that.
  */
final class StreamIngest extends Workload {
  private val batchRows = 300
  private val resendShare = 0.25
  private val foldEvery = 5
  private val indexTable = "perfbench_fp_index"
  // a run measures about 18 ops: each batch costs over a second of fixed
  // driver work, so no percentile above the median has ten samples beyond
  // it; p75 has four or five
  override val tailPercentile = 75

  private var docs: IndexedSeq[String] = IndexedSeq.empty
  private var perm: IndexedSeq[Int] = IndexedSeq.empty
  private var nextFresh = 0
  private var nextId = 0L
  private val sent = mutable.ArrayBuffer[String]()
  private var sentBytes = 0L
  private var batchNo = 0
  private var query: StreamingQuery = _
  private def dir(c: Ctx, n: String) = new File(c.work, s"ingest/$n")

  override def prepare(c: Ctx): Unit = {
    docs = c.spark.read.parquet(s"${c.sfDir}/documents.parquet")
      .orderBy("doc_id").select("text").collect().map(_.getString(0)).toIndexedSeq
    perm = c.rnd.shuffle(docs.indices.toIndexedSeq)
    Seq("in", "staging").foreach(n => dir(c, n).mkdirs())
    graft.operators.Dedup.ensureFingerprintIndex(c.spark, indexTable)
    start(c)
    drop(c)
    query.processAllAvailable()
  }

  private def start(c: Ctx): Unit = {
    val input = c.spark.readStream.schema("doc_id LONG, text STRING")
      .json(dir(c, "in").getPath)
    query = graft.streaming.Streams.startDedupedIngest(input,
      dir(c, "out").getPath, dir(c, "fp").getPath, dir(c, "ckpt").getPath,
      indexTable = Some(indexTable))
  }

  private def stop(): Unit = { query.stop(); query.awaitTermination(60000L) }

  /** A fresh text: the next document of the seeded permutation, marked
    * with the pass number once the corpus is used up.
    */
  private def fresh(): String = {
    val k = nextFresh
    nextFresh += 1
    val t = docs(perm(k % perm.size))
    if (k < perm.size) t else s"$t pass ${k / perm.size}"
  }

  /** Writes one batch and moves it into the watched directory. */
  private def drop(c: Ctx): Long = {
    val rows = (0 until batchRows).map { _ =>
      val t = if (sent.nonEmpty && c.rnd.nextDouble() < resendShare)
        sent(c.rnd.nextInt(sent.size)) else fresh()
      sent += t
      sentBytes += t.getBytes(UTF_8).length
      nextId += 1
      s"""{"doc_id":$nextId,"text":${Json.write(t)}}"""
    }
    val tmp = new File(dir(c, "staging"), f"batch_$batchNo%05d.json")
    Files.write(tmp.toPath, rows.mkString("\n").getBytes(UTF_8))
    Files.move(tmp.toPath, new File(dir(c, "in"), tmp.getName).toPath,
      StandardCopyOption.ATOMIC_MOVE)
    batchNo += 1
    rows.size.toLong
  }

  override def op(c: Ctx, i: Int): OpOutcome = {
    if (i % foldEvery == foldEvery - 1) {
      if (c.tracer.isDefined) {
        c.extra("store_files") = Workloads.dirBytes(dir(c, "fp"))._2.toDouble
      }
      c.step("pause", "streaming")(stop())
      c.step("fold", "streaming")(
        graft.streaming.Streams.foldFingerprintStore(c.spark, dir(c, "fp").getPath, indexTable))
      c.step("restart", "streaming")(start(c))
      OpOutcome("fold", "fold", 0L)
    } else {
      val (n, _) = c.step("drop", "bench")(drop(c))
      c.extra("drop_ms") = c.nowMs
      c.execSpan = c.step("process", "streaming")(query.processAllAvailable())._2
      OpOutcome("batch", "batch", n)
    }
  }

  override def verify(c: Ctx): Seq[(String, String)] = {
    query.processAllAvailable()
    val sentFps = sent.map(StreamIngest.fingerprint).toSet
    val landed = c.spark.read.parquet(dir(c, "out").getPath).select("text")
      .collect().map(r => StreamIngest.fingerprint(r.getString(0)))
    val bad = mutable.ArrayBuffer[(String, String)]()
    if (landed.length != landed.distinct.length)
      bad += "*" -> s"ingest landed ${landed.length - landed.distinct.length} duplicate documents"
    if (landed.toSet != sentFps)
      bad += "*" -> (s"ingest landed ${landed.toSet.size} distinct fingerprints, " +
        s"sent ${sentFps.size}; ${(sentFps -- landed).size} missing, " +
        s"${(landed.toSet -- sentFps).size} unexpected")
    bad.toSeq
  }

  override def cleanup(c: Ctx): Unit = {
    if (query != null) stop()
    c.spark.sql(s"DROP TABLE IF EXISTS $indexTable")
  }

  override def storage(c: Ctx): Option[(Long, Long)] = {
    val stored = Seq(dir(c, "out"), dir(c, "fp"), new File(c.work, "warehouse"))
      .map(f => Workloads.dirBytes(f)._1).sum
    Some((sentBytes, stored))
  }
}

object StreamIngest {
  /** The benchmark's own twin of the engine's content fingerprint: md5 of
    * the text with spaces trimmed at both ends, lower-cased, and every
    * whitespace run collapsed to one space.
    */
  def fingerprint(text: String): String = {
    val norm = text.replaceAll("^ +| +$", "").toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ")
    java.security.MessageDigest.getInstance("MD5").digest(norm.getBytes(UTF_8))
      .map("%02x".format(_)).mkString
  }
}
