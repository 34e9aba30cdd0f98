package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

/** One benchmark run: set-up, a closed-loop measured phase of `seconds`
  * seconds, output checks, and (traced runs only) the per-layer probes.
  * Writes the run artifact to `--out` as one JSON object.
  *
  * Arguments: --workload --seed --seconds --trace 0|1 --sf-dir --work
  * --queries --expected --out [--cores n]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val sfDir = a("sf-dir")
    val work = new File(a("work"))
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val expected = loadExpected(new File(a("expected")))
    val wl = Workloads(workload, new File(a("queries")), expected)
    val rnd = new scala.util.Random(seed)
    val loadStart = loadAvg

    // ---- set-up: from JVM start through the workload's warm-up
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    System.setProperty("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    val s0 = System.nanoTime()
    val spark = graft.core.Sessions.local(appName = "perfbench", cores = cores, shufflePartitions = cores)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val carried = (spark.catalog.listTables().count(), spark.sparkContext.getPersistentRDDs.size)
    val hygiene = if (carried == (0L, 0)) Seq.empty
      else Seq(s"${carried._1} tables and ${carried._2} persisted RDDs carried over into the run")
    val tracer = if (traced) Some(new Tracer(spark, cores)) else None
    val c = new Ctx(spark, sfDir, work, rnd, tracer)
    val p0 = System.nanoTime()
    wl.prepare(c)
    val prepareS = (System.nanoTime() - p0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- measured phase: one closed-loop client
    tracer.foreach(_.reset())
    val sc = spark.sparkContext
    final case class Rec(kind: String, label: String, s: Double, docs: Long, error: Option[String])
    val recs = mutable.ArrayBuffer[Rec]()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      sc.setJobGroup(s"op-$i", s"$workload op $i", interruptOnCancel = false)
      c.op = i; c.execSpan = -1; c.constructEndMs = Double.NegativeInfinity; c.extra.clear()
      val before = if (traced) Workloads.stored(work) else (0L, 0L)
      val opStartMs = c.nowMs
      tracer.foreach(t => c.opSpan = t.open(-1, i, "op", "bench", opStartMs, opStartMs))
      val t0 = System.nanoTime()
      val (out, err) = try (Some(wl.op(c, i)), None) catch {
        case e: Throwable => (None, Some(Option(e.getMessage).getOrElse(e.toString).linesIterator.take(1).mkString))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      recs += Rec(out.map(_.kind).getOrElse("error"), out.map(_.label).getOrElse(s"op-$i"), dt,
        out.map(_.docs).getOrElse(0L), err)
      tracer.foreach { t =>
        t.spans(c.opSpan) = t.spans(c.opSpan).copy(endMs = opStartMs + dt * 1e3)
        val after = Workloads.stored(work)
        val extra = c.extra.toMap ++ Map(
          "persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
          "write_mb" -> (after._1 - before._1) / 1e6,
          "files_written" -> (after._2 - before._2).toDouble) ++
          (if (c.constructEndMs.isInfinite) Map.empty[String, Double]
           else Map("construct_ms" -> (c.constructEndMs - opStartMs)))
        t.finishOp(i, c.opSpan, recs.last.kind, c.constructEndMs, c.execSpan, extra)
      }
      i += 1
    }
    val wallS = (System.nanoTime() - start) / 1e9
    sc.clearJobGroup()
    // collect, then give Spark's ContextCleaner time to drop the blocks of
    // broadcasts and shuffles the collection freed, and collect again:
    // one collection alone read 89 or 124 MB on the same workload
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    // ---- checks, outside the timed region
    val failures = (try wl.verify(c) catch {
      case e: Throwable => Seq("*" -> s"verify failed: ${e.getMessage}")
    }) ++ hygiene.map("*" -> _) ++
      recs.filter(_.error.nonEmpty).map(r => r.label -> s"${r.label}: ${r.error.get}")
    val condemned = failures.map(_._1).toSet
    // a failed check of a query no measured op ran still counts, as the
    // one wrong-output execution the check itself made
    val unmatched = (condemned - "*").count(l => !recs.exists(_.label == l))
    val attempted = recs.size + unmatched
    val failed = recs.count(r => r.error.nonEmpty || condemned("*") || condemned(r.label)) + unmatched

    // ---- per-layer probes of the traced run
    val layerProbes = tracer.map { t =>
      t.detach()
      Map("sources.open_ms" -> Probes.openMs(spark, sfDir)) ++ Probes.functions(spark, sfDir)
    }

    val storage = wl.storage(c)
    wl.cleanup(c)
    val leftTables = spark.catalog.listTables().count()
    val leftCached = sc.getPersistentRDDs.size
    spark.stop()

    // ---- metrics
    val lat = recs.map(_.s).toSeq
    val tailP = wl.tailPercentile
    val docs = recs.map(_.docs).sum
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "op_p50_s" -> (Stats.median(lat), "s"),
      "op_tail_s" -> (Stats.percentile(lat, tailP), "s"),
      "ops_per_s" -> (lat.size / wallS, "1/s"),
      "heap_mb" -> (heapMb, "MB"),
      "failed_ratio" -> (failed.toDouble / attempted, "ratio"))
    if (docs > 0) e2e("docs_per_s") = (docs / wallS, "1/s")
    storage.foreach { case (in, stored) =>
      e2e("stored_bytes_per_input_byte") = (stored.toDouble / math.max(1L, in), "ratio")
    }
    val layers = tracer.map(t => perLayer(t, lat, cores, sessionS, layerProbes.get))

    val artifact = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers.map(_.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }),
      "op_tail_percentile" -> tailP, "op_samples" -> lat.size, "measured_s" -> wallS,
      "prepare_s" -> prepareS, "session_s" -> sessionS,
      "failures" -> failures.map(_._2).distinct.take(50),
      "ops" -> recs.map(r => Map("kind" -> r.kind, "label" -> r.label, "s" -> r.s, "docs" -> r.docs)),
      "hygiene" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(), "master" -> s"local[$cores]",
        "load_start" -> loadStart, "load_end" -> loadAvg, "sf_dir" -> sfDir,
        "java" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION,
        "scala" -> scala.util.Properties.versionNumberString,
        "tables_left" -> leftTables, "persisted_rdds_left" -> leftCached))
    tracer.foreach { t =>
      artifact("op_counters") = t.opCounters.map { case (op, kind, m) => Map("op" -> op, "kind" -> kind) ++ m }
      artifact("spans") = t.spansJson
    }
    java.nio.file.Files.write(new File(a("out")).toPath, Json.write(artifact).getBytes("UTF-8"))
  }

  /** Per-layer metrics of the traced run: per-op counters summarised as
    * medians over the ops that exercise them.
    */
  private def perLayer(t: Tracer, lat: Seq[Double], cores: Int, sessionS: Double,
      probes: Map[String, Double]): mutable.LinkedHashMap[String, (Double, String)] = {
    val ops = t.opCounters.toSeq
    def med(key: String, kinds: Set[String] = Set.empty): Double = {
      val xs = ops.filter(o => kinds.isEmpty || kinds(o._2)).flatMap(_._3.get(key))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val batch = Set("batch")
    val fold = Set("fold")
    val foldMs = {
      val xs = ops.filter(_._2 == "fold").map(_._1).map(i => lat(i) * 1e3)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val taskS = ops.flatMap(_._3.get("task_s")).sum
    val m = mutable.LinkedHashMap[String, (Double, String)](
      "core.session_s" -> (sessionS, "s"),
      "core.persisted_rdds" -> (ops.flatMap(_._3.get("persisted_rdds")).maxOption.getOrElse(0.0), "count"),
      "sources.open_ms" -> (probes("sources.open_ms"), "ms"),
      "sources.scans_per_op" -> (med("scans"), "count"),
      "sources.write_mb" -> (med("write_mb"), "MB"),
      "sources.files_written" -> (med("files_written"), "count"),
      "plans.analysis_ms" -> (med("analysis_ms"), "ms"),
      "plans.optimization_ms" -> (med("optimization_ms"), "ms"),
      "plans.planning_ms" -> (med("planning_ms"), "ms"),
      "plans.aqe_updates" -> (med("aqe_updates"), "count"),
      "plans.exchanges" -> (med("exchanges"), "count"),
      "operators.construct_ms" -> (med("construct_ms"), "ms"),
      "operators.eager_jobs" -> (med("eager_jobs"), "count"),
      "operators.jobs" -> (med("jobs"), "count"),
      "operators.stages" -> (med("stages"), "count"),
      "operators.tasks" -> (med("tasks"), "count"),
      "operators.driver_only_ms" -> (med("driver_only_ms"), "ms"),
      "operators.sched_delay_ms" -> (med("sched_delay_ms"), "ms"),
      "operators.task_s" -> (med("task_s"), "s"),
      "operators.task_cpu_s" -> (med("task_cpu_s"), "s"),
      "operators.busy_ratio" -> (taskS / math.max(1e-9, lat.sum * cores), "ratio"),
      "operators.shuffle_read_mb" -> (med("shuffle_read_mb"), "MB"),
      "operators.shuffle_write_mb" -> (med("shuffle_write_mb"), "MB"),
      "operators.spill_disk_mb" -> (med("spill_disk_mb"), "MB"),
      "operators.result_mb" -> (med("result_mb"), "MB"),
      "operators.failed_tasks" -> (ops.flatMap(_._3.get("failed_tasks")).sum, "count"))
    Probes.functionNames.foreach(f => m(s"functions.${f}_ns_per_row") = (probes(s"functions.$f"), "ns/row"))
    m ++= Seq(
      "streaming.input_lag_ms" -> (med("input_lag_ms", batch), "ms"),
      "streaming.add_batch_ms" -> (med("add_batch_ms", batch), "ms"),
      "streaming.query_planning_ms" -> (med("query_planning_ms", batch), "ms"),
      "streaming.wal_commit_ms" -> (med("wal_commit_ms", batch), "ms"),
      "streaming.latest_offset_ms" -> (med("latest_offset_ms", batch), "ms"),
      "streaming.store_files" -> (med("store_files", fold), "count"),
      "streaming.fold_ms" -> (foldMs, "ms"))
    Seq("bench", "sources", "plans", "operators", "streaming").foreach { l =>
      m(s"self.${l}_ms") = (med(s"self_${l}_ms"), "ms")
    }
    m("trace.op_p50_s") = (Stats.median(lat), "s")
    m
  }

  private def loadExpected(f: File): Map[String, (Long, String)] =
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty).map(_.split("\t"))
      .map(x => x(0) -> (x(1).toLong, x(2))).toMap

  private def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
