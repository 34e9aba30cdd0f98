package graft

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Each query is fully materialized through the
  * `noop` sink — a bare `count()` would let Catalyst prune away the very
  * expressions being measured. Failures are reported per query in an
  * `errors` map (never silently recorded as a timing) and make the run
  * exit nonzero. Readings past 2.5x the committed quiet reference
  * (`bench_quiet.json`) are re-run and min-merged, with the noisy
  * original kept in a `"retried"` map — see the noise-guard comment in
  * `main` (`SPARK_GRAFT_BENCH_RETRY_RUNS=0` disables).
  *
  * `SPARK_GRAFT_BENCH_ISOLATE=1` switches to per-query JVM isolation:
  * the parent forks one fresh JVM per query (same classpath and JVM
  * flags as itself — `run / fork := true` makes both real) and stitches
  * the children's timings into one artifact with `"isolated":1`. The
  * point is drift hygiene: an in-process run executes ~400 query plans
  * in one JVM, and accumulated JIT/GC state has moved untouched queries
  * ±3x between rounds (BASELINE.md round-6 notes) — isolation makes
  * "JVM accumulation vs real regression" measurable instead of argued.
  * Per-child timings still exclude JVM/session startup (each child
  * warms, then reports its own min-of-runs).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    if (sys.env.get("SPARK_GRAFT_BENCH_ISOLATE").contains("1")
        && !sys.env.contains("SPARK_GRAFT_BENCH_CHILD")) {
      isolatedMain()
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local("graft-bench")

    val loadStart = loadAvg

    // warm the session (parquet footer reads, codegen, shuffle machinery)
    // so the first timed query isn't charged for JVM startup
    try {
      graft.sources.Tables(spark, sfDir).lineitem
        .groupBy("l_returnflag").count().collect()
    } catch { case _: Throwable => () }

    // SPARK_GRAFT_BENCH_ONLY=q36,q48 narrows the run for local iteration
    // (prefix match on query names); unset = the full suite. Isolation
    // children match EXACTLY — a parent dispatching "q10_top" must not
    // fan out to every q10-prefixed sibling in the child.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val exact = sys.env.contains("SPARK_GRAFT_BENCH_CHILD")
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(o =>
        if (exact) n == o else n.startsWith(o))))
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    // build-inclusive FIRST-call wall time for the buildOnFirstCall
    // queries: their reported timing is deliberately the warm probe
    // (min of runs 2+), which pins index/state BUILD cost outside the
    // artifact — so build-cost drift was invisible round over round
    // (VERDICT r14 #3). Recorded separately, never min-merged.
    val firstCall = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // two passes per query, report the min: this box shows ~2x run-to-run
    // variance (GC/load), and min-of-2 is the cheapest stable estimator
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      var best = Double.MaxValue
      // build-on-first-call queries (persisted-index probes, cached
      // merges/bucketed prep, state-building corpus ops) measure their
      // WARM reading by design — the build is table prep, not the
      // operator under test, and run 1 is pinned separately in
      // first_call and left out of the warm min. Give them runs+1 total
      // so they get the SAME number of warm samples as every other
      // query: under the old max(runs, 2) rule the warm estimate was
      // min-of-ONE, and a
      // single draw of a write-heavy query swings 10.6–16.9 s on this
      // box (q172, round-17 adjudication of VERDICT r16 #2) — the
      // "regression" was estimator variance, not the operator. Same
      // plans, same methodology (min over identical warm runs); the
      // extra run is measurement, never caching (each run recomputes
      // from parquet).
      val pinned = SparkEntry.buildOnFirstCall(name)
      val nRuns = if (pinned) runs + 1 else runs
      try {
        var run1 = Double.NaN
        (1 to nRuns).foreach { i =>
          // label the query's jobs (guide §1.5) so the UI/event log can
          // attribute intra-query stages when profiling a bench run
          spark.sparkContext.setJobDescription(s"$name run$i")
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          if (i == 1) run1 = dt
          if (!(pinned && i == 1)) best = math.min(best, dt)
        }
        timings(name) = best
        // recorded only after ALL runs succeed: a query that builds on
        // run 1 but dies on run 2 lands in errors, and an orphan
        // first_call entry would break the artifact invariant
        // (first_call keys = pinned ∩ timed)
        if (pinned) firstCall(name) = run1
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(1).mkString.take(200)
      }
    }
    // --- box-noise guard: a loaded box has produced artifacts whose
    // slowest entries were 2.6x the quiet truth (round-7 q118 at
    // load_start 3.55). Against the committed quiet reference
    // (bench_quiet.json, refreshed each round), any query measuring
    // past RETRY_FACTOR x its quiet time is re-run and min-merged, and
    // the original noisy reading is preserved in a "retried" map — so
    // the artifact self-corrects instead of embedding scheduler noise
    // as a phantom regression. Queries without a reference entry (new
    // this round) are left alone, and sub-200ms references are floored
    // to 0.2s before the factor (so a 50ms query retries only past
    // 0.5s — natural fast-query jitter stays untouched, a real stall
    // still gets caught); retries change only the ESTIMATOR (still
    // min-of-runs of the same plan), never the measured computation.
    val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_REF",
      "bench_quiet.json")
    val retryFactor = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_FACTOR",
      "2.5").toDouble
    val retryRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRY_RUNS",
      "2").toInt
    val retried = scala.collection.mutable.LinkedHashMap[String, Double]()
    val refExists =
      java.nio.file.Files.exists(java.nio.file.Paths.get(refPath))
    val refQ: Map[String, Double] =
      if (retryRuns > 0 && refExists)
        parseQueryMap(new String(
          java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(refPath)),
          java.nio.charset.StandardCharsets.UTF_8))
      else Map.empty
    // The silent-empty path is the actual round-9 failure mode: a quiet
    // reference that EXISTS but parses to zero entries means the guard
    // is disarmed while everyone believes it is armed. Scream — and
    // surface the entry count in the summary so the artifact itself
    // records whether the guard was live. (Policy: bench_quiet.json is
    // only ever refreshed by copying a Bench-serialized bench.json,
    // never by an external tool's re-serializer.)
    if (retryRuns > 0 && refExists && refQ.isEmpty)
      System.err.println(
        s"BENCH WARNING: quiet reference '$refPath' exists but parsed to " +
        "ZERO query entries — the box-noise retry guard is DISARMED. " +
        "The file was likely rewritten by an external serializer; " +
        "refresh it only from Bench's own bench.json output.")
    // attempts counted separately from improvements: n_retried=0 must
    // distinguish "guard never fired" from "fired but retries were
    // also slow" (round-9 reporting gap)
    var retryAttempts = 0
    timings.keys.toSeq.foreach { name =>
      refQ.get(name).filter(r => timings(name) > retryFactor *
          math.max(r, 0.2)).foreach { _ =>
        retryAttempts += 1
        val fn = SparkEntry.queries(name)
        var best = timings(name)
        try (1 to retryRuns).foreach { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        } catch { case _: Throwable => () } // keep the measured time
        if (best < timings(name)) {
          retried(name) = timings(name)
          timings(name) = best
        }
      }
    }
    // clear the thread-local label so teardown jobs don't inherit the
    // last query's "name runN" tag (ADVICE r16)
    spark.sparkContext.setJobDescription(null)
    val qs = timings.map { case (k, v) => s"${jstr(k)}:${sec(v)}" }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val retr = retried.map { case (k, v) => s"${jstr(k)}:${sec(v)}" }
      .mkString("{", ",", "}")
    val fc = firstCall.map { case (k, v) => s"${jstr(k)}:${sec(v)}" }
      .mkString("{", ",", "}")
    val total = timings.values.sum
    val loadEnd = loadAvg
    // getSystemLoadAverage returns -1.0 when the platform has no load
    // average; record null rather than -1.000, which a "quiet means
    // load < 2.2" check would misread as a quiet run
    def loadJson(v: Double): String = if (v < 0) "null" else sec(v)
    val loads =
      s""""load_start":${loadJson(loadStart)},"load_end":${loadJson(loadEnd)}"""
    val guard =
      s""""n_retry_attempts":$retryAttempts,"quiet_ref_entries":${refQ.size}"""
    val full =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qs,"errors":$errs,"retried":$retr,"first_call":$fc,$guard,$loads,"sf":${jstr(sfDir)}}"""
    // The driver reads only the stdout TAIL, and the full per-query map
    // (~4 KB) overflows that window — its head truncates mid-key and the
    // line never parses (BENCH_r02/r03 "parsed": null). So: full JSON goes
    // to a file, and the FINAL stdout line is a compact summary (< 1 KB)
    // with just the slowest 5 queries inline.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val slow5 = timings.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => s"${jstr(k)}:${sec(v)}" }.mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","n_queries":${timings.size},"n_errors":${errors.size},"n_retried":${retried.size},$guard,"slowest":$slow5,$loads,"sf":${jstr(sfDir)},"full":${jstr(outPath)}}"""
    // The summary must be the LAST line of the merged stdout+stderr
    // stream (the driver's tail parser reads the final line): silence
    // remaining log output, stop Spark (its shutdown messages land on
    // stderr BEFORE the println this way), THEN print.
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    println(summary)
    if (errors.nonEmpty) sys.exit(1)
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  // Locale.ROOT: the f-interpolator is locale-sensitive and a
  // comma-decimal default locale would emit invalid JSON.
  private def sec(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  // 1-minute system load average, recorded at start and end so a
  // load-polluted artifact self-identifies (the documented box-noise
  // policy: quiet means load < 2.2; a 3.8x excursion on a 3-row ORC
  // round-trip is load, not plans — round-5 postmortem)
  private def loadAvg: Double =
    java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

  /** The `"queries"` object of a bench artifact line as name → seconds
    * — the quiet-reference parser for the retry guard. Whitespace-
    * tolerant on both the object tag and the `name: value` pairs: the
    * round-9 quiet reference had been reserialized by an external tool
    * as `"queries": {` (one space) and the exact-substring match parsed
    * an EMPTY map, silently disarming the retry guard for the whole run
    * (VERDICT r9 "What's wrong" #1). Package-private for BenchSpec.
    */
  private[graft] def parseQueryMap(line: String): Map[String, Double] = {
    val pair = "\"([^\"]+)\"\\s*:\\s*([-0-9.eE+]+)".r
    pair.findAllMatchIn(jsonObj(line, "queries"))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** The inner text of the `"key":{...}` object in a one-line JSON
    * string (braces inside quoted strings skipped), or "" when absent —
    * just enough parsing to stitch child artifacts without a JSON lib.
    * Tolerates whitespace around the colon and before the brace.
    */
  private[graft] def jsonObj(s: String, key: String): String = {
    val tag = ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*\\{").r
    // the tag locator must be string-aware like the brace scanner
    // below: an error message VALUE containing the literal text
    // `"queries":{` would otherwise hijack the extraction — the same
    // disarmed-guard failure class the whitespace fix addressed
    val insideStr = {
      val a = new Array[Boolean](s.length)
      var in = false; var esc = false; var i = 0
      while (i < s.length) {
        a(i) = in
        val c = s.charAt(i)
        if (in) {
          if (esc) esc = false
          else if (c == '\\') esc = true
          else if (c == '"') in = false
        } else if (c == '"') in = true
        i += 1
      }
      a
    }
    val m = tag.findAllMatchIn(s).find(mm => !insideStr(mm.start))
    if (m.isEmpty) return ""
    val start = m.get.end
    var depth = 1; var j = start; var inStr = false; var esc = false
    while (j < s.length && depth > 0) {
      val c = s.charAt(j)
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '{' => depth += 1
        case '}' => depth -= 1
        case _ =>
      }
      j += 1
    }
    if (depth == 0) s.substring(start, j - 1) else ""
  }

  /** Parent side of SPARK_GRAFT_BENCH_ISOLATE=1: fork one child JVM per
    * query (the child is this very main with SPARK_GRAFT_BENCH_CHILD=1
    * and an exact-match ONLY), collect each child's own min-of-runs
    * timing from its artifact file, and emit one stitched artifact
    * marked `"isolated":1`. Classpath and JVM flags are inherited from
    * this process — `run / fork := true` makes both real values, not
    * sbt-classloader fictions.
    */
  private def isolatedMain(): Unit = {
    import scala.jdk.CollectionConverters._
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cp = System.getProperty("java.class.path")
    val workDir = java.nio.file.Files.createTempDirectory("graft-bench-iso")
    val loadStart = loadAvg
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errEntries = scala.collection.mutable.ArrayBuffer[String]()
    // children run the same noise guard; their noisy-original
    // provenance must survive the stitch or the isolated artifact
    // would silently hide that a retry occurred
    val retried = scala.collection.mutable.LinkedHashMap[String, Double]()
    val firstCall = scala.collection.mutable.LinkedHashMap[String, Double]()
    names.zipWithIndex.foreach { case (name, i) =>
      val outFile = workDir.resolve(s"$name.json")
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava)
      pb.redirectErrorStream(true)
      pb.redirectOutput(workDir.resolve(s"$name.log").toFile)
      val env = pb.environment()
      env.put("SPARK_GRAFT_BENCH_CHILD", "1")
      env.put("SPARK_GRAFT_BENCH_ONLY", name)
      env.put("SPARK_GRAFT_BENCH_OUT", outFile.toString)
      env.remove("SPARK_GRAFT_BENCH_ISOLATE")
      val code = pb.start().waitFor()
      val line =
        if (java.nio.file.Files.exists(outFile))
          new String(java.nio.file.Files.readAllBytes(outFile),
            java.nio.charset.StandardCharsets.UTF_8)
        else ""
      val q = jsonObj(line, "queries")
      val num = ("\"" + java.util.regex.Pattern.quote(name) +
        "\":([-0-9.eE+]+)").r
      num.findFirstMatchIn(q).map(_.group(1).toDouble) match {
        case Some(v) => timings(name) = v
        case None =>
          val e = jsonObj(line, "errors")
          errEntries += (if (e.nonEmpty) e
            else s"${jstr(name)}:${jstr(s"child exited $code, no artifact")}")
      }
      parseQueryMap(
        s"""{"queries":{${jsonObj(line, "retried")}}}""")
        .foreach { case (k, v) => retried(k) = v }
      parseQueryMap(
        s"""{"queries":{${jsonObj(line, "first_call")}}}""")
        .foreach { case (k, v) => firstCall(k) = v }
      // progress to stderr (stdout stays clean for the final summary)
      System.err.println(s"[bench-iso] ${i + 1}/${names.size} $name " +
        timings.get(name).map(sec).getOrElse("ERR"))
    }
    val loadEnd = loadAvg
    def loadJson(v: Double): String = if (v < 0) "null" else sec(v)
    val loads =
      s""""load_start":${loadJson(loadStart)},"load_end":${loadJson(loadEnd)}"""
    val qs = timings.map { case (k, v) => s"${jstr(k)}:${sec(v)}" }
      .mkString("{", ",", "}")
    val errs = errEntries.mkString("{", ",", "}")
    val retr = retried.map { case (k, v) => s"${jstr(k)}:${sec(v)}" }
      .mkString("{", ",", "}")
    val fc = firstCall.map { case (k, v) => s"${jstr(k)}:${sec(v)}" }
      .mkString("{", ",", "}")
    val total = timings.values.sum
    val full =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","isolated":1,"queries":$qs,"errors":$errs,"retried":$retr,"first_call":$fc,$loads,"sf":${jstr(sfDir)}}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val slow5 = timings.toSeq.sortBy(-_._2).take(5)
      .map { case (k, v) => s"${jstr(k)}:${sec(v)}" }.mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","isolated":1,"n_queries":${timings.size},"n_errors":${errEntries.size},"n_retried":${retried.size},"slowest":$slow5,$loads,"sf":${jstr(sfDir)},"full":${jstr(outPath)}}"""
    println(summary)
    if (errEntries.nonEmpty) sys.exit(1)
  }
}
