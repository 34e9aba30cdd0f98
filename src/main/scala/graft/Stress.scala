package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Buffers
import graft.operators._
import graft.sources.Tables

/** Scale-up sanity harness: inflates the driver testdata N× IN FLIGHT
  * (mutated copies, so near-dup structure is real, not degenerate) and
  * times the operators whose scale behavior matters most — dedup,
  * similarity, curation. Usage:
  *   SPARK_GRAFT_SCALE=20 sbt 'runMain graft.Stress /root/testdata/sf0.1'
  *
  * This is evidence, not proof: it checks that candidate generation,
  * bucket bounds, and shuffle volumes grow as designed (linearly in
  * corpus size, quadratically ONLY inside true near-dup groups).
  */
object Stress {

  /** One stress line's reading: wall seconds, result rows (-1 = timed
    * action with no count), shuffle read/write MB, spill MB, and the
    * post-op post-GC driver heap MB — the columns BASELINE.md's scale
    * tables record per op. Memory and disk spill are reported
    * SEPARATELY: they describe the SAME spilled records (deserialized
    * in-memory size vs serialized on-disk bytes), so summing them
    * would double-count every spill event; disk is the I/O actually
    * paid, memory the pressure that triggered it.
    */
  final case class OpStat(tag: String, sec: Double, rows: Long,
      shufReadBytes: Long, shufWriteBytes: Long, memSpillBytes: Long,
      diskSpillBytes: Long, heapMb: Long) {
    def shufReadMb: Long = shufReadBytes / (1024 * 1024)
    def shufWriteMb: Long = shufWriteBytes / (1024 * 1024)
    def memSpillMb: Long = memSpillBytes / (1024 * 1024)
    def diskSpillMb: Long = diskSpillBytes / (1024 * 1024)
  }

  /** Monotone totals over completed stages — shuffle read/write bytes
    * and memory/disk spill. Stage-level task metrics are the driver's
    * own aggregates, so this is exact, not sampled.
    */
  private final class StageTotalsListener
      extends org.apache.spark.scheduler.SparkListener {
    private val read = new java.util.concurrent.atomic.AtomicLong
    private val write = new java.util.concurrent.atomic.AtomicLong
    private val mem = new java.util.concurrent.atomic.AtomicLong
    private val disk = new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted)
        : Unit = {
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        mem.addAndGet(m.memoryBytesSpilled)
        disk.addAndGet(m.diskBytesSpilled)
      }
    }
    def snapshot: (Long, Long, Long, Long) =
      (read.get(), write.get(), mem.get(), disk.get())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE", "20").toInt
    val spark = graft.core.Sessions.local("graft-stress")
    val t = Tables(spark, sfDir)

    // n mutated copies of every document: copy i appends a distinct tail
    // token, so copies are NEAR-dups (trigram Jaccard ~0.9+), the
    // realistic worst case for LSH candidate volume
    val docs = t.documents
      .crossJoin(spark.range(n).toDF("copy"))
      .select(
        (col("doc_id") * n + col("copy")).as("doc_id"),
        concat(col("text"), lit(" tail"), col("copy")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    // n perturbed copies of every embedding (deterministic shift)
    val embs = t.embeddings
      .crossJoin(spark.range(n).toDF("copy"))
      .select(
        (col("vec_id") * n + col("copy")).as("vec_id"),
        transform(col("embedding"),
          x => x + (col("copy") % 7).cast("float") * lit(0.01f))
          .as("embedding"),
        col("label"))
    val queries = embs.filter(col("vec_id") < 5)
    // n shifted copies of the event stream with DISTINCT users, so the
    // per-user event density stays realistic while total volume scales
    val evs = t.events
      .crossJoin(spark.range(n).toDF("copy"))
      .select(
        (col("event_id") * n + col("copy")).as("event_id"),
        col("ts"),
        (col("user_id") * n + col("copy")).as("user_id"),
        col("event_type"), col("value"))

    // SPARK_GRAFT_STRESS_ONLY=tag1,tag2 narrows the run for iteration
    // (same contract as the Verify/Bench ONLY filters); skipped ops are
    // dropped from the JSON line entirely
    val only: Set[String] = sys.env.get("SPARK_GRAFT_STRESS_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    def want(tag: String): Boolean = only.isEmpty || only(tag)

    // Per-op resource accounting (VERDICT r14 #1: scale evidence needs
    // shuffle/spill volumes, not just wall time): a SparkListener
    // accumulates completed-stage totals; each op snapshots the
    // counters around its action. Listener events are delivered
    // asynchronously, so the post-snapshot waits until the counters go
    // quiet (two identical reads 100 ms apart, 3 s cap) — attribution
    // is exact for this harness's strictly sequential ops.
    val totals = new StageTotalsListener
    spark.sparkContext.addSparkListener(totals)
    def settledSnapshot(): (Long, Long, Long, Long) = {
      var prev = totals.snapshot
      var i = 0
      while (i < 30) {
        Thread.sleep(100)
        val cur = totals.snapshot
        if (cur == prev) return cur
        prev = cur; i += 1
      }
      // cap hit: a straggling op's stage-completion events may leak
      // into the NEXT op's delta — mark the reading instead of
      // claiming exact attribution (ADVICE r15)
      System.err.println("[stress] WARNING: listener counters still " +
        "moving after 3 s quiesce cap — the adjacent ops' shuffle/" +
        "spill deltas may be cross-attributed")
      prev
    }
    // driver-heap reading AFTER a GC: the no-driver-memory-growth
    // evidence — collected state (centroids, prefix sums, specs) must
    // stay bounded however large the corpus
    def driverHeapMb(): Long = {
      // two advisory GCs with a settle gap: a single System.gc() may
      // not complete a full collection before the read, intermittently
      // over-stating the post-GC footprint (ADVICE r15)
      System.gc()
      Thread.sleep(50)
      System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    }

    // rows = -1 marks a timed action with no row count (index builds) —
    // distinguishable in the JSON from a genuinely empty result;
    // sec = -1 marks a filtered-out op (removed before the JSON line)
    def timeAction(tag: String)(action: => Long): OpStat = {
      if (!want(tag)) return OpStat(tag, -1.0, -1L, 0, 0, 0, 0, 0)
      val (r0, w0, m0, d0) = settledSnapshot()
      val t0 = System.nanoTime()
      val rows = action
      val sec = (System.nanoTime() - t0) / 1e9
      val (r1, w1, m1, d1) = settledSnapshot()
      val heap = driverHeapMb()
      val stat = OpStat(tag, sec, rows, r1 - r0, w1 - w0,
        m1 - m0, d1 - d0, heap)
      val suffix = if (rows >= 0) s"  ($rows rows)" else ""
      println(f"[stress] $tag%-24s $sec%8.2f s$suffix  " +
        f"shuf r/w ${stat.shufReadMb}%d/${stat.shufWriteMb}%d MB  " +
        f"spill mem/disk ${stat.memSpillMb}%d/${stat.diskSpillMb}%d MB  " +
        f"heap ${heap}%d MB")
      stat
    }
    def time(tag: String)(df: => DataFrame): OpStat =
      timeAction(tag)(df.count())

    val nDocs = docs.count()
    val nEmbs = embs.count()
    println(s"[stress] corpus: $nDocs docs, $nEmbs embeddings (x$n)")

    // persisted-index build/query split: the build is the one-time cost
    // that [[Similarity.lshTopK]]/[[ivfTopK]] pay on EVERY call; the
    // query probe is what repeats at serving time
    def timed(tag: String)(body: => Unit): OpStat =
      timeAction(tag) { body; -1L }

    // dup-pair edge list materialized ONCE so the two dupComponents
    // checkpoint paths (executor-pinned localCheckpoint vs reliable
    // parquet rounds) time ONLY their round-buffer strategy, not a
    // re-run of the minhash pipeline
    val ccDir = s"${System.getProperty("java.io.tmpdir")}/graft-stress-cc-${System.nanoTime()}"
    // lazy + by-name time() args: a SPARK_GRAFT_STRESS_ONLY run that
    // skips the dup-components ops never pays for the pair build
    lazy val bigDocs = docs.select(col("doc_id"),
      repeat(col("text"), 8).as("text"))
    lazy val dupPairs = {
      Dedup.minhashDupPairs(docs, threshold = 0.7, k = 64, bands = 32)
        .write.mode("overwrite").parquet(s"$ccDir/pairs")
      spark.read.parquet(s"$ccDir/pairs")
    }
    // the ingest-fold A/B's shared input: the mutated corpus split into
    // 24 "crawl batches", materialized once so each per-batch filter is
    // a parquet scan, not a re-run of the crossJoin mutation plan
    val ingDir = s"${System.getProperty("java.io.tmpdir")}/graft-stress-ingest-${System.nanoTime()}"
    lazy val ingestIn = {
      docs.withColumn("__b", pmod(col("doc_id"), lit(24L)).cast("int"))
        .write.mode("overwrite").parquet(s"$ingDir/in")
      Dedup.ensureFingerprintIndex(spark, "stress_ingest_fp")
      spark.read.parquet(s"$ingDir/in")
    }

    // HUB-SKEW graph: one node of degree 30,000 (every spoke), a spoke
    // ring, and pseudo-random chords — the shape where the naive
    // (unoriented) wedge join fans out C(deg, 2) per center (~450M
    // wedges through the hub alone) while degree orientation bounds
    // per-node fan-out by C(outdeg, 2) with outdeg = O(√m).
    // Materialized to parquet once so both triangle shapes and LPA
    // time the algorithm, not the generator.
    lazy val hubEdges = {
      val spokes = spark.range(1, 30001)
        .select(lit(0L).as("src"), col("id").as("dst"))
      val ring = spark.range(1, 30000)
        .select(col("id").as("src"), (col("id") + 1L).as("dst"))
      val chords = spark.range(1, 30001)
        .select(col("id").as("src"),
          (pmod(col("id") * 7919L + 13L, lit(30000L)) + 1L).as("dst"))
      spokes.unionByName(ring).unionByName(chords)
        .write.mode("overwrite").parquet(s"$ccDir/hub")
      val e = spark.read.parquet(s"$ccDir/hub")
      // one-off wedge accounting for BASELINE.md: the numbers that
      // explain the wall-time gap between the two triangle shapes
      val und = Buffers.once(e.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
      val deg = Buffers.once(und.select(col("a").as("node"))
        .union(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg")))
      val naiveW = deg
        .agg(sum((col("deg") * (col("deg") - 1) / 2).cast("long")))
        .head().getLong(0)
      val oriented = und
        .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        .select(when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("u"))
        .groupBy("u").agg(count(lit(1)).as("od"))
      val orientedW = oriented
        .agg(sum((col("od") * (col("od") - 1) / 2).cast("long")))
        .head().getLong(0)
      val hubDeg = deg.agg(max("deg")).head().getLong(0)
      val nEdges = und.count()
      println(s"[stress] hubGraph: edges=$nEdges hubDeg=$hubDeg " +
        s"naiveWedges=$naiveW orientedWedges=$orientedW")
      e
    }
    // the naive unoriented triangle shape — the CONTRAST workload the
    // degree orientation is measured against; deliberately not in the
    // library
    def naiveTriangles(edges: DataFrame): DataFrame = {
      val und = Buffers.once(edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
      val nb = und.select(col("a").as("c"), col("b").as("n"))
        .union(und.select(col("b").as("c"), col("a").as("n")))
      val wedges = nb.as("x").join(nb.as("y"),
          col("x.c") === col("y.c") && col("x.n") < col("y.n"))
        .select(col("x.c").as("c"), col("x.n").as("y"),
          col("y.n").as("z"))
      val closed = wedges.join(
        und.select(col("a").as("y"), col("b").as("z")), Seq("y", "z"))
      closed.select(explode(array(col("c"), col("y"), col("z")))
          .as("node"))
        .groupBy("node").agg(count(lit(1)).as("triangles"))
    }

    // one-time state build for the incremental-delta lines (lazy: a
    // filtered run that skips all three corpus-state ops never pays it;
    // rows counted so the corpusBuildState line reports chunk volume).
    // The chunk relation itself is kept for the fold/compaction lines.
    lazy val stressCorpusChunks: DataFrame =
      Pipeline.corpusBuildWithState(docs, "stress_corpus",
        mixBudgetTokens = 400000L)
    lazy val stressCorpusStateReady: Long = stressCorpusChunks.count()

    // the operational loop's read-cost story: three COMMITTED ~1%-churn
    // deltas folded into the v1 chunks leave a reader paying 3 chained
    // anti-joins + unions per scan; compaction squashes that into one
    // bucketed table. Committed (so the deltas chain) and therefore
    // ordered AFTER the uncommitted delta lines below, which must see
    // pristine v1 state.
    lazy val stressFoldedCorpusAndCrawl: (DataFrame, DataFrame) = {
      stressCorpusStateReady
      var cur = stressCorpusChunks
      var crawl = docs
      for ((r, e, a) <- Seq((401, 409, 419), (421, 431, 433),
          (439, 443, 449))) {
        val next = mutateCrawl(crawl, removeMod = r, editMod = e,
          addMod = a)
        cur = Pipeline.applyCorpusDelta(cur,
          Pipeline.corpusDelta(next, crawl, "stress_corpus",
            commit = true))
        crawl = next
      }
      (cur, crawl)
    }
    lazy val stressFoldedCorpus: DataFrame = stressFoldedCorpusAndCrawl._1
    // the crawl the state was last committed from — what the retrain
    // family's corpusDocs contract requires
    lazy val stressFinalCrawl: DataFrame = stressFoldedCorpusAndCrawl._2
    def chunkReader(chunks: DataFrame): DataFrame =
      chunks.groupBy("shard")
        .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("n_tokens"))

    // ten materialized changeset slices for the N≈10 read-amplification
    // lines: one ~20%-churn delta split by doc_id%10 — each slice keeps
    // every doc's del+add together, so the ten slices form a valid
    // changeset CHAIN whose sequential fold equals folding the original
    // once. Built lazily (a filtered run that skips both lines never
    // pays it), each slice eagerly checkpointed so the timed lines
    // measure FOLD cost, never delta recompute. Runs after the
    // fold/compact lines by construction, so the delta diffs against
    // the committed v3 state — content is irrelevant to the
    // amplification measurement, only slice count and size are.
    lazy val stressDeltaPieces: Seq[DataFrame] = {
      val d = Pipeline.corpusDelta(mutateCrawl(docs, removeMod = 15,
        editMod = 16, addMod = 14), docs, "stress_corpus")
      (0 until 10).map(i =>
        Buffers.once(d.filter(col("doc_id") % 10 === i)))
    }
    // synthetic crawl deltas over the 20× corpus: drop %removeMod, edit
    // %editMod, add %addMod under shifted ids — the q108 mutation
    // classes at a controlled fraction of the corpus
    def mutateCrawl(base: DataFrame, removeMod: Int, editMod: Int,
        addMod: Int): DataFrame =
      base.filter(col("doc_id") % removeMod =!= 0)
        .withColumn("text",
          when(col("doc_id") % editMod === 0,
            concat(col("text"), lit(" edited"))).otherwise(col("text")))
        .unionByName(base.filter(col("doc_id") % addMod === 0).select(
          (col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text"),
          col("lang"), col("source"), col("n_chars")))

    val results = Seq(
      time("curate")(Curation.curate(docs)),
      time("exactDedup")(Dedup.exactDedup(docs)),
      time("minhashDupPairs")(Dedup.minhashDupPairs(docs,
        threshold = 0.7, k = 64, bands = 32)),
      // the 8-byte verify payload (shingles xxhash64'd before the pair
      // joins): the 100× run measured 137 GB of spill through the
      // string-array verify at 27M pairs — this line prices the scale
      // path against the oracle-exact string form above
      time("minhashDupPairsHashed")(Dedup.minhashDupPairs(docs,
        threshold = 0.7, k = 64, bands = 32, hashShingles = true)),
      // the postings-intersection verify (VERDICT r15 #4): hashed
      // shingles exploded to 16-byte posting rows, shared-hash count
      // per pair — prices the residual array-payload spill of the
      // hashed form against a pure row-streaming aggregate
      time("minhashDupPairsPostings")(Dedup.minhashDupPairsPostings(
        docs, threshold = 0.7, k = 64, bands = 32)),
      // timeAction (by-name), NOT time(df): dupComponents iterates
      // EAGERLY inside the call — a strict DataFrame argument would run
      // the propagation outside the timer and clock only the last count
      timeAction("dupComponentsLocal")(
        Dedup.dupComponents(dupPairs).count()),
      timeAction("dupComponentsReliable")(
        Dedup.dupComponents(dupPairs,
          checkpointDir = Some(s"$ccDir/rounds")).count()),
      time("simhashDupPairs")(Dedup.simhashDupPairs(docs)),
      // persisted near-dup index: the build pays the full-corpus
      // shingle/sign/bucket pass ONCE; each crawl batch then pays only
      // its own signatures + the bucketed probe. The inline twin
      // (incrementalNearDup) re-pays the corpus pass on every call —
      // probe ≪ inline is the point of the index.
      timed("nearDupIndexBuild")(Dedup.buildNearDupIndex(
        docs.filter(col("doc_id") % 100 =!= 0), "stress_neardup",
        k = 64, bands = 32)),
      time("nearDupIndexProbe")(Dedup.probeNearDupIndex(
        docs.filter(col("doc_id") % 100 === 0),
        docs.filter(col("doc_id") % 100 =!= 0), "stress_neardup",
        threshold = 0.7, k = 64, bands = 32)),
      time("incrementalNearDup")(Dedup.incrementalNearDup(
        docs.filter(col("doc_id") % 100 === 0),
        docs.filter(col("doc_id") % 100 =!= 0),
        threshold = 0.7, k = 64, bands = 32)),
      // the same trio at REALISTIC doc sizes: the synthetic corpus
      // averages ~300 chars/doc, so the corpus shingle pass the index
      // removes is atypically cheap and the small trio above measures
      // mostly overhead floor. repeat(text, 8) inflates the
      // text-proportional work (tokenize/gram) 8x while keeping the
      // distinct shingle set — and thus pair structure — identical;
      // the index's probe cost is CONSTANT in text size, which is the
      // whole trade (at 2-10 KB web docs the inline pass re-reads and
      // re-tokenizes the corpus text every crawl, the probe never does)
      timed("nearDupIndexBuildBig")(Dedup.buildNearDupIndex(
        bigDocs.filter(col("doc_id") % 100 =!= 0), "stress_neardup_big",
        k = 64, bands = 32)),
      time("nearDupIndexProbeBig")(Dedup.probeNearDupIndex(
        bigDocs.filter(col("doc_id") % 100 === 0),
        bigDocs.filter(col("doc_id") % 100 =!= 0), "stress_neardup_big",
        threshold = 0.7, k = 64, bands = 32)),
      time("incrementalNearDupBig")(Dedup.incrementalNearDup(
        bigDocs.filter(col("doc_id") % 100 === 0),
        bigDocs.filter(col("doc_id") % 100 =!= 0),
        threshold = 0.7, k = 64, bands = 32)),
      // simhash index: signatures ride in the index, so the probe reads
      // ZERO corpus text — build once, then per-crawl probes are pure
      // chunk-join + xor arithmetic
      timed("simhashIndexBuildBig")(Dedup.buildSimhashIndex(
        bigDocs.filter(col("doc_id") % 100 =!= 0), "stress_simhash_big")),
      time("simhashIndexProbeBig")(Dedup.probeSimhashIndex(
        bigDocs.filter(col("doc_id") % 100 === 0), "stress_simhash_big")),
      // bounded-buffer heavy hitters over the full 20x token stream
      time("heavyHitters")(Sketches.heavyHitters(
        docs.select(explode(
          TextAnalysis.tokens(col("text"))).as("tok")), "tok", 1.0 / 128)),
      // exact-dedup twin of the index split, same realistic doc sizes:
      // the stored set is 16 bytes/doc vs re-hashing the corpus text
      timed("fpIndexBuildBig")(Dedup.buildFingerprintIndex(
        bigDocs.filter(col("doc_id") % 100 =!= 0), "stress_fp_big")),
      time("fpIndexProbeBig")(Dedup.probeFingerprintIndex(
        bigDocs.filter(col("doc_id") % 100 === 0), "stress_fp_big")),
      time("incrementalExactBig")(Dedup.incrementalExactDedup(
        bigDocs.filter(col("doc_id") % 100 === 0),
        bigDocs.filter(col("doc_id") % 100 =!= 0))),
      // bloom tier in front of the same fp index: the probe's anti-join
      // input shrinks to the might_contain residue; build is the
      // one-time corpus pass
      timed("bloomIndexBuild")(Dedup.buildBloomIndex(
        bigDocs.filter(col("doc_id") % 100 =!= 0), "stress_bloom_big",
        "stress_fp_big")),
      time("bloomIndexProbeBig")(Dedup.probeBloomIndex(
        bigDocs.filter(col("doc_id") % 100 === 0),
        "stress_bloom_big", "stress_fp_big")),
      // crash-ordered vacuum of the big fp index down to a half-live
      // corpus (runs LAST in the fp family — it mutates the table).
      // The keep set arrives PRE-MATERIALIZED (the corpus-state
      // snapshot shape — the recommended caller), so the line prices
      // the vacuum itself: semi-join rewrite + rename swap. A caller
      // deriving liveness from text pays one fp scan on top (=
      // fpIndexBuildBig's cost shape).
      locally {
        // pre-force OUTSIDE the clock (the filtered-run guard pattern)
        val liveFps = if (want("fpIndexVacuumBig"))
          Buffers.once(TextAnalysis.fingerprints(
              bigDocs.filter(col("doc_id") % 100 =!= 0)
                .filter(col("doc_id") % 2 =!= 0)).select("fp"))
        else null
        timed("fpIndexVacuumBig")(
          Dedup.compactFingerprintIndex(spark, "stress_fp_big", liveFps))
      },
      // semantic dedup at n x 500 embeddings: every vector sits in a
      // ~n-clone clique (the mutated copies), the per-cell join's
      // realistic worst case
      time("semanticDedup")(Similarity.semanticDedup(embs, k = 8,
        iters = 3, threshold = 0.99)),
      // incremental semantic probe: batch assigned to frozen cells,
      // verify join reads only probed partitions
      timed("semIndexBuild")(Similarity.buildIvfIndex(
        embs.filter(col("vec_id") % 100 =!= 0),
        "stress_sem", "stress_sem_cents")),
      time("semIndexProbe")(Similarity.probeSemanticIndex(spark,
        embs.filter(col("vec_id") % 100 === 0),
        "stress_sem", "stress_sem_cents",
        threshold = 0.99, nprobe = 1)),
      // BPE train + full-corpus encode; summing n_tokens forces the
      // id joins (a bare count would let the planner skip them)
      timeAction("bpeTrainEncode") {
        val merges = Bpe.trainMerges(docs, numMerges = 8)
        Bpe.encodeDocs(docs, merges).agg(sum(col("n_tokens")))
          .head().getLong(0)
      },
      // the trainer-facing export over the same merges: per-bin
      // sequence assembly on top of encode + the prefix-sum pack;
      // summing n_tokens forces the flatten aggregates
      timeAction("packedExport") {
        val merges = Bpe.trainMerges(docs, numMerges = 8)
        Bpe.packedSequences(docs, merges, budgetTokens = 2048)
          .agg(sum(col("n_tokens"))).head().getLong(0)
      },
      // 8 GD rounds = 8 map-side-combined aggregates over the corpus
      time("qualityClassifier")(Classifier.qualityClassifier(docs)),
      time("urlCanonicalDedup")(Web.canonicalUrlDedup(
        docs.withColumn("url", concat(
          lit("https://WWW.Example"), col("doc_id") % 1000,
          lit(".COM:443/p/"), col("doc_id") % 1000,
          lit("/?utm_source=x&b=2&a=1#f"))))),
      // duplicated passages: every window recurs in ~n sibling copies,
      // so df lookups hit on nearly all of the corpus's windows
      time("duplicatedSpanRuns")(Dedup.duplicatedSpanRuns(docs)),
      time("duplicatedSpanRunsHash")(
        Dedup.duplicatedSpanRuns(docs, hashSpans = true)),
      // count() alone would let Catalyst ELIMINATE the left join with
      // the reassembled-text aggregate (row count is provably the doc
      // count); summing n_cut forces the whole pipeline. The printed
      // "rows" is the total tokens cut.
      timeAction("stripDuplicatedSpans")(
        Dedup.stripDuplicatedSpans(docs).agg(sum(col("n_cut")))
          .head().getLong(0)),
      // streaming-ingest store→index fold: the same 24 crawl batches
      // land twice — once accumulating one store partition per batch
      // (the unfolded worst case), once folding into the bucketed index
      // every 6 batches. The final batch's ingest IS the probe timing:
      // flat after folds vs the unfolded store's per-partition creep is
      // the fold's whole point (VERDICT r6 #1).
      timed("ingestUnfolded23")((0 until 23).foreach(i =>
        graft.streaming.Streams.dedupIngestBatch(
          ingestIn.filter(col("__b") === i).drop("__b"), i.toLong,
          s"$ingDir/a-out", s"$ingDir/a-fp"))),
      timeAction("ingestProbeUnfolded") {
        graft.streaming.Streams.dedupIngestBatch(
          ingestIn.filter(col("__b") === 23).drop("__b"), 23L,
          s"$ingDir/a-out", s"$ingDir/a-fp")
        spark.read.parquet(s"$ingDir/a-fp").count()
      },
      timed("ingestFolded23")((0 until 23).foreach { i =>
        graft.streaming.Streams.dedupIngestBatch(
          ingestIn.filter(col("__b") === i).drop("__b"), i.toLong,
          s"$ingDir/b-out", s"$ingDir/b-fp", Some("stress_ingest_fp"))
        if (i % 6 == 5) graft.streaming.Streams.foldFingerprintStore(
          spark, s"$ingDir/b-fp", "stress_ingest_fp")
      }),
      timeAction("ingestProbeFolded") {
        graft.streaming.Streams.dedupIngestBatch(
          ingestIn.filter(col("__b") === 23).drop("__b"), 23L,
          s"$ingDir/b-out", s"$ingDir/b-fp", Some("stress_ingest_fp"))
        spark.table("stress_ingest_fp").count()
      },
      // the exact-recall twin: every doc has ~n near-dup copies here, so
      // true pairs grow n^2 per cluster — the honest worst case for the
      // prefix-filter candidate volume
      time("exactJaccardPairs")(Dedup.exactJaccardPairs(docs,
        threshold = 0.7)),
      time("weightedSample")(Relational.weightedSamplePerGroup(evs,
        "event_type", "event_id", "value", k = 100)),
      time("benchmarkOverlap")(Dedup.benchmarkOverlap(
        docs.filter(col("doc_id") % 29 =!= 0),
        docs.filter(col("doc_id") % 29 === 0))),
      time("repetitionSignals")(TextAnalysis.repetitionSignals(docs)),
      time("packSequences")(Relational.packSequences(docs)),
      time("lshTopK")(Similarity.lshTopK(embs, queries, 10, 4, 16)),
      timed("lshIndexBuild")(
        Similarity.buildLshIndex(embs, "stress_lsh", 4, 16)),
      time("lshIndexQuery")(
        Similarity.queryLshIndex(spark, "stress_lsh", queries, 10, 4, 16)),
      // the PORTABLE (oracle-replayable) family at the same geometry:
      // build pays interpreted integer HOFs per corpus row (the
      // documented tax vs the fused native codegen); the probe must sit
      // at native parity — it reads the same bucketed layout and its
      // signature tree is a handful of nodes (see portableSigsExpr)
      timed("lshIndexBuildPortable")(Similarity.buildLshIndex(
        embs, "stress_lsh_port", 4, 16, portable = true)),
      time("lshIndexQueryPortable")(Similarity.queryLshIndex(
        spark, "stress_lsh_port", queries, 10, 4, 16, portable = true)),
      time("ivfTopK")(Similarity.ivfTopK(embs, queries, 10, 5)),
      timed("ivfIndexBuild")(
        Similarity.buildIvfIndex(embs, "stress_ivf", "stress_ivf_cents")),
      time("ivfIndexQuery")(Similarity.queryIvfIndex(spark, "stress_ivf",
        "stress_ivf_cents", queries, 10, 5)),
      // rebuild-pressure audit over the persisted index just built:
      // one cell-keyed pass + a #cells-sized broadcast — must price
      // like a scan of the index, far under the build it advises on
      time("ivfRebuildPressure")(Similarity.ivfRebuildPressure(spark,
        "stress_ivf", "stress_ivf_cents")),
      time("bruteForceTopK")(Similarity.bruteForceTopK(embs, queries, 10)),
      time("asofJoin")(Temporal.viewsWithLastPurchase(evs)),
      time("intervalJoin")(Temporal.purchaseWindowViews(evs)),
      time("quantize")(Similarity.quantizeEmbeddings(embs)),
      time("quantizePerDim")(Similarity.quantizePerDim(embs)),
      // components precomputed (eager) so this times RESOLUTION alone:
      // the members-only argmax + the single corpus-labeling join
      time("resolveCanonical")(Dedup.resolveCanonical(docs,
        Dedup.dupComponents(dupPairs))),
      time("budgetSelect")(Relational.budgetSelect(
        docs.select(col("doc_id"), col("n_chars"),
          size(TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tokens")),
        "n_chars", "n_tokens", budget = 300000L)),
      time("shuffleShard")(Relational.shuffleShard(
        docs.select("doc_id", "source"), "doc_id", 64)),
      time("redactPii")(TextAnalysis.redactPii(docs)),
      // every doc has ~n high-containment copies (same base, different
      // tail), so candidate volume is n^2 per cluster — the same honest
      // worst case exactJaccardPairs faces, through the asymmetric path
      time("containmentPairs")(Dedup.containmentPairs(docs,
        threshold = 0.8)),
      // fuzzy linkage is a NAME/TITLE operator — stress it on name-length
      // keys, not full documents (levenshtein is O(len²) per pair).
      // Catalog shape: every base doc yields n variant names sharing an
      // md5-hex body with a short version suffix, so each base
      // contributes ~n²/2 true pairs that all reach the verify step,
      // while cross-base candidates die on the rare-prefix keys. (Text
      // slices of the synthetic corpus are the WRONG stress input here:
      // uniform length plus a tiny shared vocabulary makes even "rare"
      // bigrams hundreds-of-names common, and candidates balloon far
      // past the true-pair count — measured, not guessed.)
      // q=4, per the operator's own sizing guidance: 100k hex-body names
      // leave q=2's 256-value gram space with no rare keys at all
      time("fuzzyPairs")(TextOps.fuzzyPairs(
        docs.select(concat(
          md5(floor(col("doc_id") / n).cast("string")),
          lit(" v"), pmod(col("doc_id"), lit(n.toLong))).as("name")),
        "name", threshold = 3, q = 4)),
      // five event types = five ultra-hot authorities: the skewed-degree
      // regime for the per-round contribution aggregation
      timeAction("pageRank") {
        val e0 = evs.select(
          concat(lit("u:"), col("user_id")).as("src"),
          concat(lit("e:"), col("event_type")).as("dst")).distinct()
        Graph.pageRank(
          e0.union(e0.select(col("dst").as("src"), col("src").as("dst"))),
          iters = 3).count()
      },
      time("sourceShift")(TextAnalysis.sourceShift(docs)),
      time("noveltyScores")(Dedup.noveltyScores(docs)),
      // BPE training is one word-count shuffle over the 20x corpus plus
      // pair-count rounds over the (barely grown) vocabulary — the
      // round cost must NOT scale with corpus size. Forced-distributed
      // 32-round line (the oracle-identical fallback) vs the default
      // driver-local path at a production-shaped 1024 merges (the
      // distributed loop would pay 1024 sequential scheduler
      // round-trips for the same answer)
      timeAction("bpeTrain32Distributed") {
        Bpe.trainMerges(docs, numMerges = 32, localMaxWords = 0)
          .size.toLong
      },
      timeAction("bpeTrain1024Local") {
        Bpe.trainMerges(docs, numMerges = 1024).size.toLong
      },
      time("bpeTokenStats")(Bpe.tokenStatsByLang(docs,
        Bpe.trainMerges(docs, numMerges = 8))),
      // incremental cardinality: one full-corpus sketch build, then a
      // crawl-sized fold — the fold must cost the BATCH, not the
      // corpus (the whole point of the mergeable store)
      timeAction("hllStoreBuild") {
        Seq("stress_hll", "stress_hll__spec")
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
        graft.operators.Sketches.buildHllStore(
          docs.filter(col("doc_id") % 100 =!= 0),
          Seq("source"), "text", "stress_hll")
        -1L
      },
      timeAction("hllStoreFold") {
        graft.operators.Sketches.appendHllStore(
          docs.filter(col("doc_id") % 100 === 0), "stress_hll")
        graft.operators.Sketches.hllEstimates(spark, "stress_hll").count()
      },
      // streaming heavy hitters over the 24-batch split: per-batch
      // bounded summaries + one entrywise merge — vs the batch operator
      // on the same data (both exact by the recount)
      timeAction("heavyHitterStream") {
        val hhDir = s"$ingDir/hh-store"
        val toks = ingestIn.select(col("__b"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        (0 until 24).foreach(i =>
          graft.streaming.Streams.heavyHitterBatch(
            toks.filter(col("__b") === i), i.toLong, "tok", 128, hhDir))
        graft.streaming.Streams.mergedHeavyHitters(spark, hhDir, 128,
          toks, "tok", 1.0 / 128).count()
      },
      // minhash-tier ingest: 6 crawl batches where EVERY doc in batches
      // 1+ is a near-dup of an earlier copy — the screen's worst case
      // (maximal candidate volume, every candidate verifies true)
      timeAction("minhashIngest6") {
        (0 until 6).foreach(i =>
          graft.streaming.Streams.minhashIngestBatch(
            ingestIn.filter(col("__b") === i).drop("__b"), i.toLong,
            s"$ingDir/mh-out", s"$ingDir/mh-band"))
        spark.read.parquet(s"$ingDir/mh-out").count()
      },
      // the same 24-batch heavy-hitter stream with a fold every 6
      // batches: the merge's driver read is O(k) however long the
      // stream ran — end-to-end cost must sit at the unfolded line's
      // level (folds are tiny summary rewrites, not corpus passes)
      timeAction("heavyHitterStreamFolded") {
        val hhDir = s"$ingDir/hh-store-folded"
        val toks = ingestIn.select(col("__b"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        (0 until 24).foreach { i =>
          graft.streaming.Streams.heavyHitterBatch(
            toks.filter(col("__b") === i), i.toLong, "tok", 128, hhDir)
          if (i % 6 == 5)
            graft.streaming.Streams.foldHeavyHitterStore(spark, hhDir, 128)
        }
        graft.streaming.Streams.mergedHeavyHitters(spark, hhDir, 128,
          toks, "tok", 1.0 / 128).count()
      },
      // CCNet LM family at 20x: the reference-LM bigram table is the
      // scale surface (|bigram vocab| rows, bucketed by probe keys).
      // Inline re-pays the reference pass per scoring call; the
      // persisted path pays it once — the probe must cost the
      // CANDIDATES, not the reference. rows on lmTableBuild = model
      // size (bigram count rows)
      time("crossPerplexityInline")(TextAnalysis.crossPerplexity(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0))),
      timeAction("lmTableBuild") {
        TextAnalysis.buildLmTable(
          docs.filter(col("doc_id") % 3 =!= 0), "stress_lm")
        spark.table("stress_lm").count()
      },
      time("crossPerplexityProbe")(TextAnalysis.crossPerplexityWithTable(
        docs.filter(col("doc_id") % 3 === 0), "stress_lm")),
      // k-means seeding at IVF-scale k over the 20x embeddings:
      // farthest pays k-1 dependent corpus passes, k-means|| pays
      // rounds+1=6 regardless of k — the crossover the seeding option
      // exists for. iters=1 so the line times SEEDING + one Lloyd pass
      timeAction("kmeansSeedFarthest256") {
        Similarity.kMeansFit(embs, k = 256, iters = 1,
          seeding = "farthest")._1.length.toLong
      },
      timeAction("kmeansSeedParallel256") {
        Similarity.kMeansFit(embs, k = 256, iters = 1,
          seeding = "parallel")._1.length.toLong
      },
      // portable (oracle-replayable) HLL: one aggregate over the corpus
      // to m=1024 registers per key — the estimate chain is driver-free
      time("hllPortable")(Sketches.hllEstimatePortable(docs
        .select(col("doc_id").as("l_orderkey"), col("lang")
          .as("l_returnflag")), "l_orderkey", "l_returnflag")),
      // histogram-quantile family: inline pays the corpus aggregate +
      // the exact-twin sort; the store build pays ONLY the aggregate
      // (the scale path ships no twin); the probe reads <=~1k rows/key
      // off the persisted store — quantiles as a lookup
      time("histQuantilesInline")(
        Sketches.histogramQuantiles(docs, "n_chars", "lang")),
      timeAction("histStoreBuildFold") {
        Sketches.buildHistogramStore(
          docs.filter(col("doc_id") % 2 === 0), "n_chars", "lang",
          "stress_hist")
        Sketches.appendHistogramStore(
          docs.filter(col("doc_id") % 2 === 1), "stress_hist")
        spark.table("stress_hist").count()
      },
      time("histStoreProbe")(
        Sketches.quantilesFromStore(spark, "stress_hist")),
      // winnowing at 20x: fingerprint density is 2/(w+1) per shingle, so
      // rows ~ 1/3 of the token count; the match join is posting-list
      // bounded (df cut) over a corpus that is one giant near-dup family
      time("winnowFingerprints")(
        Dedup.winnowingFingerprints(docs)),
      time("winnowMatches")(
        Dedup.winnowingMatches(docs, maxDf = 64)),
      // at clone counts past maxDf the df cut suppresses EVERY shared
      // window (measured: 0 matches at 100 clones / maxDf 64 — the
      // bound working as designed); this line raises the cut above the
      // clique size so the 100× matching cost is a real number
      time("winnowMatchesDeep")(
        Dedup.winnowingMatches(docs, maxDf = 256)),
      // mixture sample: one shuffle-free scan whatever the mix size
      time("mixtureSample")(Relational.mixtureSample(docs, col("doc_id"),
        col("lang"), Map("en" -> 0.5, "fr" -> 0.25, "de" -> 0.75,
          "zh" -> 0.1))),
      // HLL overlap triage: corpus pair -> register join, no value join
      time("hllOverlap")(Sketches.hllOverlapPortable(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0), "text", "lang")),
      // winnow INDEX: build pays the corpus fingerprint pass once
      // (bucketed write by fp); the probe pays only the batch's own
      // fingerprints + the posting join — per-crawl contamination
      // screening as a lookup against 95% of the corpus
      timeAction("winnowIndexBuild") {
        Dedup.buildWinnowIndex(docs.filter(col("doc_id") % 20 =!= 0),
          "stress_winnow")
        spark.table("stress_winnow").count()
      },
      time("winnowIndexProbe")(Dedup.probeWinnowIndex(
        docs.filter(col("doc_id") % 20 === 0), "stress_winnow")),
      // token-budget mix: totals aggregate + broadcast + filtered scan
      time("tokenBudgetMix")(Relational.tokenBudgetMix(docs,
        col("doc_id"), col("lang"), col("n_chars"),
        Map("en" -> 2000000L, "fr" -> 1000000L, "de" -> 3000000L,
          "zh" -> 400000L))),
      // temperature mix: same two-pass shape, √T shares derived in-plan
      time("temperatureMix")(Relational.temperatureMix(docs,
        col("doc_id"), col("lang"), col("n_chars"), 5000000L)),
      // the END-TO-END corpus build (q164's engine path) over the 20×
      // adversarially-duplicated corpus: curate + near-dup resolution +
      // temperature mix + BPE train/encode + chunk + pack + shard in
      // one call — the composition's cost at scale is the number that
      // matters, since every stage is individually timed above.
      // Budget scaled so the mix keeps a real selection (not all/none).
      time("corpusBuild")(Pipeline.corpusBuild(docs,
        mixBudgetTokens = 400000L)),
      // INCREMENTAL maintenance at 20×: the state build is the one-time
      // cost; the deltas are what a recurring crawl pays. Two delta
      // sizes (~2% and ~20% of the corpus changed) pin the claim that
      // delta cost tracks DELTA size, not corpus size — the small
      // delta must sit far below the full build, and the 10× delta
      // must cost well under 10× the small one (the fixed floor is the
      // fingerprint diff + index probe, both cheap scans).
      timeAction("corpusBuildState") {
        stressCorpusStateReady
      },
      {
        if (want("corpusDeltaSmall") || want("corpusDeltaBig") ||
            want("corpusDeltaNoop")) {
          stressCorpusStateReady; ()
        }
        time("corpusDeltaSmall")(graft.operators.Pipeline.corpusDelta(
          mutateCrawl(docs, removeMod = 151, editMod = 157,
            addMod = 149), docs, "stress_corpus"))
      },
      time("corpusDeltaBig")(graft.operators.Pipeline.corpusDelta(
        mutateCrawl(docs, removeMod = 15, editMod = 16, addMod = 14),
        docs, "stress_corpus")),
      // the unchanged-crawl delta: zero changeset rows, so this line IS
      // the per-delta fixed floor (full-crawl fingerprint scan + diff
      // against the snapshot) that the Small/Big lines sit on top of
      time("corpusDeltaNoop")(graft.operators.Pipeline.corpusDelta(
        docs, docs, "stress_corpus")),
      // the same small delta with RELIABLE parquet waists (the
      // cluster-mode transaction form): measures what surviving
      // executor loss costs vs executor-local localCheckpoint buffers
      {
        if (want("corpusDeltaReliable")) { stressCorpusStateReady; () }
        time("corpusDeltaReliable")(graft.operators.Pipeline.corpusDelta(
          mutateCrawl(docs, removeMod = 151, editMod = 157,
            addMod = 149), docs, "stress_corpus",
          checkpointDir = Some(s"${System.getProperty("java.io.tmpdir")}" +
            s"/graft-stress-delta-ckpt-${System.nanoTime()}")))
      },
      // operational-loop lines: the fold chain's commit cost, a reader
      // over the 3-deep anti-join view, the compaction squash, and the
      // same reader over the compacted bucketed table — the last two
      // lines are the flat-read-after-compaction claim, measured
      {
        // pre-force OUTSIDE the timers for filtered runs (the
        // stressCorpusStateReady pattern): a run keeping only a
        // downstream line must not execute the three committed delta
        // builds inside that line's timed block
        if (want("corpusFoldedRead") || want("corpusCompact") ||
            want("corpusCompactedRead") || want("corpusFolded10Read") ||
            want("corpusManaged10Read")) { stressFoldedCorpus; () }
        timeAction("corpusFoldCommits") {
          stressFoldedCorpus; -1L
        }
      },
      time("corpusFoldedRead")(chunkReader(stressFoldedCorpus)),
      timeAction("corpusCompact")(Pipeline.compactCorpus(
        stressFoldedCorpus, "stress_corpus",
        "stress_corpus_compacted").count()),
      {
        // a filtered run that skips the corpusCompact line still needs
        // the compacted table on disk (untimed here in that case)
        if (want("corpusCompactedRead") &&
            !spark.catalog.tableExists("stress_corpus_compacted")) {
          Pipeline.compactCorpus(stressFoldedCorpus, "stress_corpus",
            "stress_corpus_compacted"); ()
        }
        time("corpusCompactedRead")(chunkReader(
          spark.table("stress_corpus_compacted")))
      },
      // the N≈10 read-amplification curve: the SAME ten outstanding
      // changesets read through (a) ten chained applyCorpusDelta
      // anti-joins — the cost that grows with N — and (b) the one-pass
      // applyCorpusDeltas fold corpusTableRead uses, whose plan is one
      // anti-join + one latest-changeset pass at ANY N. The pair pins
      // the bounded-read claim behind the managed table's design.
      {
        if (want("corpusFolded10Read") || want("corpusManaged10Read")) {
          stressFoldedCorpus; stressDeltaPieces; ()
        }
        time("corpusFolded10Read")(chunkReader(
          stressDeltaPieces.foldLeft(stressFoldedCorpus)(
            Pipeline.applyCorpusDelta)))
      },
      time("corpusManaged10Read")(chunkReader(
        Pipeline.applyCorpusDeltas(stressFoldedCorpus,
          stressDeltaPieces))),
      // the retrain loop's cost gap at 20×, on a state with a real
      // committed-delta history (the three stressFoldedCorpus commits):
      // retrainPressure is the cheap audit (one standing-text
      // vocabulary pass + vocabulary-sized joins), retrainState the
      // rebuild-priced migration it advises on — the audit exists so
      // the retrain is paid rarely, and this pair records that gap as
      // a number. retrainState runs LAST in the corpus-state family
      // (it advances the generation; every other stress_corpus line is
      // ordered before it).
      {
        if (want("retrainPressure") || want("retrainState")) {
          stressFoldedCorpus; ()
        }
        time("retrainPressure")(Pipeline.retrainPressure(
          stressFinalCrawl, "stress_corpus"))
      },
      timeAction("retrainState")(Pipeline.retrainState(
        stressFinalCrawl, "stress_corpus").count()),
      // the loop's retention endgame: reclaim the superseded
      // generation the retrain above left behind — export-guard scan
      // (catalog-sized) + three DROPs + the spec advance
      {
        // a filtered run that skipped the timed retrain still needs a
        // superseded generation to reclaim (untimed here in that case)
        if (want("dropGeneration") && !want("retrainState")) {
          stressFoldedCorpus
          Pipeline.retrainState(stressFinalCrawl, "stress_corpus")
            .count(); ()
        }
        timeAction("dropGeneration") {
          Pipeline.dropGeneration(spark, "stress_corpus", 1); -1L
        }
      },
      // the WHOLE index-vacuum policy (not the per-family lines above):
      // every companion index a deployment maintains beside the state
      // family — fp / simhash / winnow / semantic plus the band index —
      // reclaimed to the standing corpus in one call. Companion builds
      // are untimed setup (their costs are the *IndexBuild lines); the
      // timed call prices keep-set derivation (state tables only, no
      // text rescan) + five crash-ordered swap rewrites. Runs after
      // the corpus-state family has its committed-delta history.
      locally {
        if (want("vacuumIndexesPolicy")) {
          stressFoldedCorpus
          Dedup.buildFingerprintIndex(docs, "stress_vac_fp")
          Dedup.buildSimhashIndex(docs, "stress_vac_sh")
          Dedup.buildWinnowIndex(docs, "stress_vac_wn")
          Similarity.buildIvfIndex(embs, "stress_vac_ivf",
            "stress_vac_ivf_cents")
        }
        timeAction("vacuumIndexesPolicy") {
          Pipeline.vacuumIndexes(spark, "stress_corpus",
            fingerprintIndex = Some("stress_vac_fp"),
            simhashIndex = Some("stress_vac_sh"),
            winnowIndex = Some("stress_vac_wn"),
            semanticIndex = Some("stress_vac_ivf"))
          -1L
        }
      },
      // hub-skew graph family (see hubEdges): the oriented operator vs
      // the naive wedge shape on the same 30k-degree-hub graph, plus
      // LPA whose per-round cost is edge-linear regardless of skew.
      // hubEdges (generator write + wedge accounting) is forced OUTSIDE
      // the first timer so all three lines time only their algorithm.
      {
        if (want("hubTriangles") || want("hubTrianglesNaive") ||
            want("hubLPA")) { hubEdges; () }
        time("hubTriangles")(Graph.triangleCounts(hubEdges))
      },
      time("hubTrianglesNaive")(naiveTriangles(hubEdges)),
      time("hubLPA")(Graph.labelPropagation(hubEdges, iters = 4)))
    val qs = results.filter(_.sec >= 0).map { s =>
      s""""${s.tag}":{"sec":${s.sec},"rows":${s.rows},""" +
        s""""shuffle_read_mb":${s.shufReadMb},""" +
        s""""shuffle_write_mb":${s.shufWriteMb},""" +
        s""""spill_mem_mb":${s.memSpillMb},""" +
        s""""spill_disk_mb":${s.diskSpillMb},""" +
        s""""driver_heap_mb":${s.heapMb}}"""
    }.mkString("{", ",", "}")
    println(s"""{"stress":{"scale":$n,"docs":$nDocs,"embs":$nEmbs,"ops":$qs}}""")
    spark.stop()
  }
}
