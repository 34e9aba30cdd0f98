package graft

import org.apache.spark.sql.functions._

import graft.core.Buffers
import graft.operators.{Curation, Dedup, Pipeline}

/** Composition invariants of the end-to-end corpus build (q164's
  * engine side): the per-stage operators are individually oracle-gated;
  * these tests pin what only the COMPOSITION can break — stage
  * contracts lining up, end-to-end determinism, and the geometry of
  * the final training chunks.
  */
class PipelineSpec extends SparkSpec {

  private lazy val out = Pipeline.corpusBuild(tables.documents).cache()

  test("corpus build produces training chunks end to end") {
    out.count() should be > 0L
  }

  test("every emitted doc survived curation (stages compose, not leak)") {
    val outDocs = out.select("doc_id").distinct()
    val curated = Curation.curate(tables.documents).select("doc_id")
    outDocs.join(curated, Seq("doc_id"), "left_anti").count() shouldBe 0L
  }

  test("chunk geometry: <= 32 tokens each, contiguous 0-based indices") {
    out.filter(col("n_tokens") > 32).count() shouldBe 0L
    // chunk_idx per doc is 0..n-1 with no gaps
    val bad = out.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("chunk_idx").as("mx"),
        min("chunk_idx").as("mn"),
        countDistinct("chunk_idx").as("nd"))
      .filter(col("mn") =!= 0 || col("mx") =!= col("n") - 1 ||
        col("nd") =!= col("n"))
    bad.count() shouldBe 0L
  }

  test("pack bins: every chunk assigned; bin ids contiguous from 0") {
    val bins = out.select("bin_id").distinct()
      .collect().map(_.getLong(0)).sorted
    bins.head shouldBe 0L
    bins shouldBe (0L until bins.length).toArray
  }

  test("shards: round-robin over bins, every shard id in [0, 8)") {
    out.filter(col("shard") < 0 || col("shard") >= 8)
      .count() shouldBe 0L
    // a bin maps to exactly one shard
    out.groupBy("bin_id").agg(countDistinct("shard").as("n"))
      .filter(col("n") =!= 1).count() shouldBe 0L
    // round-robin: shard counts over bins differ by at most one
    val perShard = out.select("bin_id", "shard").distinct()
      .groupBy("shard").count().collect().map(_.getLong(1))
    (perShard.max - perShard.min) should be <= 1L
  }

  test("the whole pipeline is deterministic run to run") {
    val again = Pipeline.corpusBuild(tables.documents)
    rowSet(again) shouldBe rowSet(out)
  }

  test("build's hashed near-dup resolution equals the exact string verify chain") {
    // the build opts into the 8-byte verify payload (hashShingles) for
    // its stage-2 resolution — the r16 spill cut; this pins the whole
    // resolution chain (pairs → components → canonical keep set)
    // byte-identical to the exact string-verify form on the same
    // curated corpus, so the q164 oracle's string-semantics replay and
    // the Spark build can never drift
    val docs = tables.documents
    val curated = docs
      .join(Curation.curate(docs).select("doc_id"), Seq("doc_id"))
    def chain(hashed: Boolean) =
      Dedup.resolveCanonical(curated,
        Dedup.dupComponents(Dedup.minhashDupPairs(curated,
          threshold = 0.7, ngram = 3, k = 64, bands = 32,
          hashShingles = hashed)))
        .filter(col("keep") === 1L).select("doc_id")
    rowSet(chain(hashed = true)) shouldBe rowSet(chain(hashed = false))
  }

  // explicit-persist ids only: localCheckpoint buffers (the BPE round
  // materializer, the build's own output — all eager, so their RDDs
  // report isCheckpointed) are ContextCleaner-reachable by design and
  // linger in getPersistentRDDs only until the next GC — counting them
  // would make this assertion timing-dependent. The leak class these
  // tests pin is the EXPLICIT persist, which no GC ever frees without
  // an unpersist call.
  private def pinnedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if !rdd.isCheckpointed => id }.toSet

  test("corpus-sized intermediates are released on the success path") {
    val before = pinnedIds
    val built = Pipeline.corpusBuild(tables.documents)
    built.count() should be > 0L
    val leaked = pinnedIds -- before
    assert(leaked.isEmpty,
      s"corpusBuild leaked persisted intermediates: rdd ids $leaked")
  }

  test("build invariants hold across a parameter grid (q171's property form)") {
    // the q164/q171 oracles pin two parameter points exactly; this case
    // sweeps a grid at tiny scale and asserts the STRUCTURAL contract
    // at every point — chunk geometry bounded by the window, contiguous
    // chunk indices, bins contiguous from 0, shards in range and
    // bin-functional, rerun-identical output
    val docs = tables.documents.filter(col("doc_id") % 3 === 0)
    val grid = Seq(
      (5000L, 16, 256L, 4, 3),
      (9000L, 24, 384L, 12, 5),
      (50000L, 48, 1024L, 6, 2))
    for ((budget, chunk, pack, merges, shards) <- grid) {
      val tag = s"(budget=$budget chunk=$chunk pack=$pack " +
        s"merges=$merges shards=$shards)"
      val out = Pipeline.corpusBuild(docs, budget, chunk, pack, merges,
        shards).cache()
      withClue(tag) {
        out.count() should be > 0L
        out.filter(col("n_tokens") > chunk).count() shouldBe 0L
        val badIdx = out.groupBy("doc_id")
          .agg(count(lit(1)).as("n"), max("chunk_idx").as("mx"),
            min("chunk_idx").as("mn"),
            countDistinct("chunk_idx").as("nd"))
          .filter(col("mn") =!= 0 || col("mx") =!= col("n") - 1 ||
            col("nd") =!= col("n"))
        badIdx.count() shouldBe 0L
        val bins = out.select("bin_id").distinct()
          .collect().map(_.getLong(0)).sorted
        bins.head shouldBe 0L
        bins shouldBe (0L until bins.length).toArray
        out.filter(col("shard") < 0 || col("shard") >= shards)
          .count() shouldBe 0L
        out.groupBy("bin_id").agg(countDistinct("shard").as("n"))
          .filter(col("n") =!= 1).count() shouldBe 0L
        rowSet(Pipeline.corpusBuild(docs, budget, chunk, pack, merges,
          shards)) shouldBe rowSet(out)
      }
      out.unpersist()
    }
  }

  // ------------------------------------------------ incremental delta

  private val statePrefix = s"pipe_state_${System.nanoTime()}"
  private lazy val v1 =
    Pipeline.corpusBuildWithState(tables.documents, statePrefix).cache()

  /** The q108-style synthetic second crawl: drop %17, edit %13, re-add
    * %19 under shifted ids — every mutation class the delta must
    * classify.
    */
  private def mutateV2(docs: org.apache.spark.sql.DataFrame) =
    docs.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" edited v2"))).otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") % 19 === 0).select(
        (col("doc_id") + 100000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars")))

  test("state tables are bucketed: the diff's snapshot side joins exchange-free") {
    // the diff's full-outer join is the only corpus×corpus join on the
    // delta path; the snapshot is written bucketed by doc_id so ITS
    // side never re-shuffles — exactly one Exchange (the crawl side)
    v1.count() should be > 0L
    val snap = spark.table(s"${statePrefix}_snapshot")
    val probe = tables.documents
      .select(col("doc_id"), md5(col("text")).as("new_fp"))
    val p = plan(snap.join(probe, Seq("doc_id"), "full_outer"))
    "Exchange".r.findAllMatchIn(p).size shouldBe 1
    val p2 = plan(spark.table(s"${statePrefix}_standing")
      .join(probe.select("doc_id"), Seq("doc_id"), "left_anti"))
    "Exchange".r.findAllMatchIn(p2).size shouldBe 1
  }

  test("delta of an unchanged crawl is empty") {
    v1.count() should be > 0L
    Pipeline.corpusDelta(tables.documents, tables.documents,
      statePrefix).count() shouldBe 0L
  }

  test("delta classifies tombstones exactly; new bins append above v1's") {
    v1.count() should be > 0L
    val docs = tables.documents
    val delta = Pipeline.corpusDelta(mutateV2(docs), docs, statePrefix)
    // tombstones = removed (%17) ∪ changed (%13 not also removed)
    val expectedDels = docs.select("doc_id").collect().map(_.getLong(0))
      .filter(id => id % 17 == 0 || id % 13 == 0).toSet
    delta.filter(col("op") === "del").select("doc_id").collect()
      .map(_.getLong(0)).toSet shouldBe expectedDels
    // append-only placement: every delta bin is strictly above v1's max
    val v1MaxBin = v1.agg(max("bin_id")).head().getLong(0)
    delta.filter(col("op") === "add").agg(min("bin_id")).head()
      .getLong(0) should be > v1MaxBin
    // the folded corpus carries no EFFECTIVELY-deleted doc (a changed
    // doc is tombstoned AND re-added — only docs with no add row must
    // vanish) and carries every add verbatim
    val applied = Pipeline.applyCorpusDelta(v1, delta)
    val goneForGood = delta.filter(col("op") === "del").select("doc_id")
      .join(delta.filter(col("op") === "add").select("doc_id")
        .distinct(), Seq("doc_id"), "left_anti")
    applied.join(goneForGood, Seq("doc_id")).count() shouldBe 0L
    val adds = delta.filter(col("op") === "add").drop("op")
    rowSet(applied.join(adds.select("doc_id").distinct(),
      Seq("doc_id"))) shouldBe rowSet(adds)
    // docs untouched by the crawl keep their v1 rows bit for bit
    val unchanged = v1.select("doc_id").distinct()
      .join(delta.select("doc_id").distinct(), Seq("doc_id"),
        "left_anti")
    rowSet(applied.join(unchanged, Seq("doc_id"))) shouldBe
      rowSet(v1.join(unchanged, Seq("doc_id")))
  }

  test("delta is deterministic run to run") {
    v1.count() should be > 0L
    val docs = tables.documents
    val v2 = mutateV2(docs)
    rowSet(Pipeline.corpusDelta(v2, docs, statePrefix)) shouldBe
      rowSet(Pipeline.corpusDelta(v2, docs, statePrefix))
  }

  test("delta waists can materialize through reliable parquet checkpoints") {
    // checkpointDir = Some(dir) routes every stage waist through
    // parquet instead of executor-local localCheckpoint buffers (the
    // cluster form that survives executor loss mid-transaction); the
    // changeset must be bit-identical to the default path
    v1.count() should be > 0L
    val docs = tables.documents
    val v2 = mutateV2(docs)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-delta-ckpt").toString
    val reliable = Pipeline.corpusDelta(v2, docs, statePrefix,
      checkpointDir = Some(dir))
    reliable.count() should be > 0L
    rowSet(reliable) shouldBe
      rowSet(Pipeline.corpusDelta(v2, docs, statePrefix))
  }

  test("exact screen: the snapshot side never shuffles") {
    // the corpus-sized side of the exact-dup screen must be ONE
    // shuffle-free bucketed scan filtered through broadcasts; the only
    // shuffle exchanges are the two fp-distincts over delta-sized /
    // hit-set-sized rows
    v1.count() should be > 0L
    val snap = spark.table(s"${statePrefix}_snapshot")
    val deltaDocs = Buffers.once(tables.documents.limit(40))
    val tomb = Buffers.once(tables.documents.select("doc_id").limit(5))
    val p = plan(Pipeline.exactScreen(deltaDocs, snap, tomb))
    val shuffles = "Exchange".r.findAllMatchIn(p).size -
      "BroadcastExchange".r.findAllMatchIn(p).size
    withClue(p) {
      // at most the two fp-distinct re-keys (delta set + hit set);
      // every join is a broadcast — a SortMergeJoin would mean the
      // corpus-sized snapshot got shuffled
      shuffles should be <= 2
      p should not include "SortMergeJoin"
      p should include("Bucketed: true")
    }
  }

  test("a committed delta pays ONE full-crawl fingerprint scan") {
    // route the crawl text through a counting UDF: the commit's
    // snapshot advance must read the fp rows the diff already cached,
    // never re-derive them — so a committed delta evaluates the text
    // column exactly as often as an uncommitted one
    val p = s"pipe_fp_${System.nanoTime()}"
    Pipeline.corpusBuildWithState(tables.documents, p).count() should
      be > 0L
    val acc = spark.sparkContext.longAccumulator("text_evals")
    val countText = udf { (s: String) => acc.add(1); s }
    val crawl = tables.documents
      .withColumn("text", countText(col("text")))
    Pipeline.corpusDelta(crawl, tables.documents, p).count()
    val uncommitted = acc.value.longValue
    uncommitted should be > 0L
    acc.reset()
    Pipeline.corpusDelta(crawl, tables.documents, p, commit = true)
      .count()
    withClue("commit re-derived the crawl fingerprints: ") {
      acc.value.longValue shouldBe uncommitted
    }
  }

  test("delta releases every persisted intermediate") {
    v1.count() should be > 0L
    val before = pinnedIds
    Pipeline.corpusDelta(mutateV2(tables.documents), tables.documents,
      statePrefix).count()
    val leaked = pinnedIds -- before
    assert(leaked.isEmpty,
      s"corpusDelta leaked persisted intermediates: rdd ids $leaked")
  }

  test("committed delta advances the state: same crawl re-deltas empty, a third crawl chains") {
    v1.count() should be > 0L
    val docs = tables.documents
    val v2 = mutateV2(docs)
    val d2 = Pipeline.corpusDelta(v2, docs, statePrefix, commit = true)
      .cache()
    d2.filter(col("op") === "add").count() should be > 0L
    // state is now AT v2: the identical crawl has no delta
    Pipeline.corpusDelta(v2, v2, statePrefix).count() shouldBe 0L
    // third crawl (drop %23, edit %11) deltas against the COMMITTED
    // state — its new bins append above the v2 delta's
    val v3 = v2.filter(col("doc_id") % 23 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" edited v3"))).otherwise(col("text")))
    val d3 = Pipeline.corpusDelta(v3, v2, statePrefix)
    val d2MaxBin = d2.filter(col("op") === "add")
      .agg(max("bin_id")).head().getLong(0)
    d3.filter(col("op") === "add").agg(min("bin_id")).head()
      .getLong(0) should be > d2MaxBin
    // folding both rounds leaves no EFFECTIVELY-deleted doc: a doc
    // tombstoned in a round can legitimately return via the SAME
    // round's re-add (changed doc) or a LATER round's
    val corpus = Pipeline.applyCorpusDelta(
      Pipeline.applyCorpusDelta(v1, d2), d3)
    def ids(df: org.apache.spark.sql.DataFrame, op: String) =
      df.filter(col("op") === op).select("doc_id").distinct()
    val goneForGood =
      ids(d2, "del").join(ids(d2, "add"), Seq("doc_id"), "left_anti")
        .unionByName(ids(d3, "del")).distinct()
        .join(ids(d3, "add"), Seq("doc_id"), "left_anti")
    corpus.join(goneForGood, Seq("doc_id")).count() shouldBe 0L
    d2.unpersist()
  }

  test("a delta group with no frozen mix threshold fails loudly") {
    // the alien doc passes curation (40 unknown-language tokens) and
    // both screens, then hits the frozen-mix coverage guard. Works at
    // either state generation (v1 if run in isolation — hence the v1
    // force — or v2 after the previous test's commit): the alien doc
    // is "added" against both snapshots.
    v1.count() should be > 0L
    val v2 = mutateV2(tables.documents)
    val alien = v2.limit(1)
      .withColumn("doc_id", lit(999999L))
      .withColumn("text",
        lit((1 to 40).map(i => s"zq$i").mkString(" ")))
      .withColumn("lang", lit("xx"))
    val ex = intercept[IllegalArgumentException] {
      Pipeline.corpusDelta(v2.unionByName(alien), v2, statePrefix)
    }
    ex.getMessage should include("no frozen mix threshold")
    ex.getMessage should include("xx")
  }

  test("compaction squashes folded deltas: same chunks, fresh bins, deltas chain above") {
    val p = s"pipe_compact_${System.nanoTime()}"
    val docs = tables.documents
    val v1c = Pipeline.corpusBuildWithState(docs, p)
    val v2 = mutateV2(docs)
    // committed AND through the reliable parquet waists — the full
    // cluster-mode transaction shape, so every downstream assertion
    // here also gates that path end to end
    val d2 = Pipeline.corpusDelta(v2, docs, p, commit = true,
      checkpointDir = Some(java.nio.file.Files
        .createTempDirectory("graft-commit-ckpt").toString))
    val folded = Pipeline.applyCorpusDelta(v1c, d2)
    val table = s"${p}_chunks"
    val compacted = Pipeline.compactCorpus(folded, p, table)
    val compactedRows = rowSet(compacted)

    // chunk content (docs, geometry, token streams) is untouched —
    // only bin/shard placement changes
    rowSet(compacted.drop("bin_id", "shard")) shouldBe
      rowSet(folded.drop("bin_id", "shard"))
    // bins are contiguous from 0 again (the folded relation's bin space
    // has deletion holes and the delta's appended range)
    val bins = compacted.select("bin_id").distinct()
      .collect().map(_.getLong(0)).sorted
    bins.head shouldBe 0L
    bins shouldBe (0L until bins.length).toArray
    bins.length.toLong should be <=
      folded.select("bin_id").distinct().count()
    // shards stay in range and bin-functional
    compacted.filter(col("shard") < 0 || col("shard") >= 8)
      .count() shouldBe 0L
    compacted.groupBy("bin_id").agg(countDistinct("shard").as("n"))
      .filter(col("n") =!= 1).count() shouldBe 0L
    // the spec's commit marker advanced to the compacted max_bin —
    // written LAST, after the table is durable
    graft.sources.IndexSpec.readRequired(spark, p)
      .getAs[Long]("max_bin") shouldBe bins.last
    // the compacted table reads back as one bucketed scan: a doc_id
    // join against it needs no table-side Exchange (the q48 layout)
    val probe = Buffers.once(docs.select("doc_id").limit(10))
    val pj = plan(spark.table(table).join(probe, Seq("doc_id")))
    ("Exchange".r.findAllMatchIn(pj).size -
      "BroadcastExchange".r.findAllMatchIn(pj).size) should be <= 1
    // the band index was vacuumed to the standing set: no entry for a
    // doc that left the corpus survives compaction, and its spec is
    // intact (the next delta's probe — d3 below — runs against it live)
    spark.table(s"${p}_neardup").select("doc_id").distinct()
      .join(spark.table(s"${p}_standing"), Seq("doc_id"), "left_anti")
      .count() shouldBe 0L
    graft.sources.IndexSpec.readRequired(spark, s"${p}_neardup")
      .getAs[Int]("bands") shouldBe 32
    // a delta AFTER compaction appends strictly above the compacted
    // (smaller) bin space
    val v3 = v2.filter(col("doc_id") % 23 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" edited v3"))).otherwise(col("text")))
    val d3 = Pipeline.corpusDelta(v3, v2, p)
    d3.filter(col("op") === "add").agg(min("bin_id")).head()
      .getLong(0) should be > bins.last
    // re-entrant: re-running overwrites table + spec with identical content
    rowSet(Pipeline.compactCorpus(folded, p, table)) shouldBe compactedRows
  }

  test("rebuild after deltas equals a fresh build MODULO exactly the suppressed twins") {
    // The corpusDelta scaladoc documents ONE semantic edge: crawl twins
    // suppressed as duplicates of a since-removed doc diff as
    // "unchanged" and are never re-evaluated — "a periodic full rebuild
    // reconciles". This gate pins the edge's SIZE: the doc-set diff
    // between rebuild-after-delta and the folded corpus is EXACTLY the
    // suppressed-twin set, in one direction only.
    //
    // Construction: restrict the base corpus to docs in no near-dup
    // pair and with a unique fingerprint, so every dup cluster in the
    // test crawl is exactly {original, twin} and the expected set is
    // analytic. Budget is far above the corpus so the frozen-vs-rederived
    // mix can't confound doc membership.
    val p1 = s"pipe_rec1_${System.nanoTime()}"
    val p2 = s"pipe_rec2_${System.nanoTime()}"
    val base0 = tables.documents
    val ndPairs = graft.operators.Dedup.minhashDupPairs(base0,
      threshold = 0.7, ngram = 3, k = 64, bands = 32)
    val touched = ndPairs.select(col("doc_a").as("doc_id"))
      .unionByName(ndPairs.select(col("doc_b").as("doc_id"))).distinct()
    val fps = base0.select(col("doc_id"),
      graft.operators.TextAnalysis.fingerprint(col("text")).as("fp"))
    val dupFpIds = fps
      .join(fps.groupBy("fp").count().filter(col("count") > 1), Seq("fp"))
      .select("doc_id")
    val docs = Buffers.once(base0.join(touched, Seq("doc_id"), "left_anti")
      .join(dupFpIds, Seq("doc_id"), "left_anti"))

    val twins = docs.filter(col("doc_id") % 29 === 0)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val v1crawl = Buffers.once(docs.unionByName(twins))
    val big = 100000000L
    val v1chunks = Pipeline.corpusBuildWithState(v1crawl, p1,
      mixBudgetTokens = big)

    // v2 removes exactly the originals the twins duplicate
    val v2crawl = Buffers.once(v1crawl
      .filter(!(col("doc_id") % 29 === 0 && col("doc_id") < 500000L)))
    val d2 = Pipeline.corpusDelta(v2crawl, v1crawl, p1, commit = true)
    // the edge in action: the delta only tombstones — the twins diff
    // as "unchanged" and are not re-admitted
    d2.filter(col("op") === "add").count() shouldBe 0L
    val folded = Pipeline.applyCorpusDelta(v1chunks, d2)

    val rebuilt = Pipeline.corpusBuildWithState(v2crawl, p2,
      mixBudgetTokens = big)
    val foldedDocs = folded.select("doc_id").distinct()
    val rebuiltDocs = rebuilt.select("doc_id").distinct()

    // direction 1: the folded corpus never holds a doc the rebuild drops
    foldedDocs.except(rebuiltDocs).count() shouldBe 0L
    // direction 2: the reconciliation diff is EXACTLY the suppressed
    // twins — twins whose original passed curation (was in the corpus)
    val expected = Curation.curate(v1crawl).select("doc_id")
      .filter(col("doc_id") % 29 === 0 && col("doc_id") < 500000L)
      .select((col("doc_id") + 500000L).as("doc_id"))
    rowSet(rebuiltDocs.except(foldedDocs)) shouldBe rowSet(expected)
    expected.count() should be > 0L

    // reconcileDelta closes the edge WITHOUT a rebuild: it re-admits
    // exactly the suppressed twins, and folding its changeset reaches
    // the rebuild's doc set
    val recon = Pipeline.reconcileDelta(v2crawl, v2crawl, p1,
      commit = true)
    recon.filter(col("op") =!= "add").count() shouldBe 0L
    rowSet(recon.select("doc_id").distinct()) shouldBe rowSet(expected)
    val reconciled = Pipeline.applyCorpusDelta(folded, recon)
    rowSet(reconciled.select("doc_id").distinct()) shouldBe
      rowSet(rebuiltDocs)
    // re-admitted bins append above the standing max_bin
    recon.agg(min("bin_id")).head().getLong(0) should be >
      folded.agg(max("bin_id")).head().getLong(0)
    // committed re-admission is idempotent: the ADMITTED twins are
    // standing now, so the only twins left in the fp-tier audit are
    // those of curation-REJECTED originals (inadmissible content the
    // admission chain re-drops — exactly twins ∖ expected), and a
    // second pass emits an empty changeset
    rowSet(Pipeline.reconcileCandidates(v2crawl, p1)
      .filter(col("doc_id") >= 500000L)) shouldBe
      rowSet(twins.select("doc_id").except(expected))
    Pipeline.reconcileDelta(v2crawl, v2crawl, p1).count() shouldBe 0L

    // --- retrainState closes the LAST rebuild reason: decisions
    // re-derived on the reconciled standing corpus as generation 2
    // reproduce the fresh rebuild's chunks bit for bit (same docs —
    // pinned above — same budget, so same thresholds, same merges,
    // same ids, same bins)
    val retrained = Pipeline.retrainState(v2crawl, p1)
    rowSet(retrained) shouldBe rowSet(rebuilt)
    graft.sources.IndexSpec.readRequired(spark, p1)
      .getAs[Int]("generation") shouldBe 2
    // generation MIGRATION, not overwrite: the v1 trained tables are
    // untouched, so shards exported under v1 token ids stay decodable
    spark.catalog.tableExists(s"${p1}_merges") shouldBe true
    spark.catalog.tableExists(s"${p1}_vocab") shouldBe true
    spark.catalog.tableExists(s"${p1}_merges_g2") shouldBe true
    spark.catalog.tableExists(s"${p1}_vocab_g2") shouldBe true
    // deltas CHAIN against the retrained generation with no caller
    // change: a third crawl deltas identically against the
    // maintained+retrained state and against the fresh v2 build
    val v3crawl = Buffers.once(v2crawl.filter(col("doc_id") % 31 =!= 0)
      .withColumn("text", when(col("doc_id") % 37 === 0,
        concat(col("text"), lit(" edited v3"))).otherwise(col("text"))))
    rowSet(Pipeline.corpusDelta(v3crawl, v2crawl, p1)) shouldBe
      rowSet(Pipeline.corpusDelta(v3crawl, v2crawl, p2))
  }

  test("retrainPressure: zero drift on a fresh state, committed deltas move it, retrain resets it") {
    val p = s"pipe_drift_${System.nanoTime()}"
    val docs = tables.documents
    Pipeline.corpusBuildWithState(docs, p).count() should be > 0L
    val audit0 = Pipeline.retrainPressure(docs, p).cache()
    // decisions were trained on exactly this corpus: a fresh
    // re-derivation of the mix thresholds matches the frozen ones
    audit0.filter(col("frozen_thresh") =!= col("fresh_thresh"))
      .count() shouldBe 0L
    // the audit covers the whole standing corpus, and fertility is
    // sane (BPE emits at least one token per word)
    audit0.agg(sum("n_docs")).head().getLong(0) shouldBe
      spark.table(s"${p}_standing").count()
    audit0.filter(col("n_tokens") < col("n_words")).count() shouldBe 0L
    audit0.filter(col("oov_tokens") > col("n_tokens")).count() shouldBe 0L

    // a committed delta drifts the standing corpus away from the
    // frozen decisions — the audit must move
    val v2 = mutateV2(docs)
    Pipeline.corpusDelta(v2, docs, p, commit = true).count()
    val audit1 = Pipeline.retrainPressure(v2, p)
    audit1.filter(col("frozen_thresh") =!= col("fresh_thresh"))
      .count() should be > 0L

    // retrain re-derives the decisions on the drifted corpus: the
    // pressure resets to zero under the new generation
    Pipeline.retrainState(v2, p).count() should be > 0L
    Pipeline.retrainPressure(v2, p)
      .filter(col("frozen_thresh") =!= col("fresh_thresh"))
      .count() shouldBe 0L
    audit0.unpersist()
  }

  test("retrainState refuses a text relation that does not cover the standing corpus") {
    val p = s"pipe_cover_${System.nanoTime()}"
    Pipeline.corpusBuildWithState(tables.documents, p).count() should
      be > 0L
    val ex = intercept[IllegalArgumentException] {
      Pipeline.retrainState(
        tables.documents.filter(col("doc_id") % 2 === 0), p)
    }
    ex.getMessage should include("standing docs")
  }

  test("orphaned band-index entries are harmless (the commit-ordering contract)") {
    // commitDelta appends to the band index BEFORE overwriting the
    // standing table, so the only crash artifact is an orphaned index
    // entry for a never-committed survivor. Pin that the orphan is
    // inert: probes standing-filter their hits, so a delta against an
    // index polluted with non-standing docs is bit-identical.
    val p = s"pipe_orphan_${System.nanoTime()}"
    val docs = tables.documents
    Pipeline.corpusBuildWithState(docs, p).count() should be > 0L
    val v2 = mutateV2(docs)
    val before = rowSet(Pipeline.corpusDelta(v2, docs, p))
    // pollute: append docs that are NOT standing (the crashed-commit
    // artifact — fresh ids, never in the corpus)
    graft.operators.Dedup.appendNearDupIndex(
      docs.limit(20).select((col("doc_id") + 900000L).as("doc_id"),
        col("text")),
      s"${p}_neardup", ngram = 3, k = 64, bands = 32)
    rowSet(Pipeline.corpusDelta(v2, docs, p)) shouldBe before
  }

  /** [[mutateV2]] generalized to arbitrary mutation moduli — the
    * managed-table test chains five distinct crawls with it.
    */
  private def mutateCrawl(base: org.apache.spark.sql.DataFrame,
      removeMod: Int, editMod: Int, addMod: Int, tag: String) =
    base.filter(col("doc_id") % removeMod =!= 0)
      .withColumn("text",
        when(col("doc_id") % editMod === 0,
          concat(col("text"), lit(s" edited $tag")))
          .otherwise(col("text")))
      .unionByName(base.filter(col("doc_id") % addMod === 0).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(s" fresh $tag")).as("text"),
        col("lang"), col("source"), col("n_chars")))

  test("managed corpus table: auto-compaction bounds the log; reads equal the sequential fold") {
    val p = s"pipe_mgd_${System.nanoTime()}"
    val docs = tables.documents
    val v1c = Pipeline.corpusBuildWithState(docs, p)
    Pipeline.corpusTableInit(v1c, p)

    // five committed crawls folded through the managed table at
    // compactEvery = 2 — two auto-compactions fire along the way
    var crawl: org.apache.spark.sql.DataFrame = docs
    var expected: org.apache.spark.sql.DataFrame = v1c
    val deltas = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    val mods = Seq((17, 13, 19), (23, 11, 29), (31, 37, 41),
      (43, 47, 53), (59, 61, 67))
    for (((r, e, a), i) <- mods.zipWithIndex) {
      val next = Buffers.once(mutateCrawl(crawl, r, e, a, s"r$i"))
      val d = Pipeline.corpusDelta(next, crawl, p, commit = true)
      Pipeline.corpusTableFold(d, p, compactEvery = 2)
      deltas += d
      expected = Buffers.once(Pipeline.applyCorpusDelta(expected, d))
      crawl = next
      // the auto-compaction POLICY holds: never compactEvery changesets
      // outstanding after a fold returns
      val cspec = graft.sources.IndexSpec.readRequired(spark,
        s"${p}_chunks")
      spark.table(s"${p}_changelog")
        .filter(col("epoch") === cspec.getAs[Long]("epoch"))
        .select("__seq").distinct().count() should be < 2L
    }

    // the one-pass multi-fold is EXACTLY the sequential fold (bins
    // included — no compaction inside applyCorpusDeltas)
    rowSet(Pipeline.applyCorpusDeltas(v1c, deltas.toSeq)) shouldBe
      rowSet(expected)

    // the managed read carries the same corpus CONTENT (doc set, chunk
    // geometry, token streams); bin/shard placement is re-packed by the
    // compactions, gated by the q172-shape invariants below
    val view = Pipeline.corpusTableRead(spark, p)
    rowSet(view.drop("bin_id", "shard")) shouldBe
      rowSet(expected.drop("bin_id", "shard"))

    // epoch advanced (at least two compactions at compactEvery=2 over
    // five folds), superseded bases dropped, base bins contiguous
    // from 0, spec max_bin consistent with the base
    val cspec = graft.sources.IndexSpec.readRequired(spark, s"${p}_chunks")
    val epoch = cspec.getAs[Long]("epoch")
    epoch should be >= 2L
    spark.catalog.tableExists(s"${p}_chunks_e0") shouldBe false
    val baseBins = spark.table(s"${p}_chunks_e$epoch")
      .select("bin_id").distinct().collect().map(_.getLong(0)).sorted
    baseBins.head shouldBe 0L
    baseBins shouldBe (0L until baseBins.length).toArray
    // the read plans as ONE base scan + ONE log pass at any N: no
    // chained anti-joins (bounded read cost, the point of the design)
    val pv = plan(view)
    "LeftAnti".r.findAllMatchIn(pv).size shouldBe 1
  }

  test("dropGeneration: oldest-first reclaim, export-guarded, idempotent, live window exact") {
    val spark = SparkSpec.spark
    val p = s"pipe_gen_${System.nanoTime()}"
    val docs = Buffers.once(tables.documents.filter(col("doc_id") < 300))
    Pipeline.corpusBuildWithState(docs, p, mixBudgetTokens = 100000000L)
    // two retrains: generations 1, 2, 3 all retained
    Pipeline.retrainState(docs, p).count()
    Pipeline.retrainState(docs, p).count()
    val spec0 = graft.sources.IndexSpec.readRequired(spark, p)
    spec0.getAs[Int]("generation") shouldBe 3
    spec0.getAs[Int]("min_generation") shouldBe 1

    // the live generation (and beyond) is refused; so is an
    // out-of-order drop (2 while 1 is still retained)
    an[IllegalArgumentException] should be thrownBy
      Pipeline.dropGeneration(spark, p, 3)
    an[IllegalArgumentException] should be thrownBy
      Pipeline.dropGeneration(spark, p, 2)

    // export guard: an encoded corpus pinned to gen-1 merges blocks
    // the drop — its token ids are decodable only against that table
    graft.operators.Bpe.buildEncodedTable(docs, s"${p}_merges",
      s"${p}_export1")
    val ex = the[IllegalArgumentException] thrownBy
      Pipeline.dropGeneration(spark, p, 1)
    ex.getMessage should include(s"${p}_export1")
    spark.catalog.tableExists(s"${p}_merges") shouldBe true

    // retire the export; the drop proceeds and takes EXACTLY gen 1.
    // Guard robustness (ADVICE r14, narrowed in review): a spec whose
    // RELATION vanished between the catalog listing and the read (here
    // a spec view over a just-dropped base) is a concurrently-retired
    // export — "no reference", tolerated...
    Seq(s"${p}_export1", s"${p}_export1__spec")
      .foreach(t => spark.sql(s"DROP TABLE $t"))
    spark.sql(
      s"CREATE TABLE ${p}_ghostbase AS SELECT 'x' AS merges_table")
    spark.sql(s"CREATE VIEW ${p}_ghost__spec AS " +
      s"SELECT merges_table FROM ${p}_ghostbase")
    spark.sql(s"DROP TABLE ${p}_ghostbase")
    // ...while any OTHER spec-read failure must ABORT the reclaim
    // loudly — never silently disable the export guard
    locally {
      import spark.implicits._
      Seq(1).toDF("x")
        .select(raise_error(lit("io boom mid-scan")).cast("string")
          .as("merges_table"))
        .createOrReplaceTempView(s"${p}_ghost2__spec")
    }
    an[Exception] should be thrownBy Pipeline.dropGeneration(spark, p, 1)
    // the abort fired in the guard, BEFORE any drop: window untouched
    graft.sources.IndexSpec.readRequired(spark, p)
      .getAs[Int]("min_generation") shouldBe 1
    spark.catalog.tableExists(s"${p}_merges") shouldBe true
    spark.catalog.dropTempView(s"${p}_ghost2__spec")
    // with only the vanished-relation ghost left, the drop proceeds
    Pipeline.dropGeneration(spark, p, 1)
    spark.sql(s"DROP VIEW ${p}_ghost__spec")
    Seq(s"${p}_mix", s"${p}_merges", s"${p}_vocab").foreach(t =>
      withClue(t) { spark.catalog.tableExists(t) shouldBe false })
    Seq(s"${p}_mix_g2", s"${p}_merges_g2", s"${p}_vocab_g2",
        s"${p}_mix_g3", s"${p}_merges_g3", s"${p}_vocab_g3").foreach(t =>
      withClue(t) { spark.catalog.tableExists(t) shouldBe true })
    val spec1 = graft.sources.IndexSpec.readRequired(spark, p)
    spec1.getAs[Int]("generation") shouldBe 3
    spec1.getAs[Int]("min_generation") shouldBe 2

    // reads of a dropped generation fail loudly, never silently decode
    an[Exception] should be thrownBy
      graft.operators.Bpe.loadMerges(spark, s"${p}_merges")
    // idempotent: re-dropping a reclaimed generation is a no-op
    Pipeline.dropGeneration(spark, p, 1)
    // crash window: tables dropped but the spec advance lost — the
    // re-run heals the record (DROP IF EXISTS no-ops, spec commits)
    Seq(s"${p}_mix_g2", s"${p}_merges_g2", s"${p}_vocab_g2")
      .foreach(t => spark.sql(s"DROP TABLE $t"))
    Pipeline.dropGeneration(spark, p, 2)
    graft.sources.IndexSpec.readRequired(spark, p)
      .getAs[Int]("min_generation") shouldBe 3
    spark.catalog.tableExists(s"${p}_merges_g2") shouldBe false
    // the live generation still serves: an unchanged crawl deltas empty
    Pipeline.corpusDelta(docs, docs, p).count() shouldBe 0L
  }

  test("vacuumIndexes: one policy call reclaims every index family to the live set") {
    val spark = SparkSpec.spark
    import graft.operators.{Dedup, Similarity}
    val p = s"pipe_vac_${System.nanoTime()}"
    val v1 = Buffers.once(tables.documents.filter(col("doc_id") < 400))
    Pipeline.corpusBuildWithState(v1, p, mixBudgetTokens = 100000000L)
    // the companion indexes a deployment maintains beside the state
    Dedup.buildFingerprintIndex(v1, s"${p}_fpidx")
    Dedup.buildSimhashIndex(v1, s"${p}_shidx")
    Dedup.buildWinnowIndex(v1, s"${p}_wnidx")
    val embs = tables.embeddings.filter(col("vec_id") < 400)
      .select("vec_id", "embedding", "label")
    Similarity.buildIvfIndex(embs, s"${p}_ivf", s"${p}_ivf_cents")
    // a committed delta tombstones a third of the corpus — the indexes
    // keep the departed docs' entries (append-only) until the policy runs
    val v2 = Buffers.once(v1.filter(col("doc_id") % 3 =!= 0))
    Pipeline.corpusDelta(v2, v1, p, commit = true).count()
    val standing = Buffers.once(spark.table(s"${p}_standing").select("doc_id"))

    Pipeline.vacuumIndexes(spark, p,
      fingerprintIndex = Some(s"${p}_fpidx"),
      simhashIndex = Some(s"${p}_shidx"),
      winnowIndex = Some(s"${p}_wnidx"),
      semanticIndex = Some(s"${p}_ivf"))

    // every family equals a fresh build over the LIVE corpus
    val liveDocs = Buffers.once(v2.join(standing, Seq("doc_id"), "left_semi"))
    Dedup.buildFingerprintIndex(liveDocs, s"${p}_fpidx_ref")
    rowSet(spark.table(s"${p}_fpidx")) shouldBe
      rowSet(spark.table(s"${p}_fpidx_ref"))
    Dedup.buildSimhashIndex(liveDocs, s"${p}_shidx_ref")
    rowSet(spark.table(s"${p}_shidx")) shouldBe
      rowSet(spark.table(s"${p}_shidx_ref"))
    Dedup.buildWinnowIndex(liveDocs, s"${p}_wnidx_ref")
    rowSet(spark.table(s"${p}_wnidx")) shouldBe
      rowSet(spark.table(s"${p}_wnidx_ref"))
    // band index: the standing docs' band rows exactly (the build's
    // LSH geometry — ngram 3, k 64, bands 32)
    rowSet(spark.table(s"${p}_neardup")) shouldBe
      rowSet(Dedup.bandBucketTable(liveDocs, ngram = 3, k = 64,
        bands = 32))
    // semantic: re-append of the kept vectors under the FROZEN quantizer
    // (doc_id-as-vec_id — the pipeline's embedding-store convention)
    Similarity.ensureIvfIndex(spark, s"${p}_ivf_ref")
    Similarity.appendIvfVectors(spark,
      embs.join(standing.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi"),
      s"${p}_ivf_ref", s"${p}_ivf_cents")
    rowSet(spark.table(s"${p}_ivf")) shouldBe
      rowSet(spark.table(s"${p}_ivf_ref"))
    // re-entrant: a second policy run changes nothing
    val again = rowSet(spark.table(s"${p}_fpidx"))
    Pipeline.vacuumIndexes(spark, p,
      fingerprintIndex = Some(s"${p}_fpidx"))
    rowSet(spark.table(s"${p}_fpidx")) shouldBe again
  }

  test("corpusTableFold with index names: the compaction trigger runs the full vacuum policy") {
    val spark = SparkSpec.spark
    import graft.operators.{Dedup, Similarity}
    val p = s"pipe_fvac_${System.nanoTime()}"
    val v1 = Buffers.once(tables.documents.filter(col("doc_id") < 400))
    val v1c = Pipeline.corpusBuildWithState(v1, p,
      mixBudgetTokens = 100000000L)
    Pipeline.corpusTableInit(v1c, p)
    Dedup.buildFingerprintIndex(v1, s"${p}_fpidx")
    Dedup.buildSimhashIndex(v1, s"${p}_shidx")
    Dedup.buildWinnowIndex(v1, s"${p}_wnidx")
    val embs = tables.embeddings.filter(col("vec_id") < 400)
      .select("vec_id", "embedding", "label")
    Similarity.buildIvfIndex(embs, s"${p}_ivf", s"${p}_ivf_cents")
    val fp0 = spark.table(s"${p}_fpidx").count()

    def fold(d: org.apache.spark.sql.DataFrame): Unit =
      Pipeline.corpusTableFold(d, p, compactEvery = 2,
        fingerprintIndex = Some(s"${p}_fpidx"),
        simhashIndex = Some(s"${p}_shidx"),
        winnowIndex = Some(s"${p}_wnidx"),
        semanticIndex = Some(s"${p}_ivf"))

    // two SHRINK-ONLY committed crawls at compactEvery = 2 (companion
    // indexes are append-at-ingest artifacts — a shrinking corpus is
    // exactly the departed-doc garbage the vacuum policy reclaims)
    val v2 = Buffers.once(v1.filter(col("doc_id") % 3 =!= 0))
    val d1 = Pipeline.corpusDelta(v2, v1, p, commit = true)
    fold(d1)
    // first fold does not compact — the policy must NOT have fired yet
    spark.table(s"${p}_fpidx").count() shouldBe fp0
    val v3 = Buffers.once(v2.filter(col("doc_id") % 5 =!= 0))
    val d2 = Pipeline.corpusDelta(v3, v2, p, commit = true)
    fold(d2) // second fold: compaction + the full vacuum policy

    // every configured family now equals a fresh build over the LIVE set
    val standing = Buffers.once(spark.table(s"${p}_standing").select("doc_id"))
    val liveDocs = Buffers.once(v3.join(standing, Seq("doc_id"), "left_semi"))
    Dedup.buildFingerprintIndex(liveDocs, s"${p}_fpidx_ref")
    rowSet(spark.table(s"${p}_fpidx")) shouldBe
      rowSet(spark.table(s"${p}_fpidx_ref"))
    Dedup.buildSimhashIndex(liveDocs, s"${p}_shidx_ref")
    rowSet(spark.table(s"${p}_shidx")) shouldBe
      rowSet(spark.table(s"${p}_shidx_ref"))
    Dedup.buildWinnowIndex(liveDocs, s"${p}_wnidx_ref")
    rowSet(spark.table(s"${p}_wnidx")) shouldBe
      rowSet(spark.table(s"${p}_wnidx_ref"))
    rowSet(spark.table(s"${p}_neardup")) shouldBe
      rowSet(Dedup.bandBucketTable(liveDocs, ngram = 3, k = 64,
        bands = 32))
    Similarity.ensureIvfIndex(spark, s"${p}_ivf_ref")
    Similarity.appendIvfVectors(spark,
      embs.join(standing.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi"),
      s"${p}_ivf_ref", s"${p}_ivf_cents")
    rowSet(spark.table(s"${p}_ivf")) shouldBe
      rowSet(spark.table(s"${p}_ivf_ref"))

    // and the managed read is still EXACTLY the sequential fold
    val expected = Pipeline.applyCorpusDelta(
      Pipeline.applyCorpusDelta(v1c, d1), d2)
    rowSet(Pipeline.corpusTableRead(spark, p).drop("bin_id", "shard")) shouldBe
      rowSet(expected.drop("bin_id", "shard"))
  }

  test("corpus-sized intermediates are released on the failure path") {
    // negative doc_ids trip the ckey packing-bound raise_error when the
    // chunk relation first materializes (packSized's eager partition
    // totals) — mid-build, with all three stage persists live, so this
    // exercises every finally in the release chain.
    val before = pinnedIds
    val negDocs = tables.documents
      .withColumn("doc_id", -col("doc_id") - 1)
    intercept[Exception] {
      Pipeline.corpusBuild(negDocs).count()
    }
    val leaked = pinnedIds -- before
    assert(leaked.isEmpty,
      s"failed corpusBuild left persisted intermediates: rdd ids $leaked")
  }
}
