package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.functions._

import graft.core.Buffers

/** End-to-end corpus-build composition — the proof that the engine's
  * stages are a PIPELINE, not a query zoo. One call chains the
  * individually-oracle-gated operators in their production order:
  *
  *   1. curate          — quality/language screen + exact dedup
  *                        ([[Curation.curate]], q52's gate)
  *   2. canonicalize    — MinHash near-dup clusters resolved to one
  *                        canonical doc per cluster
  *                        ([[Dedup.minhashDupPairs]] →
  *                        [[Dedup.dupComponents]] →
  *                        [[Dedup.resolveCanonical]], q31/q74/q102)
  *   3. mix             — temperature-scaled (α = 0.5) sampling to a
  *                        global token budget
  *                        ([[Relational.temperatureMix]], q163)
  *   4. tokenize        — BPE merges trained ON THE MIXED CORPUS (the
  *                        data the model would see), then every
  *                        selected doc encoded ([[Bpe.trainMerges]] /
  *                        [[Bpe.encodeDocs]], q133/q140)
  *   5. chunk           — context-window splitting of over-long
  *                        encodings ([[Bpe.chunkEncoded]], q147)
  *   6. pack            — fixed-budget bin assignment by the
  *                        distributed two-pass prefix sum
  *                        ([[Relational.packSized]], q64/q144)
  *   7. shard           — content-addressed deterministic export
  *                        sharding over the packed bins
  *                        ([[Relational.shuffleShard]], q103)
  *
  * Output: one row per training chunk —
  * (doc_id, chunk_idx, n_tokens, ids_digest, bin_id, shard) — which
  * pins end-to-end: WHICH docs survived selection (rows), the exact
  * token stream (ids_digest, the q140 array-free digest convention),
  * the chunk geometry, the pack assignment, and the export shard.
  * Deterministic at every stage (content-addressed sampling, integer
  * micro-unit thresholds, total-order tie-breaks), so the q164 DuckDB
  * oracle replays the full chain and hash-matches.
  *
  * Scale notes (the 100-TB shape): the curated and selected corpora
  * are persisted (MEMORY_AND_DISK) because each feeds several
  * downstream scans (near-dup pipeline; BPE train + encode); every
  * stage keeps its own documented scale shape — no stage added a
  * global window, driver-side corpus collect, or all-pairs join that
  * its standalone form doesn't have. The driver-side state is bounded:
  * BPE vocab argmax rows (numMerges), mix thresholds (#groups), pack
  * partition totals (#partitions), shard count (total tokens /
  * packTokens / re-bin).
  *
  * Cache lifecycle: every persist here is a [[graft.core.Buffers.scoped]]
  * loan, released before the call returns, failed or completed — else
  * a build would pin three corpus-sized relations in executor storage
  * for the session's lifetime. The returned DataFrame is eagerly
  * materialized ([[graft.core.Buffers.once]] — it is chunk-row-sized,
  * the bounded OUTPUT of the build, not a corpus-sized intermediate) so
  * the caller's lazy plan does not depend on the released caches.
  *
  * == Incremental maintenance ==
  *
  * [[corpusBuildWithState]] additionally persists the BUILD STATE a
  * later crawl needs to update the corpus at DELTA cost instead of a
  * full rebuild — the operating mode at 100 TB, where a daily crawl
  * touches a fraction of a percent of the corpus and re-running the
  * seven-stage build over everything would dominate the pipeline. The
  * state family under prefix `p`:
  *
  *   - `p_snapshot`  (doc_id, fp)  — content fingerprint of the RAW
  *                   crawl, the diff base ([[Dedup.snapshotDiff]]'s
  *                   semantics without rescanning old text)
  *   - `p_standing`  (doc_id)      — the canonical curated doc set
  *                   currently IN the corpus universe
  *   - `p_neardup`                 — [[Dedup.buildNearDupIndex]] over
  *                   the standing docs (band-bucketed, own spec table)
  *   - `p_mix`       (grp, thresh) — the frozen temperature-mix
  *                   thresholds ([[Relational.temperatureThresholds]])
  *   - `p_merges`                  — the frozen BPE tokenizer
  *                   ([[Bpe.saveMerges]], own spec table)
  *   - `p_vocab`     (token, id)   — the frozen token-id space
  *                   ([[Bpe.tokenIds]] over the v1 selection)
  *   - `p__spec`                   — one row of build parameters +
  *                   `max_bin`, written LAST as the state's commit
  *                   marker: [[corpusDelta]] refuses half-built state
  *                   via [[graft.sources.IndexSpec.readRequired]]
  *
  * [[corpusDelta]] then turns a new crawl into (tombstones + new
  * chunks); [[applyCorpusDelta]] folds them into a chunk relation.
  * The operational loop closes with [[compactCorpus]] (squash N folded
  * changesets into a fresh bucketed table with a reset bin space) and
  * [[reconcileCandidates]]/[[reconcileDelta]] (audit + re-admission of
  * suppressed content whose standing counterpart was later removed —
  * the crawl-diff semantic edge — at delta cost). After those, the
  * only job left for a periodic full rebuild is re-TRAINING the frozen
  * mix thresholds and tokenizer against the drifted corpus.
  */
object Pipeline {

  // near-dup LSH geometry shared by the build's self-pass, the
  // persisted index, and the delta's probe — one definition so the
  // three can never drift (the index spec additionally guards the
  // persisted half at probe time)
  private val NdNgram = 3
  private val NdK = 64
  private val NdBands = 32

  private def snapshotTable(p: String) = s"${p}_snapshot"
  private def standingTable(p: String) = s"${p}_standing"
  private def neardupTable(p: String) = s"${p}_neardup"

  // The TRAINED state (mix thresholds, tokenizer merges, token-id
  // vocabulary) is GENERATION-VERSIONED: generation 1 is the build's
  // unsuffixed table, [[retrainState]] writes generation g under
  // `_g<g>`-suffixed names and flips the spec's `generation` column
  // LAST. Old generations are never overwritten — shards encoded under
  // v1 ids stay decodable via the v1 vocab table after a v2 retrain —
  // and which generation a delta encodes into is decided by the spec,
  // atomically with the max_bin it packs against. Content state
  // (snapshot/standing/neardup) is generation-independent: retraining
  // re-derives DECISIONS, not documents. Superseded generations are
  // reclaimed by [[dropGeneration]] (oldest-first, export-guarded);
  // the spec's min_generation records the retained window's lower edge.
  private def genSuffix(gen: Int) = if (gen <= 1) "" else s"_g$gen"

  /** The spec's live generation, defaulting to 1 for a state family
    * persisted before generations existed (its spec row has no
    * `generation` column; its trained tables are the unsuffixed
    * generation-1 names, which is exactly what 1 resolves to) — an
    * upgrade must not turn a working long-lived state into an obscure
    * schema error on the first delta.
    */
  private def specGeneration(spec: org.apache.spark.sql.Row): Int =
    if (spec.schema.fieldNames.contains("generation"))
      spec.getAs[Int]("generation")
    else 1

  /** The oldest RETAINED generation — the other edge of the live
    * window [[specGeneration]] closes: generations below this were
    * reclaimed by [[dropGeneration]] and their trained tables no
    * longer exist. Defaults to 1 for specs written before retention
    * existed (same upgrade posture as [[specGeneration]]).
    */
  private def specMinGeneration(spec: org.apache.spark.sql.Row): Int =
    if (spec.schema.fieldNames.contains("min_generation"))
      spec.getAs[Int]("min_generation")
    else 1
  private def mixTable(p: String, gen: Int = 1) =
    s"${p}_mix${genSuffix(gen)}"
  private def mergesTable(p: String, gen: Int = 1) =
    s"${p}_merges${genSuffix(gen)}"
  private def vocabTable(p: String, gen: Int = 1) =
    s"${p}_vocab${genSuffix(gen)}"

  /** The state family's spec row — build parameters + `max_bin` (the
    * bin-space high-water mark deltas append above) + `generation`
    * (which trained-state tables are live). ALWAYS written last by
    * every state transaction: it is the commit marker.
    */
  private def writeSpec(spark: SparkSession, p: String,
      mixBudgetTokens: Long, chunkTokens: Int, packTokens: Long,
      numMerges: Int, nShards: Int, neardupThreshold: Double,
      maxBin: Long, generation: Int, minGeneration: Int = 1): Unit = {
    import spark.implicits._
    graft.sources.IndexSpec.write(
      Seq((mixBudgetTokens, chunkTokens, packTokens, numMerges, nShards,
        neardupThreshold, maxBin, generation, minGeneration))
        .toDF("mix_budget_tokens", "chunk_tokens", "pack_tokens",
          "num_merges", "n_shards", "neardup_threshold", "max_bin",
          "generation", "min_generation"),
      p)
  }

  /** Immutable bundle of the build knobs shared by [[corpusBuild]] and
    * [[corpusBuildWithState]]; `statePrefix = Some(p)` selects the
    * state-persisting variant (state is written table-by-table as the
    * stages that derive it run).
    */
  private final case class BuildParams(
      mixBudgetTokens: Long,
      chunkTokens: Int,
      packTokens: Long,
      numMerges: Int,
      nShards: Int,
      neardupThreshold: Double,
      statePrefix: Option[String])

  /** Build a training corpus from raw documents; see the object doc.
    * `documents` must carry (doc_id, text, lang, source, n_chars) —
    * the documents-table contract shared by every curation operator.
    */
  def corpusBuild(
      documents: DataFrame,
      mixBudgetTokens: Long = 20000L,
      chunkTokens: Int = 32,
      packTokens: Long = 512L,
      numMerges: Int = 8,
      nShards: Int = 8,
      neardupThreshold: Double = 0.7): DataFrame =
    corpusBuildImpl(documents, BuildParams(mixBudgetTokens, chunkTokens,
      packTokens, numMerges, nShards, neardupThreshold, None))

  /** [[corpusBuild]] that ALSO persists the incremental-maintenance
    * state family under `statePrefix` (see the object doc) so
    * [[corpusDelta]] can later fold a new crawl in at delta cost. The
    * `p__spec` commit marker is written last: a crash mid-build leaves
    * state that [[corpusDelta]] loudly refuses, never half-trusts.
    * Re-running overwrites every state table, so the build is
    * re-entrant.
    */
  def corpusBuildWithState(
      documents: DataFrame,
      statePrefix: String,
      mixBudgetTokens: Long = 20000L,
      chunkTokens: Int = 32,
      packTokens: Long = 512L,
      numMerges: Int = 8,
      nShards: Int = 8,
      neardupThreshold: Double = 0.7): DataFrame = {
    require(statePrefix.nonEmpty, "corpusBuildWithState: empty statePrefix")
    corpusBuildImpl(documents, BuildParams(mixBudgetTokens, chunkTokens,
      packTokens, numMerges, nShards, neardupThreshold, Some(statePrefix)))
  }

  private def corpusBuildImpl(documents: DataFrame,
      params: BuildParams): DataFrame = {
    params.statePrefix.foreach { p =>
      // invalidate FIRST on a re-build: the spec is the commit marker,
      // and a crash after the state tables start overwriting must not
      // leave a previous generation's marker vouching for mixed state
      // (corpusDelta would silently diff against the new snapshot but
      // encode with the old tokenizer) — dropping it re-establishes
      // the marker-written-last invariant for re-runs
      documents.sparkSession.sql(
        s"DROP TABLE IF EXISTS ${graft.sources.IndexSpec.specTable(p)}")
      // snapshot of the RAW crawl — the delta's diff base covers every
      // crawl doc (also curation-rejected ones: a future crawl doc
      // equal to a rejected one is "unchanged" and skips reprocessing
      // — the same gates would reject it again). Bucketed by doc_id,
      // the delta's join key: the diff's full-outer join and the
      // tombstone anti-joins are the only corpus-sized joins on the
      // delta path, and bucketing makes the snapshot side
      // exchange-free on every one of them (the q48/q130 layout
      // discipline) — only the crawl side shuffles, once.
      graft.sources.Sinks.saveTablePartitioned(
        documents.select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp")),
        snapshotTable(p),
        bucketBy = Some((32, Seq("doc_id"))), sortBy = Seq("doc_id"))
    }

    // 1. curate: keep-list of doc_ids, then re-attach text (curate's
    //    q52-stable output schema drops the text column)
    val curated = Curation.curate(documents)
    val keptDocs = documents.join(curated.select("doc_id"), Seq("doc_id"))
    val out = Buffers.scoped(keptDocs) { curatedDocs =>
      // 2. canonical near-dup resolution OVER THE CURATED CORPUS (the
      //    exact-dup tier already ran inside curate; this is the fuzzy
      //    tier). keep=1 rows ARE the near-dup-deduplicated corpus.
      //    hashShingles: the build consumes pair MEMBERSHIP only (the
      //    jaccard column dies at the keep-set projection), so the
      //    verify joins carry 8-byte shingle hashes instead of string
      //    arrays — the r15 100× stress measured the string payload as
      //    the build's dominant spill (252 GB mem-spill; the hashed
      //    path halves spill and cuts shuffle 32% on identical pairs).
      //    PipelineSpec pins the build's output byte-identical to the
      //    string-verify chain.
      val canon = Dedup.resolveCanonical(curatedDocs,
          Dedup.dupComponents(Dedup.minhashDupPairs(curatedDocs,
            threshold = params.neardupThreshold, ngram = NdNgram,
            k = NdK, bands = NdBands, hashShingles = true)))
        .filter(col("keep") === 1L)
        .select("doc_id")
      val canonDocs = curatedDocs.join(canon, Seq("doc_id"))

      // state: the standing corpus universe (canonical curated docs) +
      // the near-dup index a delta probes against it. Both writes are
      // actions over the still-buffered curatedDocs.
      params.statePrefix.foreach { p =>
        // bucketed by doc_id like the snapshot (same rationale: every
        // standing-set join in the delta keys on doc_id)
        graft.sources.Sinks.saveTablePartitioned(
          canonDocs.select("doc_id"), standingTable(p),
          bucketBy = Some((32, Seq("doc_id"))), sortBy = Seq("doc_id"))
        Dedup.buildNearDupIndex(canonDocs, neardupTable(p),
          ngram = NdNgram, k = NdK, bands = NdBands)
      }

      // 3. temperature mix to the token budget (α = 0.5 √-share
      //    flattening; content-addressed membership, so the selection
      //    replays bit-for-bit in the oracle — and, frozen, replays
      //    bit-for-bit against a LATER crawl's docs)
      val thresholds = Relational.temperatureThresholds(canonDocs,
        col("lang"), size(TextAnalysis.tokens(col("text"))),
        params.mixBudgetTokens)
      params.statePrefix.foreach { p =>
        graft.sources.Sinks.saveTable(thresholds, mixTable(p))
      }
      Buffers.scoped(Relational.mixtureApplyThresholds(canonDocs,
          col("doc_id"), col("lang"), thresholds)) { selDocs =>
        // 4. tokenizer trained on the SELECTED corpus (what a real
        //    pipeline trains on — the tokenizer depends on every
        //    upstream stage), then encode. trainMerges is eager
        //    driver-side argmax over vocabulary aggregates (bounded),
        //    the q133 contract.
        val merges = Bpe.trainMerges(selDocs, params.numMerges)
        params.statePrefix.foreach { p =>
          Bpe.saveMerges(selDocs.sparkSession, merges, mergesTable(p),
            params.numMerges)
          // the token-id TABLE freezes with the merges: a delta crawl
          // must encode into the v1 id space (re-ranking ids over delta
          // docs would silently renumber every token — see
          // encodeDocsFrozen)
          graft.sources.Sinks.saveTable(
            Bpe.tokenIds(selDocs, merges), vocabTable(p))
        }
        val enc = Bpe.encodeDocs(selDocs, merges)

        // 5. chunk to the context window. Buffered because THREE jobs
        //    consume it (packSized's two-pass prefix sum collects
        //    partition totals eagerly, shuffleShard's zipWithIndex runs
        //    its own offsets job, and the final join materializes the
        //    rows) — each would otherwise replay the whole BPE encode
        //    join chain (packSized's scaladoc: persist the sized
        //    projection when the upstream is expensive).
        val chunked = withChunkKey(Bpe.chunkEncoded(enc, params.chunkTokens))
        Buffers.scoped(chunked) { chunks =>
          packShardEmit(chunks, params.packTokens, params.nShards,
            binBase = 0L)
        }
      }
    }

    // spec LAST — the state family's commit marker (max_bin is read
    // off the materialized output, which is chunk-row-sized)
    params.statePrefix.foreach { p =>
      val spark = documents.sparkSession
      val maxBin = Option(out.agg(max("bin_id")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(-1L)
      writeSpec(spark, p, params.mixBudgetTokens, params.chunkTokens,
        params.packTokens, params.numMerges, params.nShards,
        params.neardupThreshold, maxBin, generation = 1)
    }
    out
  }

  /** The (doc_id, chunk_idx) → ckey synthetic packing key shared by the
    * full build and the delta: a single long gives the packer its total
    * order. The bound is asserted per row — a >= 100k-chunk document
    * (3.2M tokens at the default window) or a negative doc_id would
    * silently collide keys, corrupting pack order and fanning out the
    * join back.
    */
  private def withChunkKey(chunks: DataFrame): DataFrame =
    chunks.withColumn("ckey",
      when(col("chunk_idx") < 100000 && col("doc_id") >= 0,
        col("doc_id") * 100000L + col("chunk_idx"))
        .otherwise(raise_error(concat(
          lit("corpusBuild: chunk key packing bound exceeded "),
          lit("(doc_id="), col("doc_id").cast("string"),
          lit(", chunk_idx="), col("chunk_idx").cast("string"),
          lit(") — need doc_id >= 0 and < 100000 chunks/doc")))))

  /** Stages 6–7 (+ final projection) over a persisted chunk relation:
    * pack into fixed token-budget bins offset by `binBase` (0 for a
    * full build; the standing corpus's max_bin + 1 for a delta, so
    * delta bins append after the existing ones), shard the new bins
    * content-addressed, and emit the chunk rows. The result is
    * materialized eagerly — returned lazily it would depend on the
    * cached intermediates the callers' finally blocks release.
    */
  /** Bin + shard assignment over a ckey-keyed chunk relation — the
    * pack/shard halves of stages 6–7, shared by the build/delta emit
    * (which also digests the token ids) and [[compactCorpus]] (whose
    * input already carries digests). Returns the input columns plus
    * (bin_id, shard).
    */
  private def packShardAssign(chunks: DataFrame, packTokens: Long,
      nShards: Int, binBase: Long): DataFrame = {
    // 6. pack chunks into fixed token-budget bins (two-pass prefix sum)
    val bins = Relational.packSized(
        chunks.select(col("ckey").as("doc_id"), col("n_tokens")),
        packTokens)
      .select(col("doc_id").as("ckey"),
        (col("bin_id") + lit(binBase)).as("bin_id"))

    // 7. shard the BINS (the export unit) content-addressed; the bin
    //    relation is total-tokens/packTokens rows — broadcast-sized
    val shards = Relational.shuffleShard(
        bins.select("bin_id").distinct(), "bin_id", nShards)
      .select("bin_id", "shard")

    chunks
      .join(bins, Seq("ckey"))
      .join(F.broadcast(shards), Seq("bin_id"))
  }

  private def packShardEmit(chunks: DataFrame, packTokens: Long,
      nShards: Int, binBase: Long,
      mat: (DataFrame, String) => DataFrame =
        Buffers.materializer(None)): DataFrame = {
    mat(packShardAssign(chunks, packTokens, nShards, binBase)
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("n_tokens"),
        md5(array_join(transform(col("ids"), _.cast("string")), " "))
          .as("ids_digest"),
        col("bin_id"),
        col("shard")),
      "pack_shard_emit")
  }

  /** Fold a NEW CRAWL into a corpus built by [[corpusBuildWithState]],
    * at cost proportional to the CHANGE, not the corpus. Returns a
    * changeset — one relation of
    * (op, doc_id, chunk_idx, n_tokens, ids_digest, bin_id, shard):
    *
    *   - `op = 'del'` (tombstones): doc_ids REMOVED from or CHANGED in
    *     the new crawl — a reader drops their chunks (chunk fields are
    *     the -1/0/'' sentinels). Emitted snapshot-level, without
    *     consulting the chunk store: a tombstone for a doc that never
    *     had chunks is a harmless no-op under [[applyCorpusDelta]].
    *   - `op = 'add'`: training chunks (the [[corpusBuild]] schema) for
    *     the delta docs that survive the full gate chain, packed into
    *     bins STRICTLY ABOVE the standing corpus's max_bin (append-only
    *     placement — existing bins and shards are immutable).
    *
    * The delta replays the build's stages over the CHANGED SLICE under
    * frozen v1 decisions:
    *
    *   1. diff      — new crawl fingerprints vs the `p_snapshot` table
    *                  ([[Dedup.snapshotDiff]] semantics); unchanged
    *                  docs exit here, which is what makes everything
    *                  downstream delta-sized
    *   2. curate    — [[Curation.curate]] over added ∪ changed only
    *   3. screen    — exact: fp ∈ snapshot of non-tombstoned docs;
    *                  near-dup: [[Dedup.probeNearDupIndex]] against the
    *                  persisted band index, hits filtered to corpus
    *                  docs still standing (a near-dup of a doc being
    *                  removed THIS round does not screen)
    *   4. self-dedup— canonical resolution WITHIN the screened delta
    *                  (standing-screen first, then self: a delta doc
    *                  whose only dup was itself screened away survives)
    *   5. mix       — the FROZEN `p_mix` thresholds; content-addressed
    *                  membership needs no corpus rescan. A delta group
    *                  with no frozen threshold fails loudly (a frozen
    *                  mix cannot place an unseen group).
    *   6. tokenize  — the FROZEN `p_merges` tokenizer; no retrain
    *   7. chunk/pack/shard — bins offset past `max_bin`
    *
    * `corpusDocs` is the relation holding the STANDING corpus's text
    * (the previous crawl): it is touched only by the probe's verify
    * semi-join — candidate-sized, never a full-corpus pass.
    *
    * Known semantic edge (inherent to crawl-diff incrementality, shared
    * by every delta-maintenance design that doesn't track dup groups):
    * when a standing doc is removed, crawl twins that were SUPPRESSED
    * as its duplicates in earlier rounds are not re-evaluated — they
    * diff as "unchanged". A periodic full rebuild reconciles; the
    * DuckDB oracle replays the same rule, so the behavior is pinned,
    * not accidental.
    *
    * `commit = true` additionally advances the state family to the new
    * crawl (snapshot ← new fingerprints; standing ← survivors folded
    * in, tombstones out; band index ← delta survivors appended;
    * `p__spec.max_bin` ← new max bin, written LAST), enabling a THIRD
    * crawl to delta against this one. The updates run after the
    * changeset is fully materialized and all inputs they read are
    * checkpointed, so no write ever overwrites a table its own plan
    * still reads. A crash PART-WAY through the commit leaves mixed-
    * generation state — re-run the full [[corpusBuildWithState]] to
    * reconcile (the streaming tiers' batch_id replay machinery is the
    * tool for exactly-once ingestion; a corpus delta is a maintenance
    * transaction, run it like one).
    *
    * `checkpointDir` selects the materializer for the delta's stage
    * waists ([[graft.core.Buffers.materializer]]'s contract): `None`
    * (default) uses
    * `localCheckpoint` — fastest, but the buffers live in executor
    * block-manager memory and die with an executor, failing the
    * transaction; `Some(dir)` writes each waist as parquet under `dir`
    * so a cluster run survives executor loss mid-delta. Waists are
    * DELTA-sized either way, so the reliable form's extra I/O is
    * proportional to the change, not the corpus. GC of `dir` is the
    * CALLER's: each invocation writes its waists under fresh
    * nonce-suffixed names (a later delta must never overwrite parquet a
    * still-held earlier changeset reads), so the directory grows by one
    * delta-sized waist set per call until the caller prunes it — safe
    * to delete wholesale once every changeset returned against it has
    * been consumed (folded, committed, or discarded), and not before:
    * the returned changeset READS those files.
    */
  def corpusDelta(newCrawl: DataFrame, corpusDocs: DataFrame,
      statePrefix: String, commit: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = newCrawl.sparkSession
    val spec = graft.sources.IndexSpec.readRequired(spark, statePrefix)
    val chunkTokens = spec.getAs[Int]("chunk_tokens")
    val packTokens = spec.getAs[Long]("pack_tokens")
    val nShards = spec.getAs[Int]("n_shards")
    val threshold = spec.getAs[Double]("neardup_threshold")
    val binBase = spec.getAs[Long]("max_bin") + 1L
    val generation = specGeneration(spec)

    val snap = spark.table(snapshotTable(statePrefix))
    val newFpsPlan = newCrawl.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("new_fp"))
    // A committed delta consumes the full-crawl fingerprint projection
    // TWICE — the diff here, then the snapshot advance in
    // [[commitDelta]] — and the projection's input is the crawl TEXT,
    // the dominant corpus-sized pass of the whole delta. Persisting the
    // fp rows (doc_id + 16-byte digest, tiny next to the text) makes
    // the crawl scan run ONCE: the diff's materialization fills the
    // cache as a side effect and the commit reads it back. Uncommitted
    // deltas read the projection once and skip the cache.
    def withFps(use: DataFrame => DataFrame): DataFrame =
      if (commit) Buffers.scoped(newFpsPlan)(use) else use(newFpsPlan)
    // per-invocation nonce in the waist names: a LATER delta against
    // the same checkpointDir must not overwrite parquet a still-held
    // earlier changeset reads (the materializer's distinct-names rule)
    val nonce = java.lang.Long.toHexString(System.nanoTime())
    val matBase = Buffers.materializer(checkpointDir)
    val mat = (df: DataFrame, name: String) =>
      matBase(df, s"${name}_$nonce")
    withFps { newFps =>
      // the diff joins fingerprint relations (16-byte rows), never
      // text; only the changed slice flows on
      Buffers.scoped(snap.select(col("doc_id"), col("fp").as("old_fp"))
          .join(newFps, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            when(col("old_fp").isNull, "added")
              .when(col("new_fp").isNull, "removed")
              .when(col("old_fp") =!= col("new_fp"), "changed")
              .otherwise("unchanged").as("status"))
          .filter(col("status") =!= "unchanged")) { diff =>
        corpusDeltaOnDiff(newCrawl, newFps, corpusDocs, statePrefix,
          commit, diff, chunkTokens, packTokens, nShards, threshold,
          binBase, generation, mat)
      }
    }
  }

  private def corpusDeltaOnDiff(newCrawl: DataFrame, newFps: DataFrame,
      corpusDocs: DataFrame, statePrefix: String, commit: Boolean,
      diff: DataFrame, chunkTokens: Int, packTokens: Long, nShards: Int,
      threshold: Double, binBase: Long, generation: Int,
      mat: (DataFrame, String) => DataFrame): DataFrame = {
    val spark = newCrawl.sparkSession
    val snap = spark.table(snapshotTable(statePrefix))
    val tombstones = diff
      .filter(col("status").isin("removed", "changed")).select("doc_id")
    val deltaIds = diff
      .filter(col("status").isin("added", "changed")).select("doc_id")

    // Lineage discipline for everything below: each stage's output is
    // DELTA-sized and the next stage references it SEVERAL times (the
    // probe reads its batch thrice, the LSH self-join more) — left
    // lazy, those references re-execute the whole upstream chain
    // multiplicatively (measured: the 2%-delta run cost MORE than the
    // full 20× build before these cuts, ~86 s of repeated curation/
    // probe subtrees and driver re-planning — the plan-explosion class
    // trainMerges' round materializer exists for). Each waist is
    // eagerly materialized through `mat` (localCheckpoint by default,
    // reliable parquet under `checkpointDir`): delta-sized data, one
    // execution per stage, leaf-sized plans downstream.

    // 2. curate the delta slice (text re-attached, curate's contract)
    val deltaDocs = newCrawl.join(deltaIds, Seq("doc_id"))
    val deltaCurDocs = mat(deltaDocs
      .join(Curation.curate(deltaDocs).select("doc_id"), Seq("doc_id")),
      "delta_curated")

    // 3a. exact screen: a delta doc whose content already exists in a
    //     NON-tombstoned snapshot doc is a re-upload, not new content.
    //     (Snapshot fps, not curated fps: any snapshot doc with equal
    //     text passes/fails the curation gates identically, so the fp
    //     sets coincide for docs that reach this screen.)
    val afterExact = mat(exactScreen(deltaCurDocs, snap, tombstones),
      "delta_after_exact")

    // 3b–7. the shared admission chain (near-dup screen vs standing,
    //        self-dedup, frozen mix/encode, pack/shard above binBase)
    val standingNow = spark.table(standingTable(statePrefix))
      .join(tombstones, Seq("doc_id"), "left_anti")
    val (survivors, adds) = admitScreened(afterExact, corpusDocs,
      statePrefix, standingNow, chunkTokens, packTokens, nShards,
      threshold, binBase, generation, mat)

    val out = mat(tombstones
      .select(lit("del").as("op"), col("doc_id"),
        lit(-1L).as("chunk_idx"), lit(0L).as("n_tokens"),
        lit("").as("ids_digest"), lit(-1L).as("bin_id"),
        lit(-1L).as("shard"))
      .unionByName(adds.select(lit("add").as("op"), col("doc_id"),
        col("chunk_idx"), col("n_tokens"), col("ids_digest"),
        col("bin_id"), col("shard"))),
      "delta_changeset")

    if (commit)
      // the CACHED full-crawl fingerprint rows the diff already
      // materialized (see corpusDelta's persist) — the snapshot
      // advance reads the cache, so a committed delta pays ONE
      // corpus-sized fp scan, not a second re-derivation
      commitDelta(spark, statePrefix,
        newFps.select(col("doc_id"), col("new_fp").as("fp")),
        survivors, standingNow, out, spec = (chunkTokens, packTokens,
          nShards, threshold, binBase), generation, mat)
    out
  }

  /** The delta's exact-dup screen: drop every delta doc whose content
    * fingerprint already exists in a snapshot doc that is NOT being
    * tombstoned this round. The corpus side NEVER shuffles — the
    * snapshot is consumed as one shuffle-free bucketed scan filtered
    * through a broadcast of the delta's (small) fp set, then the
    * bounded hit set flows back as a broadcast into a delta-side
    * anti-join. The only shuffle exchanges in the plan are the two
    * fp-distincts, both over DELTA-sized (or hit-set-sized) rows —
    * gated by PipelineSpec's plan test. If a delta's fp set ever
    * outgrew the broadcast budget (a crawl churning a double-digit
    * percentage of a 100-TB corpus is a rebuild, not a delta), the
    * fallback is a persisted fp-bucketed twin of the snapshot.
    */
  private[graft] def exactScreen(deltaCurDocs: DataFrame,
      snap: DataFrame, tombstones: DataFrame): DataFrame = {
    val fpCol = "__fp_delta"
    val withFp = deltaCurDocs
      .withColumn(fpCol, TextAnalysis.fingerprint(col("text")))
    val hitFps = snap
      .join(F.broadcast(withFp.select(col(fpCol).as("fp")).distinct()),
        Seq("fp"), "left_semi")
      .join(F.broadcast(tombstones), Seq("doc_id"), "left_anti")
      .select("fp").distinct()
    withFp
      .join(F.broadcast(hitFps.withColumnRenamed("fp", fpCol)),
        Seq(fpCol), "left_anti")
      .drop(fpCol)
  }

  /** Stages 3b–7 of the delta admission chain over an exact-screened
    * candidate slice: near-dup screen against `standingNow` via the
    * persisted band index (bucketed probe + candidate-slice verify,
    * the q130 cost shape), canonical resolution WITHIN the slice (a
    * candidate whose only dup was itself screened away survives),
    * frozen mix (loud refusal on an unseen group), frozen tokenizer,
    * chunk/pack/shard above `binBase`. Returns (survivors, adds):
    * survivors feed a commit's standing/index advance, adds are the
    * new chunk rows. Shared by [[corpusDelta]] (candidates = the
    * crawl's changed slice) and [[reconcileDelta]] (candidates =
    * suppressed content re-surfacing after removals).
    */
  private def admitScreened(afterExact: DataFrame, corpusDocs: DataFrame,
      statePrefix: String, standingNow: DataFrame, chunkTokens: Int,
      packTokens: Long, nShards: Int, threshold: Double, binBase: Long,
      generation: Int,
      mat: (DataFrame, String) => DataFrame): (DataFrame, DataFrame) = {
    val spark = afterExact.sparkSession
    // hashShingles on both the probe screen and the self-resolution:
    // the delta consumes pair MEMBERSHIP only (hit doc_ids / keep sets;
    // every jaccard column dies at a .select("doc_id")), so the verify
    // joins ship 8-byte shingle hashes — the same spill cut the build's
    // resolution takes (see corpusBuildImpl), applied to the path
    // every crawl pays. DedupSpec pins probe hashed ≡ exact.
    val ndHits = Dedup.probeNearDupIndex(afterExact, corpusDocs,
        neardupTable(statePrefix), threshold, NdNgram, NdK, NdBands,
        hashShingles = true)
      .join(standingNow.select(col("doc_id").as("corpus_id")),
        Seq("corpus_id"))
      .select(col("new_id").as("doc_id")).distinct()
    val screened = mat(afterExact.join(ndHits, Seq("doc_id"), "left_anti"),
      "delta_screened")

    // canonical resolution WITHIN the screened slice (the build's
    // stage-2 machinery over the candidate slice)
    val selfKeep = Dedup.resolveCanonical(screened,
        Dedup.dupComponents(Dedup.minhashDupPairs(screened,
          threshold = threshold, ngram = NdNgram, k = NdK,
          bands = NdBands, hashShingles = true)))
      .filter(col("keep") === 1L)
      .select("doc_id")
    val survivors = mat(screened.join(selfKeep, Seq("doc_id")),
      "delta_survivors")

    // frozen mix. Coverage check first — group-cardinality-bounded
    // collect, same bound as the threshold broadcast itself.
    val thresholds = spark.table(mixTable(statePrefix, generation))
    val missing = survivors
      .select(col("lang").cast("string").as("grp")).distinct()
      .join(thresholds.select("grp"), Seq("grp"), "left_anti")
      .collect().map(_.getString(0)).sorted
    require(missing.isEmpty,
      s"corpusDelta: group(s) ${missing.mkString(", ")} have no " +
        s"frozen mix threshold in ${mixTable(statePrefix, generation)} " +
        "— a frozen mix cannot place an unseen group; re-run " +
        "corpusBuildWithState (or retrainState) to re-derive " +
        "thresholds, or insert an explicit threshold row for the new " +
        "group")
    val sel = Relational.mixtureApplyThresholds(survivors,
      col("doc_id"), col("lang"), thresholds)

    // frozen tokenizer (merges AND token-id space from the spec's live
    // generation), then chunk/pack/shard above the standing bins
    val merges = Bpe.loadMerges(spark, mergesTable(statePrefix, generation))
    val chunks = withChunkKey(
        Bpe.chunkEncoded(Bpe.encodeDocsFrozen(sel, merges,
          spark.table(vocabTable(statePrefix, generation))), chunkTokens))
    val adds = Buffers.scoped(chunks)(
      packShardEmit(_, packTokens, nShards, binBase, mat))
    (survivors, adds)
  }

  /** Re-admission candidates for [[reconcileDelta]] — the fp-tier
    * audit of the suppressed-twin edge. A crawl doc is a candidate
    * when it is UNCHANGED against the snapshot (changed/added docs
    * belong to [[corpusDelta]]), NOT standing, and its content
    * fingerprint exists on NO standing doc — content the crawl still
    * carries that the corpus no longer does, which a fresh rebuild
    * would re-evaluate but the crawl diff never re-surfaces (the
    * [[corpusDelta]] semantic edge). The count is the engine's
    * REBUILD-PRESSURE metric; note it includes curation-rejected docs
    * whose content never stood — [[reconcileDelta]]'s admission chain
    * re-applies those gates before anything is re-admitted.
    *
    * Cost shape: fp rows only, never text. The doc_id joins are
    * snapshot-side exchange-free (bucketed layout); the fp anti-join
    * re-keys both sides by fp — a corpus-sized shuffle of 16-byte
    * rows, the irreducible cost of asking "which content is absent",
    * and the reason this is an occasional maintenance pass rather
    * than part of every crawl's delta.
    */
  def reconcileCandidates(newCrawl: DataFrame,
      statePrefix: String): DataFrame = {
    val spark = newCrawl.sparkSession
    graft.sources.IndexSpec.readRequired(spark, statePrefix)
    val snap = spark.table(snapshotTable(statePrefix))
    val standing = spark.table(standingTable(statePrefix))
    val newFps = newCrawl.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    val unchanged = snap.join(newFps, Seq("doc_id", "fp"), "left_semi")
    val standingFps = snap.join(standing, Seq("doc_id"), "left_semi")
      .select("fp")
    unchanged
      .join(standing, Seq("doc_id"), "left_anti")
      .join(standingFps, Seq("fp"), "left_anti")
      .select("doc_id")
  }

  /** Close the [[corpusDelta]] semantic edge WITHOUT a full rebuild:
    * re-evaluate the [[reconcileCandidates]] (suppressed or rejected
    * crawl content whose standing counterpart has since been removed)
    * through the delta's own admission chain — curation, near-dup
    * screen against the standing corpus, self canonical resolution,
    * frozen mix, frozen tokenizer — and emit their chunks as an
    * add-only changeset packed above the standing `max_bin`
    * (foldable by [[applyCorpusDelta]] like any delta).
    *
    * `newCrawl` must be the crawl the state's snapshot was committed
    * from: candidates are restricted to docs UNCHANGED against the
    * snapshot, so a stale or mutated crawl simply contributes fewer
    * candidates, never wrong ones.
    *
    * `commit = true` advances standing/band-index/spec exactly like a
    * committed delta; the snapshot is NOT rewritten — every candidate
    * is already in it. After a commit the operator is IDEMPOTENT: the
    * re-admitted docs are standing, so a second pass emits an empty
    * changeset (curation-rejected docs legitimately remain fp-tier
    * [[reconcileCandidates]] — the admission chain re-drops them).
    * PipelineSpec gates this, and gates that a fold of delta +
    * reconcile reaches the REBUILD's doc set exactly on the
    * suppressed-twin construction.
    *
    * Re-TRAINING is the one decision class this operator does not
    * touch — reconciliation re-admits content but never re-derives
    * decisions; [[retrainPressure]] measures that drift and
    * [[retrainState]] re-derives mix + tokenizer as a new state
    * generation, closing the last reason for a periodic full rebuild.
    * Policy note: where a fresh rebuild might elect a re-surfacing
    * twin as its cluster's canonical (e.g. a longer duplicate),
    * reconciliation — like the delta screen — always keeps the doc
    * already standing. `checkpointDir` follows [[corpusDelta]]'s
    * contract, including caller-owned GC of the nonce-suffixed waists.
    */
  def reconcileDelta(newCrawl: DataFrame, corpusDocs: DataFrame,
      statePrefix: String, commit: Boolean = false,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = newCrawl.sparkSession
    val spec = graft.sources.IndexSpec.readRequired(spark, statePrefix)
    val chunkTokens = spec.getAs[Int]("chunk_tokens")
    val packTokens = spec.getAs[Long]("pack_tokens")
    val nShards = spec.getAs[Int]("n_shards")
    val threshold = spec.getAs[Double]("neardup_threshold")
    val binBase = spec.getAs[Long]("max_bin") + 1L
    val generation = specGeneration(spec)
    val nonce = java.lang.Long.toHexString(System.nanoTime())
    val matBase = Buffers.materializer(checkpointDir)
    val mat = (df: DataFrame, name: String) =>
      matBase(df, s"${name}_$nonce")

    // candidate slice, curated (the candidates' fps are all IN the
    // snapshot by construction, so the delta's snapshot-fp exact
    // screen would reject every one of them — the standing-fp absence
    // test inside reconcileCandidates IS this path's exact screen;
    // curate's own fp window dedups within the slice)
    val candDocs = newCrawl
      .join(reconcileCandidates(newCrawl, statePrefix), Seq("doc_id"))
    val candCur = mat(candDocs
      .join(Curation.curate(candDocs).select("doc_id"), Seq("doc_id")),
      "reconcile_curated")

    val standing = spark.table(standingTable(statePrefix))
    val (survivors, adds) = admitScreened(candCur, corpusDocs,
      statePrefix, standing, chunkTokens, packTokens, nShards,
      threshold, binBase, generation, mat)

    val out = mat(adds.select(lit("add").as("op"), col("doc_id"),
      col("chunk_idx"), col("n_tokens"), col("ids_digest"),
      col("bin_id"), col("shard")), "reconcile_changeset")

    if (commit) {
      val newStanding = mat(standing
        .unionByName(survivors.select("doc_id")), "reconcile_standing")
      // band index FIRST (same ordering as commitDelta): a crash after
      // the standing overwrite but before the index append would leave
      // the re-admitted docs standing-but-unindexed — and since they
      // are standing, no re-run ever re-appends their bands, a
      // PERMANENT silent near-dup recall gap. The reverse crash merely
      // orphans index entries, which probes standing-filter and the
      // next vacuum reclaims.
      Dedup.appendNearDupIndex(survivors, neardupTable(statePrefix),
        ngram = NdNgram, k = NdK, bands = NdBands)
      graft.sources.Sinks.saveTablePartitioned(newStanding,
        standingTable(statePrefix),
        bucketBy = Some((32, Seq("doc_id"))), sortBy = Seq("doc_id"))
      val newMaxBin = Option(out.agg(max("bin_id")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(binBase - 1L)
      writeSpec(spark, statePrefix, spec.getAs[Long]("mix_budget_tokens"),
        chunkTokens, packTokens, spec.getAs[Int]("num_merges"), nShards,
        threshold, newMaxBin, generation, specMinGeneration(spec))
    }
    out
  }

  /** The RETRAIN-PRESSURE audit — the drift twin of
    * [[reconcileCandidates]]: where that operator measures content the
    * corpus lost, this one measures how far the FROZEN DECISIONS (mix
    * thresholds, tokenizer, token-id space) have drifted from the
    * corpus they now govern. Deltas re-use v1's thresholds and merges
    * verbatim ([[corpusDelta]] stages 5–6), so as committed deltas
    * accumulate, the standing corpus's distribution walks away from
    * the one the decisions were trained on; this audit is the cheap
    * query an operator watches to decide when [[retrainState]] is due.
    *
    * One row per mix group (lang) of the STANDING corpus:
    *
    *   - `n_docs` / `n_words`   — standing volume ([a-z]+ word
    *     occurrences, the tokenizer's input unit)
    *   - `n_tokens`             — tokens the FROZEN merges produce over
    *     those words; `n_tokens / n_words` is the frozen tokenizer's
    *     fertility on today's corpus (rising fertility = the merges no
    *     longer fit the text)
    *   - `oov_tokens`           — of those, tokens with NO id in the
    *     frozen vocabulary: content [[Bpe.encodeDocsFrozen]] would
    *     REFUSE (its raise_error path). Nonzero OOV is the hard signal:
    *     some admissible delta doc cannot be encoded at all.
    *   - `frozen_thresh` vs `fresh_thresh` — the mix threshold the
    *     state family froze vs the one
    *     [[Relational.temperatureThresholds]] would derive on the
    *     standing corpus today at the spec's budget; their gap is the
    *     mix-staleness measure (a group that grew under deltas is
    *     over-sampled by the frozen threshold, a shrunken one
    *     under-sampled). `frozen_thresh` is −1 for a group with no
    *     frozen row (possible only for state families mutated outside
    *     the delta chain — the commit path's coverage guard refuses
    *     unseen groups).
    *
    * `corpusDocs` must carry the standing docs' text (the crawl the
    * state was last committed from). Cost shape: one pass over the
    * standing text into a per-(lang, word) vocabulary — the
    * [[Bpe.encodeDocs]] discipline where all merge work happens per
    * DISTINCT word — plus vocabulary-sized joins; no index probe, no
    * all-pairs anything. Output is group-cardinality-sized.
    */
  def retrainPressure(corpusDocs: DataFrame,
      statePrefix: String): DataFrame = {
    val spark = corpusDocs.sparkSession
    val spec = graft.sources.IndexSpec.readRequired(spark, statePrefix)
    val gen = specGeneration(spec)
    val budget = spec.getAs[Long]("mix_budget_tokens")
    val standing = corpusDocs
      .join(spark.table(standingTable(statePrefix)), Seq("doc_id"),
        "left_semi")
    Buffers.scoped(standing) { standingDocs =>
      // buffered: both tokStats and wordStats consume this, and the
      // word explosion + (lang, word) shuffle over the standing text is
      // the audit's most expensive stage — it must run once, not twice.
      // Vocabulary-sized, released with standingDocs.
      val words = standingDocs
        .select(col("lang"),
          explode(regexp_extract_all(lower(col("text")),
            lit("[a-z]+"), lit(0))).as("word"))
        .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
      Buffers.scoped(words) { langWords =>
        val merges = Bpe.loadMerges(spark, mergesTable(statePrefix, gen))
        val ids = spark.table(vocabTable(statePrefix, gen))
        val tokStats = langWords
          .select(col("lang"), col("freq"),
            explode(Bpe.tokens(col("word"), merges)).as("token"))
          .join(ids.select("token", "id"), Seq("token"), "left")
          .groupBy("lang")
          .agg(sum("freq").as("n_tokens"),
            sum(when(col("id").isNull, col("freq")).otherwise(0L))
              .as("oov_tokens"))
        val wordStats = langWords.groupBy("lang")
          .agg(sum("freq").as("n_words"))
        val docStats = standingDocs.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"))
        val fresh = Relational.temperatureThresholds(standingDocs,
            col("lang"), size(TextAnalysis.tokens(col("text"))), budget)
          .select(col("grp").as("lang"), col("thresh").as("fresh_thresh"))
        val frozen = spark.table(mixTable(statePrefix, gen))
          .select(col("grp").as("lang"), col("thresh").as("frozen_thresh"))
        // eager: the result is group-cardinality-sized and must not
        // depend on the buffers released on return
        Buffers.once(docStats
          .join(wordStats, Seq("lang"), "left")
          .join(tokStats, Seq("lang"), "left")
          .join(frozen, Seq("lang"), "left")
          .join(fresh, Seq("lang"), "left")
          .select(col("lang"), col("n_docs"),
            coalesce(col("n_words"), lit(0L)).as("n_words"),
            coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
            coalesce(col("oov_tokens"), lit(0L)).as("oov_tokens"),
            coalesce(col("frozen_thresh"), lit(-1L)).as("frozen_thresh"),
            col("fresh_thresh")))
      }
    }
  }

  /** Re-derive the frozen decisions on the STANDING corpus as a NEW
    * STATE GENERATION — the operation [[retrainPressure]] tells you is
    * due, and the one thing the delta/reconcile/compact loop could not
    * do without a full rebuild (`reconciliation re-admits content but
    * never re-derives decisions` — the scaladoc contract above). Mix
    * thresholds, BPE merges, and the token-id vocabulary are re-trained
    * on the standing docs exactly as [[corpusBuildWithState]] stages
    * 3–6 train them on a fresh build's canonical corpus, then every
    * standing doc is re-encoded and re-packed into bins from 0 — the
    * returned chunks REPLACE the v1 chunk relation wholesale (v1 token
    * ids and the v2 id space must never mix in one corpus).
    *
    * Generation migration, not overwrite: the new tables land under
    * `_g<gen+1>`-suffixed names and the spec's `generation` column
    * flips LAST, atomically with the reset `max_bin` — so
    *
    *   - a crash anywhere mid-retrain leaves the OLD generation fully
    *     live (orphaned v2 tables are overwritten by the re-run);
    *   - shards already exported under v1 ids remain decodable forever
    *     (the v1 vocab/merges tables are never touched — readers of old
    *     exports resolve ids against the generation they were encoded
    *     under, the [[Bpe.readEncodedTable]] spec-guard discipline);
    *   - the next [[corpusDelta]] reads the flipped spec and encodes
    *     into v2 automatically — deltas chain against the new
    *     generation with no caller change.
    *
    * Content state (snapshot/standing/band index) is untouched:
    * retraining changes decisions, not documents. `corpusDocs` must
    * cover every standing doc's text (the crawl the state was last
    * committed from) — checked loudly, since a silent partial retrain
    * would silently shrink the corpus. Deterministic end to end (the
    * q175 oracle replays it), and re-entrant: re-running trains
    * generation g+2 with identical content.
    */
  def retrainState(corpusDocs: DataFrame,
      statePrefix: String): DataFrame = {
    val spark = corpusDocs.sparkSession
    val spec = graft.sources.IndexSpec.readRequired(spark, statePrefix)
    val budget = spec.getAs[Long]("mix_budget_tokens")
    val chunkTokens = spec.getAs[Int]("chunk_tokens")
    val packTokens = spec.getAs[Long]("pack_tokens")
    val numMerges = spec.getAs[Int]("num_merges")
    val nShards = spec.getAs[Int]("n_shards")
    val threshold = spec.getAs[Double]("neardup_threshold")
    val gen2 = specGeneration(spec) + 1

    val standing = spark.table(standingTable(statePrefix))
    Buffers.scoped(corpusDocs
      .join(standing, Seq("doc_id"), "left_semi")) { standingDocs =>
      val nCovered = standingDocs.count() // also fills the persist
      val nStanding = standing.count()
      require(nCovered == nStanding,
        s"retrainState: corpusDocs covers $nCovered of $nStanding " +
          s"standing docs in $statePrefix — a partial (or duplicated) " +
          "text relation would silently retrain on the wrong corpus; " +
          "pass the crawl the state was last committed from")

      // stages 3–6 of the build, trained on the standing corpus, state
      // written under the NEW generation's names (v1 tables untouched)
      val thresholds = Relational.temperatureThresholds(standingDocs,
        col("lang"), size(TextAnalysis.tokens(col("text"))), budget)
      graft.sources.Sinks.saveTable(thresholds,
        mixTable(statePrefix, gen2))
      val selPlan = Relational.mixtureApplyThresholds(standingDocs,
        col("doc_id"), col("lang"), thresholds)
      val out = Buffers.scoped(selPlan) { selDocs =>
        val merges = Bpe.trainMerges(selDocs, numMerges)
        Bpe.saveMerges(spark, merges, mergesTable(statePrefix, gen2),
          numMerges)
        graft.sources.Sinks.saveTable(Bpe.tokenIds(selDocs, merges),
          vocabTable(statePrefix, gen2))
        Buffers.scoped(withChunkKey(Bpe.chunkEncoded(
            Bpe.encodeDocs(selDocs, merges), chunkTokens)))(
          packShardEmit(_, packTokens, nShards, binBase = 0L))
      }

      // spec LAST — the generation flip (with the reset bin space) IS
      // the retrain's commit marker
      val maxBin = Option(out.agg(max("bin_id")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(-1L)
      writeSpec(spark, statePrefix, budget, chunkTokens, packTokens,
        numMerges, nShards, threshold, maxBin, gen2,
        specMinGeneration(spec))
      out
    }
  }

  /** Does catalog spec entry `st` still reference merges table `mt`?
    * The [[dropGeneration]] export guard's per-spec probe, factored
    * out so the tolerate-vs-abort decision lives in one place:
    *
    *   - spec readable: answer from its `merges_table` column
    *     (collect-exists, not head: a zero-row spec — a crashed
    *     half-write — is "no reference", not an exception).
    *   - spec VANISHED from the catalog between the listing and this
    *     read (a concurrent retirement): "no reference" — the same
    *     answer its completed DROP would give.
    *   - spec still listed but VERIFIED DANGLING — the entry is a
    *     view-kind object whose read fails with TABLE_OR_VIEW_NOT_FOUND
    *     while the entry itself still exists, i.e. its base relation is
    *     gone: "no reference". The merges-table pin lived in the
    *     dropped base, so the export is already undecodable via this
    *     spec regardless of what this drop reclaims; aborting would
    *     wedge generation reclaim forever on a leftover wrapper whose
    *     only remedy is dropping it anyway (the exact self-wedge the
    *     crash sweep's drop leg would otherwise hit on its own healed
    *     half-retirements). Verified, not inferred from the error
    *     alone: the entry must still EXIST and be a VIEW/TEMPORARY —
    *     a plain TABLE raising this condition is inconsistent catalog
    *     state and aborts below.
    *   - anything else (corrupt footer, FS hiccup, mid-scan error, the
    *     inconsistent-table case above): PROPAGATE — abort the drop
    *     loudly rather than silently disabling the guard, which could
    *     reclaim a merges table a live export still decodes against,
    *     the irrecoverable loss the guard exists to prevent.
    */
  private def specReferencesMergesTable(spark: SparkSession, st: String,
      mt: String): Boolean = {
    try {
      val df = spark.table(st)
      df.columns.contains("merges_table") &&
        df.select("merges_table").collect()
          .exists(r => !r.isNullAt(0) && r.getString(0) == mt)
    } catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition)
            .exists(_.contains("TABLE_OR_VIEW_NOT_FOUND")) =>
        if (!spark.catalog.tableExists(st)) false // concurrently retired
        else {
          val kind =
            try Option(spark.catalog.getTable(st).tableType).getOrElse("")
            catch {
              // vanished between tableExists and getTable: retired
              case _: org.apache.spark.sql.AnalysisException => "VIEW"
            }
          if (kind == "VIEW" || kind == "TEMPORARY" ||
            kind == "TEMP_VIEW" || kind == "GLOBAL_TEMP_VIEW") {
            false // verified dangling view: undecodable spec, tolerated
          } else {
            throw new IllegalStateException(
              s"dropGeneration: export spec '$st' is a $kind yet reads " +
                s"as TABLE_OR_VIEW_NOT_FOUND (${e.getMessage}) — " +
                "inconsistent catalog state; aborting the drop rather " +
                "than disabling the export-reference guard. Repair or " +
                s"drop '$st' and re-run.", e)
          }
        }
    }
  }

  /** Reclaim a SUPERSEDED trained-state generation — the retention
    * endgame of [[retrainState]]'s migration discipline. Each retrain
    * deliberately leaves the old generation's mix/merges/vocab tables
    * in place (shards exported under old token ids must stay decodable),
    * so a long-lived corpus accretes ~3 catalog tables per retrain
    * without bound; this is the fold/vacuum closing that growth path,
    * like every other one in the family.
    *
    * The live window is recorded IN THE SPEC: `[min_generation,
    * generation]`. Drops advance the lower edge and must therefore go
    * OLDEST-FIRST (`gen == min_generation`) — an out-of-order drop
    * would punch a hole the one-column record cannot represent, and
    * retention policies are oldest-out anyway. A `gen` below the
    * window is a completed drop and a NO-OP (idempotent re-run); the
    * live generation and anything above is refused loudly.
    *
    * Export-reference guard: an encoded-corpus artifact
    * ([[Bpe.buildEncodedTable]]) pins its tokenizer by merges-table
    * name + digest in its own spec. This refuses to drop while any
    * `__spec` table in the catalog still references the generation's
    * merges table — dropping it would turn every future
    * [[Bpe.readEncodedTable]] of that artifact into a missing-table
    * error with no recovery path (the ids cannot be re-derived without
    * the merges). The guard sees only SPEC-CARRYING catalog artifacts
    * in the CURRENT database (`spark.catalog.listTables()` scope —
    * this engine registers every state/index/export table there, but a
    * deployment that exports encoded corpora into another database
    * must run its own cross-database sweep): shards exported as loose
    * files (e.g. [[Bpe.packedSequences]] output written to a path) are
    * likewise the CALLER's retention responsibility, exactly like
    * checkpointDir GC in [[corpusDelta]] — drop a generation only once
    * no live export depends on it. Tolerate-vs-abort per spec is
    * [[specReferencesMergesTable]]: a vanished spec (concurrent
    * retirement) and a VERIFIED-dangling spec view (entry exists, base
    * relation gone — an undecodable leftover wrapper) read as "no
    * reference"; any OTHER spec-read failure aborts the drop loudly
    * rather than disabling the guard. Cost:
    * a driver loop over catalog names reading one-row specs, plus
    * three DROPs — a maintenance operation, run beside compaction.
    *
    * Crash-ordered: tables drop first, the spec's `min_generation`
    * advance commits last. A crash between leaves the window claiming
    * a generation whose tables are gone — reads of it fail loudly on
    * the missing table (never silently decode with the wrong vocab),
    * and re-running the drop heals the record.
    */
  def dropGeneration(spark: SparkSession, statePrefix: String,
      gen: Int): Unit = {
    val spec = graft.sources.IndexSpec.readRequired(spark, statePrefix)
    val live = specGeneration(spec)
    val minGen = specMinGeneration(spec)
    require(gen < live,
      s"dropGeneration: generation $gen is ${if (gen == live) "the LIVE"
        else "beyond the live"} generation of $statePrefix (live = " +
        s"$live) — only superseded generations can be reclaimed")
    if (gen < minGen) return // already dropped; idempotent
    require(gen == minGen,
      s"dropGeneration: generation $gen is not the oldest retained " +
        s"generation of $statePrefix (min_generation = $minGen) — " +
        "drop oldest-first so the spec's live window stays exact")
    val mt = mergesTable(statePrefix, gen)
    val refs = spark.catalog.listTables().collect().map(_.name)
      .filter(_.endsWith("__spec"))
      .filter(st => specReferencesMergesTable(spark, st, mt))
    require(refs.isEmpty,
      s"dropGeneration: generation $gen of $statePrefix is still " +
        s"referenced by encoded-corpus export(s) ${refs.map(
          _.stripSuffix("__spec")).mkString(", ")} — their token ids " +
        "are decodable only against this generation's merges table; " +
        "drop or re-encode the exports first")
    Seq(mixTable(statePrefix, gen), mergesTable(statePrefix, gen),
      vocabTable(statePrefix, gen)).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.core.CrashHook.fire(s"dropTable:$t")
    }
    writeSpec(spark, statePrefix, spec.getAs[Long]("mix_budget_tokens"),
      spec.getAs[Int]("chunk_tokens"), spec.getAs[Long]("pack_tokens"),
      spec.getAs[Int]("num_merges"), spec.getAs[Int]("n_shards"),
      spec.getAs[Double]("neardup_threshold"),
      spec.getAs[Long]("max_bin"), live, gen + 1)
  }

  /** Vacuum every persisted index a corpus deployment maintains beside
    * its state family, deriving each keep-set from the STANDING corpus
    * — the policy wiring for the per-family vacuums
    * ([[Dedup.compactFingerprintIndex]]/[[Dedup.compactSimhashIndex]]/
    * [[Dedup.compactWinnowIndex]]/[[Similarity.compactIvfIndex]]),
    * which are otherwise caller-invoked one-offs that each need their
    * keep-set hand-built. Run beside [[compactCorpus]] on the same
    * maintenance cadence: deltas only ever APPEND to the indexes, so
    * probe cost drifts upward with departed-doc garbage until this
    * reclaims it.
    *
    * Keep-set derivations (no text rescan — state tables only):
    *   - band index (always): the standing doc_id set — the vacuum
    *     [[compactCorpus]] also runs; included here so a deployment
    *     that never compacts its chunk table still reclaims the probe
    *     index.
    *   - fingerprint index: standing ⋉ snapshot fps — the snapshot
    *     holds the last RAW crawl's (doc_id, fp) including docs that
    *     were never admitted, so it is cut to standing first (the
    *     derivation the [[Dedup.compactFingerprintIndex]] scaladoc
    *     documents). Both sides are doc_id-bucketed: the semi-join is
    *     exchange-free.
    *   - simhash / winnow indexes: the standing doc_id set directly
    *     (both are keyed by the corpus doc_id).
    *   - semantic (IVF) index: standing doc_ids AS vec_ids — valid
    *     under the pipeline convention that the embedding store keys a
    *     document's vector by its doc_id (the [[Similarity
    *     .probeSemanticIndex]] dedup-tier pairing). A deployment with
    *     an independent vector id space must vacuum with its own
    *     mapping instead.
    *
    * Each vacuum is the crash-ordered swap + self-heal of its family
    * ([[Dedup.swapIndexTable]]); this sequences them, so a crash
    * mid-policy leaves some indexes vacuumed and the rest intact —
    * re-run to finish (every leg is idempotent). Bloom tiers are
    * rebuild-only by construction and deliberately NOT here (see
    * [[Dedup.buildBloomIndex]] — rebuild after the fp vacuum so the
    * filter sizes to the live set).
    */
  def vacuumIndexes(spark: SparkSession, statePrefix: String,
      fingerprintIndex: Option[String] = None,
      simhashIndex: Option[String] = None,
      winnowIndex: Option[String] = None,
      semanticIndex: Option[String] = None): Unit = {
    val keepDocs = spark.table(standingTable(statePrefix))
      .select("doc_id")
    Dedup.compactNearDupIndex(spark, neardupTable(statePrefix), keepDocs)
    fingerprintIndex.foreach { t =>
      val keepFps = spark.table(snapshotTable(statePrefix))
        .join(keepDocs, Seq("doc_id"), "left_semi")
        .select("fp")
      Dedup.compactFingerprintIndex(spark, t, keepFps)
    }
    simhashIndex.foreach(t =>
      Dedup.compactSimhashIndex(spark, t, keepDocs))
    winnowIndex.foreach(t =>
      Dedup.compactWinnowIndex(spark, t, keepDocs))
    semanticIndex.foreach(t =>
      Similarity.compactIvfIndex(spark, t,
        keepDocs.select(col("doc_id").as("vec_id"))))
  }

  /** The state advance of a committed delta (see [[corpusDelta]]).
    * Every input that reads a state table is materialized BEFORE the
    * first overwrite, so no write consumes a table it is replacing.
    * The spec (with the new max_bin) is written last — the same
    * commit-marker role it plays in the initial build.
    */
  private def commitDelta(spark: SparkSession, statePrefix: String,
      newFps: DataFrame, survivors: DataFrame, standingNow: DataFrame,
      out: DataFrame,
      spec: (Int, Long, Int, Double, Long), generation: Int,
      mat: (DataFrame, String) => DataFrame): Unit = {
    val (chunkTokens, packTokens, nShards, threshold, binBase) = spec
    // materialize everything that still reads the old state tables
    // (survivors arrives already checkpointed — the delta's waist).
    // newFps needs NO barrier: it reads only the caller's crawl (never
    // a state table) and arrives cache-materialized by the diff — the
    // snapshot write below is the committed delta's SECOND and last
    // consumer of the one fp scan.
    val newStanding = mat(standingNow
      .unionByName(survivors.select("doc_id")), "commit_standing")

    // band index FIRST, before any table the commit overwrites: a crash
    // after the standing/snapshot advance but before the append would
    // leave the survivors standing-but-unindexed — standing docs never
    // re-enter the fp tier, so no re-run would ever append their bands
    // (a permanent silent near-dup recall gap). The reverse crash only
    // orphans index entries: probes standing-filter hits, and the next
    // [[Dedup.compactNearDupIndex]] vacuum reclaims the rows. If that
    // crashed commit is RE-RUN (rather than the documented full-build
    // recovery), the identical diff appends the same survivors' bands
    // a second time — duplicates, not orphans, once the docs go
    // standing; correctness holds (band probes are set-semantics) and
    // the vacuum's distinct reclaims them at the next compaction.
    Dedup.appendNearDupIndex(survivors, neardupTable(statePrefix),
      ngram = NdNgram, k = NdK, bands = NdBands)
    // same bucketed layout the build writes, so the NEXT delta's joins
    // stay snapshot-side exchange-free
    graft.sources.Sinks.saveTablePartitioned(newFps,
      snapshotTable(statePrefix),
      bucketBy = Some((32, Seq("doc_id"))), sortBy = Seq("doc_id"))
    graft.sources.Sinks.saveTablePartitioned(newStanding,
      standingTable(statePrefix),
      bucketBy = Some((32, Seq("doc_id"))), sortBy = Seq("doc_id"))
    val newMaxBin = Option(out.filter(col("op") === "add")
        .agg(max("bin_id")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(binBase - 1L)
    val old = graft.sources.IndexSpec.readRequired(spark, statePrefix)
    writeSpec(spark, statePrefix, old.getAs[Long]("mix_budget_tokens"),
      chunkTokens, packTokens, old.getAs[Int]("num_merges"), nShards,
      threshold, newMaxBin, generation, specMinGeneration(old))
  }

  /** Fold a [[corpusDelta]] changeset into a chunk relation: drop every
    * chunk of a tombstoned doc, then append the delta's chunks — the
    * [[Relational.mergeChangeset]] shape specialized to the corpus
    * schema (delete-then-add per doc, so a CHANGED doc's old chunks
    * never coexist with its new ones). One anti-join + one union; at
    * scale both sides stay partitioned by doc_id.
    */
  def applyCorpusDelta(chunks: DataFrame, delta: DataFrame): DataFrame = {
    val dels = delta.filter(col("op") === "del")
      .select("doc_id").distinct()
    val adds = delta.filter(col("op") === "add").drop("op")
    chunks.join(dels, Seq("doc_id"), "left_anti").unionByName(adds)
  }

  /** Close the delta loop: squash a chunk relation maintained through N
    * [[applyCorpusDelta]] folds into a FRESH corpus table. After N
    * committed deltas a reader pays N chained anti-joins and the bin
    * space / tombstone set grow monotonically (delta bins are
    * append-only and never reclaim the holes deletions leave);
    * compaction resets both: the folded chunks are RE-PACKED into
    * contiguous bins from 0 (same pack_tokens budget and shard count
    * the state's spec froze — chunk content, ids_digest and geometry
    * are untouched, only bin/shard placement changes) and written as a
    * doc_id-bucketed table, so subsequent reads are one shuffle-free
    * scan in the q48 layout.
    *
    * Compaction also VACUUMS the band index
    * ([[graft.operators.Dedup.compactNearDupIndex]] against the
    * standing set): append-only growth leaves entries for docs that
    * have since left the corpus, and while probes stay correct (hits
    * are standing-filtered), their cost drifts upward with the
    * garbage. The rest of the state family needs no reconciliation —
    * snapshot, standing set, mix thresholds and tokenizer describe
    * DOC content, which compaction does not touch. Only the spec's
    * `max_bin` advances (shrinks), written LAST: until it lands, a
    * concurrent-crash window leaves deltas appending above the OLD
    * max_bin, which stays collision-free against both the folded and
    * the compacted relation (compacted bins are ≤ the old max). The
    * operator is re-entrant — re-running overwrites the output table
    * and rewrites the spec.
    *
    * NOT run here: re-evaluation of crawl twins suppressed as
    * duplicates of since-removed docs (the [[corpusDelta]] semantic
    * edge) — that requires the crawl TEXT, not the chunk relation; a
    * periodic full [[corpusBuildWithState]] reconciles it, and
    * PipelineSpec pins that the reconciliation diff is EXACTLY the
    * suppressed-twin set.
    */
  def compactCorpus(chunks: DataFrame, statePrefix: String,
      saveAs: String): DataFrame = {
    val spark = chunks.sparkSession
    val spec = graft.sources.IndexSpec.readRequired(spark, statePrefix)
    val out = compactInto(chunks, spec, saveAs)

    // vacuum the band index: appendNearDupIndex only ever grows it, so
    // entries of docs that have since left the corpus accumulate and
    // probe cost drifts upward with garbage (correct — hits are
    // standing-filtered — but paid on every delta). Compaction is the
    // natural reclaim point: keep exactly the standing docs' rows.
    Dedup.compactNearDupIndex(spark, neardupTable(statePrefix),
      spark.table(standingTable(statePrefix)))

    // spec advance LAST (max_bin only ever shrinks here) — the
    // compacted table is durable before any delta can place bins
    // against the new, smaller bin space
    val maxBin = Option(out.agg(max("bin_id")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)
    writeSpec(spark, statePrefix, spec.getAs[Long]("mix_budget_tokens"),
      spec.getAs[Int]("chunk_tokens"), spec.getAs[Long]("pack_tokens"),
      spec.getAs[Int]("num_merges"), spec.getAs[Int]("n_shards"),
      spec.getAs[Double]("neardup_threshold"), maxBin,
      specGeneration(spec), specMinGeneration(spec))
    out
  }

  /** One-pass equivalent of folding an ORDERED list of
    * [[corpusDelta]]/[[reconcileDelta]] changesets with
    * [[applyCorpusDelta]] — the read path that keeps a delta-maintained
    * corpus's scan cost BOUNDED in the number of outstanding
    * changesets. Sequential folding chains one anti-join + union per
    * changeset (read amplification grows with N — the curve
    * [[compactCorpus]] resets); this computes the same relation with
    * exactly ONE anti-join and ONE per-doc latest-changeset selection,
    * whatever N is:
    *
    *   - a base doc touched by ANY changeset is superseded (dropped
    *     from the base scan);
    *   - the add rows that stand are those of each doc's LATEST
    *     changeset (a changed doc's del+add arrive in the same
    *     changeset, so "latest adds" is exactly what sequential
    *     folding leaves; a doc whose latest changeset only tombstones
    *     has no add rows and vanishes).
    *
    * Equivalence holds for changesets obeying the delta contract
    * (delete-then-add: an `add` for a doc alive in the base is always
    * accompanied by that doc's `del`) — which [[corpusDelta]] and
    * [[reconcileDelta]] guarantee by construction; PipelineSpec gates
    * the equivalence on real chained crawls.
    */
  def applyCorpusDeltas(chunks: DataFrame,
      deltas: Seq[DataFrame]): DataFrame = {
    if (deltas.isEmpty) return chunks
    val log = deltas.zipWithIndex
      .map { case (d, i) => d.withColumn("__seq", lit(i.toLong)) }
      .reduce(_ unionByName _)
    foldChangeLog(chunks, log)
  }

  /** The one-pass fold of [[applyCorpusDeltas]] over an already-stacked
    * change log carrying a `__seq` changeset-order column — shared with
    * [[corpusTableRead]], whose log arrives from the persisted
    * changelog table (doc_id-bucketed, so the groupBy and join below
    * plan without a log-side exchange there).
    */
  private def foldChangeLog(chunks: DataFrame, log: DataFrame): DataFrame = {
    val latest = log.groupBy("doc_id").agg(max("__seq").as("__mx"))
    val adds = log.filter(col("op") === "add")
      .join(latest, Seq("doc_id"))
      .filter(col("__seq") === col("__mx"))
      .drop("op", "__seq", "__mx")
    chunks
      .join(log.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      .unionByName(adds)
  }

  /** The re-pack core of [[compactCorpus]]: squash a (possibly
    * N-folds-deep) chunk relation into a fresh doc_id-bucketed table
    * with bins re-packed contiguous from 0 under the spec's frozen
    * pack/shard parameters. No state-family table is touched — the
    * caller owns vacuum + spec ordering ([[compactCorpus]] for the
    * standalone form, [[corpusTableFold]]'s auto-compaction for the
    * managed one, where the chunks-spec epoch flip must land BEFORE
    * the corpus spec's max_bin advance).
    */
  private def compactInto(chunks: DataFrame,
      spec: org.apache.spark.sql.Row, saveAs: String): DataFrame = {
    val spark = chunks.sparkSession
    val packTokens = spec.getAs[Long]("pack_tokens")
    val nShards = spec.getAs[Int]("n_shards")
    // re-key and persist: the pack's two-pass prefix sum, the shard
    // map, and the final join all re-read the folded relation, whose
    // own plan may be N anti-joins deep — exactly the cost compaction
    // exists to stop paying
    Buffers.scoped(withChunkKey(chunks.select(
        col("doc_id"), col("chunk_idx"), col("n_tokens"),
        col("ids_digest")))) { keyed =>
      val assigned = packShardAssign(keyed, packTokens, nShards,
          binBase = 0L)
        .select(col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          col("n_tokens"), col("ids_digest"), col("bin_id"),
          col("shard"))
      graft.sources.Sinks.saveTablePartitioned(assigned, saveAs,
        bucketBy = Some((32, Seq("doc_id"))), sortBy = Seq("doc_id"))
      spark.table(saveAs)
    }
  }

  // ------------------------------------------------------------------
  // Managed corpus table: the fold/compaction POLICY closed over the
  // state family, so the read-amplification curve never silently grows.
  // ------------------------------------------------------------------

  private def chunksSpecKey(p: String) = s"${p}_chunks"
  private def chunksBase(p: String, epoch: Long) = s"${p}_chunks_e$epoch"
  private def changelogTable(p: String) = s"${p}_changelog"

  private def emptyChangelog(like: DataFrame): DataFrame =
    like.select(col("op").cast("string").as("op"), col("doc_id"),
      col("chunk_idx"), col("n_tokens"), col("ids_digest"),
      col("bin_id"), col("shard"), lit(0L).as("epoch"),
      lit(0L).as("__seq")).limit(0)

  private def writeChunksEpoch(spark: SparkSession, p: String,
      epoch: Long): Unit = {
    import spark.implicits._
    graft.sources.IndexSpec.write(Seq(epoch).toDF("epoch"),
      chunksSpecKey(p))
  }

  /** Stand up the MANAGED corpus table for a freshly built chunk
    * relation: the base table (doc_id-bucketed, epoch 0), an empty
    * change log, and the epoch marker — after which
    * [[corpusTableFold]]/[[corpusTableRead]] run the operational loop
    * with an auto-compaction policy instead of the caller chaining
    * [[applyCorpusDelta]] and remembering to [[compactCorpus]].
    * Layout: `p_chunks_e<epoch>` is the compacted base generation,
    * `p_changelog` stacks committed changesets (each stamped with the
    * epoch it extends and its sequence inside it), and
    * `p_chunks__spec.epoch` — written LAST, the family's commit
    * marker — selects which (base, log-slice) pair is live. Both
    * tables are doc_id-bucketed, so the read's anti-join, its per-doc
    * latest-changeset group, and any downstream doc_id probe plan
    * without a corpus-side exchange (the q48 discipline).
    */
  def corpusTableInit(chunks: DataFrame, statePrefix: String): Unit = {
    val spark = chunks.sparkSession
    graft.sources.Sinks.saveTablePartitioned(
      chunks.select("doc_id", "chunk_idx", "n_tokens", "ids_digest",
        "bin_id", "shard"),
      chunksBase(statePrefix, 0L),
      bucketBy = Some((32, Seq("doc_id"))), sortBy = Seq("doc_id"))
    graft.sources.Sinks.saveTablePartitioned(
      emptyChangelog(chunks.withColumn("op", lit("add"))),
      changelogTable(statePrefix),
      bucketBy = Some((32, Seq("doc_id"))), sortBy = Seq("doc_id"))
    writeChunksEpoch(spark, statePrefix, 0L)
  }

  /** Fold a committed changeset into the managed corpus table, and
    * COMPACT automatically once `compactEvery` changesets have stacked
    * since the last base generation — the policy closure the stream
    * stores' `foldEvery` gives their index folds, applied to the corpus
    * loop: without it, read amplification (one anti-join + union per
    * outstanding changeset under sequential folding; measured 1.5–1.9×
    * at N=3 on the 20× stress corpus) grows until someone remembers to
    * compact. Here the reader's cost is bounded twice over — the
    * one-pass [[applyCorpusDeltas]] fold keeps the VIEW flat at any N,
    * and the auto-compaction keeps the log short and re-packs the bin
    * space.
    *
    * Crash ordering (every step idempotent under re-run): the changeset
    * appends first; compaction then writes the NEXT epoch's base table,
    * flips the epoch marker (the read path switches atomically — until
    * then every reader sees the old base + full log), and only after
    * the flip vacuums the band index, advances the corpus spec's
    * `max_bin` to the re-packed space, drops the superseded base and
    * clears the log. A crash between flip and cleanup leaves stale
    * rows the epoch filter already ignores and at most one orphaned
    * base table, reclaimed at the next fold's entry sweep. The flip
    * lands BEFORE the corpus spec's max_bin shrink on purpose: the
    * reverse order would let a delta pack new bins into a range the
    * still-live old view already occupies.
    *
    * Index-vacuum cadence: the optional index-name arguments extend the
    * compaction trigger to the FULL [[vacuumIndexes]] policy — the band
    * index is always vacuumed at compaction (it is state-family-owned);
    * a deployment that also maintains fingerprint / simhash / winnow /
    * semantic companions passes their names once here and stops needing
    * a separate vacuum caller. Same cadence as the compaction because
    * both reclaim the same departed-doc garbage; a crash mid-policy
    * leaves some indexes vacuumed and the rest merely stale (probes
    * stay correct — hits are standing-filtered), healed by the next
    * triggering fold.
    */
  def corpusTableFold(delta: DataFrame, statePrefix: String,
      compactEvery: Int,
      fingerprintIndex: Option[String] = None,
      simhashIndex: Option[String] = None,
      winnowIndex: Option[String] = None,
      semanticIndex: Option[String] = None): Unit = {
    require(compactEvery >= 1,
      s"corpusTableFold: compactEvery must be >= 1, got $compactEvery")
    val spark = delta.sparkSession
    val cspec = graft.sources.IndexSpec.readRequired(spark,
      chunksSpecKey(statePrefix))
    val epoch = cspec.getAs[Long]("epoch")
    // entry sweep: reclaim the base a crashed compaction failed to drop
    if (epoch > 0L)
      spark.sql(
        s"DROP TABLE IF EXISTS ${chunksBase(statePrefix, epoch - 1)}")
    val nextSeq = Option(spark.table(changelogTable(statePrefix))
        .filter(col("epoch") === epoch)
        .agg(max("__seq")).head().get(0))
      .map(_.asInstanceOf[Long] + 1L).getOrElse(0L)
    graft.sources.Sinks.appendTablePartitioned(
      delta.select(col("op"), col("doc_id"), col("chunk_idx"),
        col("n_tokens"), col("ids_digest"), col("bin_id"), col("shard"),
        lit(epoch).as("epoch"), lit(nextSeq).as("__seq")),
      changelogTable(statePrefix),
      bucketBy = Some((32, Seq("doc_id"))), sortBy = Seq("doc_id"))

    if (nextSeq + 1L >= compactEvery) {
      val spec = graft.sources.IndexSpec.readRequired(spark, statePrefix)
      val folded = corpusTableRead(spark, statePrefix)
      compactInto(folded, spec, chunksBase(statePrefix, epoch + 1))
      writeChunksEpoch(spark, statePrefix, epoch + 1) // reader flip
      // full vacuum policy on the compaction cadence: the band index
      // always (vacuumIndexes' unconditional leg — what the bare call
      // here used to do), plus every configured companion index
      vacuumIndexes(spark, statePrefix, fingerprintIndex, simhashIndex,
        winnowIndex, semanticIndex)
      val maxBin = Option(spark.table(chunksBase(statePrefix, epoch + 1))
          .agg(max("bin_id")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(-1L)
      writeSpec(spark, statePrefix, spec.getAs[Long]("mix_budget_tokens"),
        spec.getAs[Int]("chunk_tokens"), spec.getAs[Long]("pack_tokens"),
        spec.getAs[Int]("num_merges"), spec.getAs[Int]("n_shards"),
        spec.getAs[Double]("neardup_threshold"), maxBin,
        specGeneration(spec), specMinGeneration(spec))
      // cleanup: superseded base + folded log entries (readers already
      // filter them out by epoch, so this is reclamation, not safety)
      spark.sql(s"DROP TABLE IF EXISTS ${chunksBase(statePrefix, epoch)}")
      // swept: this drop runs on the CLEAN fold path, so the ordinal
      // sweep enumerates it automatically (ADVICE r15 — it previously
      // fired no hook and crashes right after it were unswept)
      graft.core.CrashHook.fire(
        s"dropTable:${chunksBase(statePrefix, epoch)}")
      graft.sources.Sinks.saveTablePartitioned(emptyChangelog(delta),
        changelogTable(statePrefix),
        bucketBy = Some((32, Seq("doc_id"))), sortBy = Seq("doc_id"))
    }
  }

  /** The managed corpus table's read path: the live base generation
    * with the current epoch's changesets folded on in ONE pass
    * (see [[applyCorpusDeltas]]) — cost bounded regardless of how many
    * changesets are outstanding, both scans bucket-aligned on doc_id.
    */
  def corpusTableRead(spark: SparkSession,
      statePrefix: String): DataFrame = {
    val cspec = graft.sources.IndexSpec.readRequired(spark,
      chunksSpecKey(statePrefix))
    val epoch = cspec.getAs[Long]("epoch")
    foldChangeLog(
      spark.table(chunksBase(statePrefix, epoch)),
      spark.table(changelogTable(statePrefix))
        .filter(col("epoch") === epoch).drop("epoch"))
  }
}
