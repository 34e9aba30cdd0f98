package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Buffers

/** Deterministic byte-pair-merge (BPE) tokenizer: train a merge list on
  * the corpus's word-frequency vocabulary, persist it like the other
  * index artifacts, and apply it as a pure column-expression chain — the
  * production token-accounting path the budget operators (token packing,
  * budget select, token quantiles) approximate with whitespace counts.
  * Classic BPE (Sennrich et al., ACL 2016; public knowledge): start from
  * characters, repeatedly merge the most frequent adjacent symbol pair.
  *
  * Determinism contract (what makes this oracle-able cross-engine):
  *   - the vocabulary is lowercase `[a-z]+` words, so symbols are ASCII
  *     and binary string comparison orders identically everywhere;
  *   - each round's winning pair is argmax by (count DESC, lhs ASC,
  *     rhs ASC) — a total order, so ties never depend on partitioning;
  *   - a word's token sequence is carried as a padded string: every
  *     token wrapped in single spaces and concatenated, e.g. "hello" →
  *     `" h  e  l  l  o "` (adjacent wraps meet as DOUBLE spaces).
  *     Merging pair (x, y) is then the plain string replacement
  *     `" x  y "` → `" xy "`. Because each token owns its padding on
  *     both sides, one left-to-right non-overlapping replacement pass
  *     (the semantics of `replace` in Spark, DuckDB, and Java alike)
  *     consumes exactly wrap(x)+wrap(y) and leaves the neighbours'
  *     padding intact — so a single pass equals BPE's merge-all-
  *     occurrences-leftmost rule even on runs like "aaaa" (verified
  *     against a token-list reference in BpeSpec). A merge list then
  *     applies as a left fold of plain `replace` calls: no loop, no
  *     UDF, whole-stage-codegen friendly, and replayable verbatim in
  *     the DuckDB oracle.
  *
  * Order-of-application soundness: applying merges rank-by-rank, each
  * exhaustively, equals priority-queue BPE application because merging
  * never creates a NEW adjacency of two previously-existing tokens — a
  * merge only introduces pairs involving its freshly created symbol, so
  * once rank k is exhausted it can never reapply.
  *
  * 100-TB shape: training is one word-count shuffle over the corpus
  * (the same pass every word-level operator pays) followed by
  * `numMerges` rounds of a pair-count aggregate over the VOCABULARY —
  * distinct words only, orders of magnitude smaller than the corpus and
  * shrinking as merges collapse it. The merge list itself is bounded
  * driver state (`numMerges` rows, like k-means centroids). Application
  * is a per-distinct-word expression chain followed by a word-keyed
  * join, never a per-occurrence recompute.
  */
object Bpe {

  /** One trained merge: at `rank`, symbol pair (`lhs`,`rhs`) → lhs+rhs. */
  final case class Merge(rank: Int, lhs: String, rhs: String)

  /** Lowercase `[a-z]+` word-frequency vocabulary of `textCol` — the
    * training corpus summary (one shuffle over the documents).
    */
  def wordVocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+"), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** The padded character representation `" h  e  l  l  o "` (each
    * symbol wrapped in single spaces; see the class doc for why).
    */
  def padded(word: Column): Column =
    regexp_replace(word, "(.)", " $1 ")

  /** Apply one merge to a padded representation: a single plain
    * replacement pass — exactly BPE's leftmost-greedy merge-all.
    */
  private def applyOne(rep: Column, m: Merge): Column =
    replace(rep, lit(s" ${m.lhs}  ${m.rhs} "), lit(s" ${m.lhs}${m.rhs} "))

  /** The padded representation of `word` after the whole merge list —
    * a left fold of plain `replace` calls (codegen'd, no UDF).
    */
  def appliedRep(word: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.rank).foldLeft(padded(word))(applyOne)

  /** The token array of `word` under `merges`. */
  def tokens(word: Column, merges: Seq[Merge]): Column =
    split(trim(appliedRep(word, merges)), "  ")

  /** The token COUNT of `word` under `merges`. */
  def tokenCount(word: Column, merges: Seq[Merge]): Column =
    size(tokens(word, merges))

  /** Train `numMerges` merges on the corpus.
    *
    * Two paths behind one contract, chosen by the SIZE of the
    * word-frequency vocabulary summary (measured off the materialized
    * round-0 table, so the decision costs one tiny aggregate):
    *
    *   - **Driver-local** (vocabulary ≤ `localMaxWords` rows AND
    *     ≤ `localMaxChars` total characters): collect `(word, freq)`
    *     once and run every merge round in [[trainMergesLocal]]. The
    *     distributed loop launches ONE Spark job per merge, and at
    *     production vocabularies (32k–100k merges) that is tens of
    *     thousands of sequential scheduler round-trips — days of
    *     latency even though each round's aggregate is cheap. The
    *     vocabulary summary is orders of magnitude smaller than the
    *     corpus (it already fits the driver whenever it fits one
    *     aggregate buffer), and the local trainer uses the SAME
    *     (count DESC, lhs, rhs) total-order argmax over the same
    *     leftmost-greedy merge semantics, so the merge list is
    *     IDENTICAL (asserted path-vs-path in BpeSpec). Default guards:
    *     1M words / 32M chars ≈ low-single-GB driver heap, far above
    *     any natural-language vocabulary.
    *
    *   - **Distributed fallback** (vocabulary past the guards): each
    *     round aggregates adjacent-pair counts over the current
    *     vocabulary, picks the (count DESC, lhs, rhs) argmax — one row
    *     of driver state — and rewrites the representations with one
    *     `replace`. Rounds materialize through
    *     [[graft.core.Buffers.materializer]] so
    *     the LINEAGE is truly one round deep — a bare persist caches
    *     data but leaves every previous round nested inside the logical
    *     plan, and at 32 merges over the 20× stress corpus the
    *     per-action AQE plan-string construction alone OOM'd the driver
    *     (found round 7; the fixpoint operators had the same lesson).
    *     `checkpointDir` selects the executor-loss-reliable parquet
    *     rounds, per the materializer contract.
    *
    * Both paths stop early if the vocabulary is fully merged.
    */
  def trainMerges(docs: DataFrame, numMerges: Int,
      textCol: String = "text",
      checkpointDir: Option[String] = None,
      localMaxWords: Long = 1000000L,
      localMaxChars: Long = 32000000L): Seq[Merge] = {
    require(numMerges >= 1, s"trainMerges: numMerges must be >= 1, got $numMerges")
    val materialize = Buffers.materializer(checkpointDir)
    val out = scala.collection.mutable.ArrayBuffer[Merge]()
    var vocab = materialize(
      wordVocab(docs, textCol).withColumn("rep", padded(col("word"))),
      "bpe_vocab_0")
    try {
      val stats = vocab.agg(count(lit(1)).as("n"),
        coalesce(sum(length(col("word"))), lit(0L)).as("chars")).head()
      if (stats.getLong(0) <= localMaxWords &&
          stats.getLong(1) <= localMaxChars) {
        val rows = vocab.select(col("word"), col("freq")).collect()
          .map(r => (r.getString(0), r.getLong(1)))
        return trainMergesLocal(rows, numMerges)
      }
      var k = 1
      var exhausted = false
      while (k <= numMerges && !exhausted) {
        // rep → token list → adjacent pairs, weighted by word frequency;
        // argmax with a total-order tie-break = one bounded driver row
        val top = vocab
          .selectExpr("freq", "split(trim(rep), '  ') AS t")
          .where(size(col("t")) >= 2)
          .selectExpr("freq",
            "explode(transform(slice(t, 1, size(t) - 1), " +
              "(x, i) -> struct(x AS lhs, t[i + 1] AS rhs))) AS p")
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum("freq").as("cnt"))
          .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val m = Merge(k, top(0).getString(0), top(0).getString(1))
          out += m
          // materialize (eager) BEFORE dropping the parent round's blocks
          val next = materialize(
            vocab.withColumn("rep", applyOne(col("rep"), m)), s"bpe_vocab_$k")
          Buffers.release(vocab)
          vocab = next
          k += 1
        }
      }
    } finally Buffers.release(vocab)
    out.toSeq
  }

  /** Driver-local BPE training over a collected `(word, freq)`
    * vocabulary — merge-for-merge identical to the distributed loop:
    * pair counts weight every adjacent position by word frequency
    * (so "aaaa" contributes (a,a) three times), the winner is the
    * (count DESC, lhs ASC, rhs ASC) argmax (ASCII `[a-z]+` symbols, so
    * Java string order equals Spark's UTF-8 binary order), and a merge
    * applies leftmost-greedy non-overlapping — the token-list semantics
    * of the padded-string `replace` pass.
    *
    * Per-round cost is proportional to the words CONTAINING the merged
    * pair, not the vocabulary: pair counts and a pair→word-set index
    * are maintained incrementally (remove the affected words'
    * contributions, rewrite them, re-add), which is what makes 32k+
    * merge productions minutes of driver CPU instead of days of
    * scheduler latency. The argmax is a full scan of the live pair map
    * — pair-vocabulary sized, bounded by total characters.
    */
  private[operators] def trainMergesLocal(vocab: Array[(String, Long)],
      numMerges: Int): Seq[Merge] = {
    import scala.collection.mutable
    val reps: Array[Array[String]] =
      vocab.map { case (w, _) => w.map(_.toString).toArray }
    val freqs: Array[Long] = vocab.map(_._2)
    val pairCounts = mutable.HashMap.empty[(String, String), Long]
    val occurs = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def scan(i: Int, sign: Long): Unit = {
      val t = reps(i); val f = freqs(i) * sign
      var j = 0
      while (j < t.length - 1) {
        val p = (t(j), t(j + 1))
        val c = pairCounts.getOrElse(p, 0L) + f
        if (c == 0L) { pairCounts.remove(p); occurs.remove(p) }
        else {
          pairCounts.update(p, c)
          if (sign > 0) occurs.getOrElseUpdate(p, mutable.BitSet.empty) += i
          else occurs.get(p).foreach(_ -= i)
        }
        j += 1
      }
    }
    var i = 0
    while (i < reps.length) { scan(i, 1L); i += 1 }
    val out = mutable.ArrayBuffer[Merge]()
    var k = 1
    var done = false
    while (k <= numMerges && !done) {
      var bestP: (String, String) = null
      var bestC = 0L
      for ((p, c) <- pairCounts)
        if (bestP == null || c > bestC || (c == bestC &&
            (p._1 < bestP._1 || (p._1 == bestP._1 && p._2 < bestP._2)))) {
          bestP = p; bestC = c
        }
      if (bestP == null) done = true
      else {
        val (lhs, rhs) = bestP
        out += Merge(k, lhs, rhs)
        val merged = lhs + rhs
        val affected = occurs(bestP).toArray // snapshot before mutation
        affected.foreach(scan(_, -1L))
        affected.foreach { w =>
          val t = reps(w)
          val nw = mutable.ArrayBuffer[String]()
          var j = 0
          while (j < t.length) {
            if (j < t.length - 1 && t(j) == lhs && t(j + 1) == rhs) {
              nw += merged; j += 2
            } else { nw += t(j); j += 1 }
          }
          reps(w) = nw.toArray
        }
        affected.foreach(scan(_, 1L))
        k += 1
      }
    }
    out.toSeq
  }

  /** Persist a trained merge list as a managed table (rank, lhs, rhs)
    * with the shared [[graft.sources.IndexSpec]] parameter guard (spec
    * written FIRST — the family-wide ordering contract). Like the other
    * index families: build once, [[loadMerges]] many.
    */
  def buildMergesTable(docs: DataFrame, table: String, numMerges: Int,
      textCol: String = "text"): Seq[Merge] = {
    val merges = trainMerges(docs, numMerges, textCol)
    saveMerges(docs.sparkSession, merges, table, numMerges)
    merges
  }

  /** Persist an ALREADY-TRAINED merge list under the same
    * spec-then-table contract as [[buildMergesTable]] — for pipelines
    * that trained the tokenizer as one stage of a larger build and only
    * need the persistence half (the incremental corpus build freezes
    * its v1 tokenizer this way). [[loadMerges]] round-trips it.
    */
  def saveMerges(spark: SparkSession, merges: Seq[Merge], table: String,
      numMerges: Int): Unit = {
    import spark.implicits._
    graft.sources.IndexSpec.write(
      Seq((numMerges, merges.size)).toDF("num_merges", "trained_merges"),
      table)
    graft.sources.Sinks.saveTable(
      merges.map(m => (m.rank, m.lhs, m.rhs)).toDF("rank", "lhs", "rhs"),
      table)
  }

  /** Load a persisted merge list, spec-guarded: a table whose spec is
    * missing (half-built) or whose row count disagrees with the spec
    * throws instead of silently tokenizing with a truncated merge list
    * — the same loud-failure contract as the dedup index probes.
    */
  def loadMerges(spark: SparkSession, table: String): Seq[Merge] = {
    val spec = graft.sources.IndexSpec.readRequired(spark, table)
    val expected = spec.getAs[Int]("trained_merges")
    // bounded driver state: numMerges rows, centroid-sized
    val rows = spark.table(table)
      .orderBy("rank")
      .collect()
      .map(r => Merge(r.getAs[Int]("rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs")))
    require(rows.length == expected,
      s"loadMerges: $table holds ${rows.length} merges but its spec " +
        s"says $expected — partial write; rebuild with buildMergesTable")
    rows.toSeq
  }

  /** Per-language token accounting under a merge list: (lang, n_docs,
    * sum_tokens, avg_tokens). Token counts are computed once per
    * DISTINCT word and joined back to the exploded word stream — the
    * expression chain runs |vocab| times, not |corpus| times.
    */
  def tokenStatsByLang(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val wtc = wordVocab(docs).select(col("word"),
      tokenCount(col("word"), merges).as("tc"))
    val docWords = docs.select(col("lang"),
      explode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+"), lit(0))).as("word"))
    val sums = docWords.join(wtc, Seq("word"))
      .groupBy("lang").agg(sum("tc").as("sum_tokens"))
    val nDocs = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    sums.join(nDocs, Seq("lang"))
      .select(col("lang"), col("n_docs"), col("sum_tokens"),
        round(col("sum_tokens").cast("double") / col("n_docs"), 4)
          .as("avg_tokens"))
  }

  /** The learned vocabulary report: every surviving token with its
    * total corpus occurrence count, heaviest first — what a tokenizer
    * card publishes. Weighted by word frequency so the sum over tokens
    * equals the corpus token count.
    */
  def vocabReport(docs: DataFrame, merges: Seq[Merge], topN: Int): DataFrame =
    wordVocab(docs)
      .select(explode(tokens(col("word"), merges)).as("token"), col("freq"))
      .groupBy("token").agg(sum("freq").as("total_count"))
      .orderBy(col("total_count").desc, col("token"))
      .limit(topN)

  /** Per-document token counts under `merges` — the production
    * replacement for whitespace counts in the budget operators
    * (packing, budget-select, quantiles). Tokenization happens per
    * DISTINCT word; the per-occurrence stage is one word-keyed join +
    * a per-doc sum. Docs with no `[a-z]+` words count 0.
    */
  def docTokenCounts(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val wtc = wordVocab(docs).select(col("word"),
      tokenCount(col("word"), merges).cast("long").as("tc"))
    val sums = docs.select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+"), lit(0))).as("word"))
      .join(wtc, Seq("word"))
      .groupBy("doc_id").agg(sum(col("tc")).as("n"))
    docs.select(col("doc_id")).join(sums, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n"), lit(0L)).as("n_tokens"))
  }

  /** Frequency-ranked token-id table under `merges`: 1-based id by
    * (total occurrence count DESC, token ASC) — the id convention real
    * tokenizers publish (hot tokens get small ids). The rank is the
    * distributed two-pass [[Relational.withRowIndex]] over a
    * range-partitioned sort, never a single-reducer window; the token
    * vocabulary is distinct-token sized, tiny next to the corpus.
    */
  def tokenIds(docs: DataFrame, merges: Seq[Merge]): DataFrame =
    Relational.withRowIndex(
      wordVocab(docs)
        .select(explode(tokens(col("word"), merges)).as("token"),
          col("freq"))
        .groupBy("token").agg(sum("freq").as("total_count"))
        .orderBy(col("total_count").desc, col("token")),
      "__r")
      .select(col("token"), (col("__r") + 1).as("id"))

  /** Encode every document to its token-ID sequence — the actual
    * training-data export step the counting operators approximate.
    * Tokenization happens per DISTINCT word (the vocabulary join
    * pattern of [[tokenStatsByLang]]); per-occurrence work is only the
    * positional explode and the id join, and the sequence reassembles
    * by (word position, token position) inside a per-doc aggregate.
    * Docs with no `[a-z]+` words encode to the empty sequence.
    */
  def encodeDocs(docs: DataFrame, merges: Seq[Merge]): DataFrame =
    assembleEncoding(docs, merges, tokenIds(docs, merges),
      frozenVocab = false)

  /** [[encodeDocs]] under a FROZEN tokenizer: both the merge list AND
    * the token-id table come from a previously-trained vocabulary
    * instead of being re-derived from `docs` — the incremental corpus
    * build's contract, where a delta crawl must encode into the SAME id
    * space as the standing corpus (re-ranking ids over the delta would
    * silently renumber every token). New words are tokenized by
    * applying the frozen merges (a pure function of the word); a token
    * with no id in the frozen table — a character the training corpus
    * never saw, or a merge output later merges fully consumed there —
    * raises per row rather than dropping tokens silently. Remedy:
    * retrain (full [[Pipeline.corpusBuildWithState]]).
    */
  def encodeDocsFrozen(docs: DataFrame, merges: Seq[Merge],
      ids: DataFrame): DataFrame =
    assembleEncoding(docs, merges, ids.select("token", "id"),
      frozenVocab = true)

  private def assembleEncoding(docs: DataFrame, merges: Seq[Merge],
      ids: DataFrame, frozenVocab: Boolean): DataFrame = {
    // per-DISTINCT-WORD id sequence first (vocabulary-sized): the
    // token-level explode+join never touches per-occurrence rows, so
    // the per-occurrence stage below is one word-keyed join + a flatten
    // — ~5× fewer shuffled rows than token-level assembly on real BPE
    val wordTokens = wordVocab(docs)
      .select(col("word"),
        posexplode(tokens(col("word"), merges)).as(Seq("tpos", "token")))
    val withIds =
      if (frozenVocab)
        wordTokens.join(ids, Seq("token"), "left")
          .withColumn("id", coalesce(col("id"), raise_error(concat(
            lit("encodeDocsFrozen: token '"), col("token"),
            lit("' (in word '"), col("word"),
            lit("') has no id in the frozen vocabulary — the training " +
              "corpus never produced it; retrain the tokenizer")))))
      else wordTokens.join(ids, Seq("token"))
    val wordIds = withIds
      .groupBy("word")
      .agg(transform(
        array_sort(collect_list(struct(col("tpos"), col("id")))),
        s => s.getField("id")).as("wids"))
    val docWords = docs.select(col("doc_id"),
      posexplode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+"), lit(0))).as(Seq("wpos", "word")))
    val encoded = docWords.join(wordIds, Seq("word"))
      .groupBy("doc_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("wpos"), col("wids")))),
        s => s.getField("wids"))).as("ids"))
    docs.select(col("doc_id")).join(encoded, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ids"), array().cast("array<bigint>")).as("ids"))
      .withColumn("n_tokens", size(col("ids")).cast("long"))
  }

  /** The trainer-facing EXPORT stage: each [[Relational.packSized]] bin's
    * documents concatenated (doc_id order) into ONE training sequence of
    * token ids with `eosId` after every document — what actually feeds a
    * next-token-prediction trainer, completing the chain
    * [[encodeDocs]] → pack → sequence. Documents are weighted
    * `n_tokens + 1` (the EOS belongs to its document), so bin budgets
    * account for the separators they will carry. `eosId` defaults to 0 —
    * [[tokenIds]] ranks are 1-based, so 0 never collides with a real
    * token. Output: (bin_id, n_docs, input_ids, doc_lens, n_tokens) —
    * `doc_lens` is each document's EOS-inclusive length in bin order,
    * the boundary record a trainer needs to reset attention across
    * documents inside one packed sequence (offsets are its prefix sum).
    *
    * Scale shape: encoding is vocabulary-keyed (see [[encodeDocs]]),
    * bin assignment is the two-pass distributed prefix sum (no global
    * window), and the final assembly is one groupBy(bin_id) whose
    * per-group state is budget-bounded — a bin holds ~budgetTokens ids
    * regardless of corpus size.
    */
  def packedSequences(docs: DataFrame, merges: Seq[Merge],
      budgetTokens: Long = 2048, eosId: Long = 0L): DataFrame =
    packedSequencesFrom(encodeDocs(docs, merges), budgetTokens, eosId)

  /** Persist the ENCODED corpus — (doc_id, ids, n_tokens) under a merge
    * list — as a managed table: the tokenized-corpus artifact a real
    * pipeline materializes ONCE and then exports from many times
    * (different budgets, different splits) without re-running the
    * encode joins. The spec records the merge count and the merges
    * table it was encoded under, so an export against a retrained
    * tokenizer fails loudly instead of silently mixing id spaces
    * (same contract as every persisted index family).
    */
  def buildEncodedTable(docs: DataFrame, mergesTable: String,
      table: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val merges = loadMerges(spark, mergesTable)
    graft.sources.IndexSpec.write(
      Seq((merges.size, mergesTable, mergesDigest(merges)))
        .toDF("n_merges", "merges_table", "merges_md5"),
      table)
    graft.sources.Sinks.saveTable(encodeDocs(docs, merges), table)
  }

  /** md5 over the ordered merge list — the tokenizer identity the
    * encoded-corpus spec pins, so even a RETRAINED tokenizer under the
    * same table name (same size, different merges → different id
    * space) is caught, not just a mistyped name. Fields join on
    * \u0001 and merges on \u0002 — symbols are `[a-z]+`, so the
    * serialization is collision-free (no separator and (1,"ab","c")
    * vs (1,"a","bc") would hash identically).
    */
  private[graft] def mergesDigest(merges: Seq[Merge]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(merges.sortBy(_.rank)
      .map(m => s"${m.rank}\u0001${m.lhs}\u0001${m.rhs}")
      .mkString("\u0002").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Read a persisted encoded corpus, spec-guarded: `mergesTable` must
    * be the one the encoding was built under AND still hold the exact
    * merge list it held at encode time (digest match — see
    * [[buildEncodedTable]]).
    */
  def readEncodedTable(spark: SparkSession, table: String,
      mergesTable: String): DataFrame = {
    val spec = graft.sources.IndexSpec.readRequired(spark, table)
    require(spec.getString(1) == mergesTable,
      s"readEncodedTable: $table was encoded under merges table " +
        s"'${spec.getString(1)}', not '$mergesTable' — token ids from " +
        "different tokenizers must never mix")
    val merges = loadMerges(spark, mergesTable)
    val current = mergesDigest(merges)
    if (spec.getString(2) != current) {
      // disambiguate "retrained tokenizer" from "digest format upgrade":
      // specs written before the separator fix (round 8) hashed the
      // merge list WITHOUT field separators — if the stored digest
      // matches that legacy serialization of the CURRENT merge list,
      // the tokenizer is unchanged and only the spec format moved
      val legacy = {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.digest(merges.sortBy(_.rank)
          .map(m => s"${m.rank}${m.lhs}${m.rhs}")
          .mkString("").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      }
      if (spec.getString(2) == legacy)
        throw new IllegalArgumentException(
          s"readEncodedTable: $table's spec carries a legacy-format " +
            "digest (pre-separator-fix serialization of the SAME merge " +
            "list) — the tokenizer was NOT retrained; re-run " +
            "buildEncodedTable once to refresh the spec")
      else
        throw new IllegalArgumentException(
          s"readEncodedTable: merges table $mergesTable no longer " +
            s"holds the merge list $table was encoded under (digest " +
            s"${spec.getString(2)} vs $current) — the tokenizer was " +
            "retrained; rebuild the encoded table")
    }
    spark.table(table)
  }

  /** Split over-long encoded documents into `maxTokens`-sized chunks —
    * the context-window pre-pass [[packedSequencesFrom]] needs, since
    * the packer deliberately never splits a document (a doc longer than
    * the training context must be chunked or dropped BEFORE packing;
    * silently truncating it is the one thing an export must not do).
    * Output: (doc_id, chunk_idx, ids, n_tokens), chunk_idx 0-based in
    * token order; every chunk is ≤ maxTokens and chunks concatenate
    * back to the document exactly (asserted in BpeSpec). A document
    * with an empty encoding keeps one empty chunk — row-per-doc
    * accounting survives the pass. Pure per-row projection + explode:
    * no shuffle, the token-explode scale every word-level operator
    * already pays.
    */
  def chunkEncoded(enc: DataFrame, maxTokens: Int): DataFrame = {
    require(maxTokens > 0, s"chunkEncoded: maxTokens must be > 0, got $maxTokens")
    enc.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0),
          greatest(ceil(size(col("ids")) / maxTokens.toDouble)
            .cast("int") - 1, lit(0))),
        i => slice(col("ids"), i * maxTokens + 1, lit(maxTokens))))
        .as(Seq("chunk_idx", "ids")))
      .withColumn("n_tokens", size(col("ids")).cast("long"))
  }

  /** [[packedSequences]] over an ALREADY-ENCODED corpus frame
    * (doc_id, ids, n_tokens) — the encode-once/export-many path
    * (pair with [[buildEncodedTable]]/[[readEncodedTable]]).
    */
  def packedSequencesFrom(enc: DataFrame,
      budgetTokens: Long = 2048, eosId: Long = 0L): DataFrame = {
    val bins = Relational.packSized(
      enc.select(col("doc_id"), (col("n_tokens") + 1L).as("n_tokens")),
      budgetTokens)
    enc.join(bins.select("doc_id", "bin_id"), Seq("doc_id"))
      .withColumn("__ids_eos", concat(col("ids"), array(lit(eosId))))
      .groupBy("bin_id")
      .agg(
        count(lit(1)).as("n_docs"),
        array_sort(collect_list(struct(col("doc_id"), col("__ids_eos"))))
          .as("__sorted"))
      .select(
        col("bin_id"), col("n_docs"),
        flatten(transform(col("__sorted"), s => s.getField("__ids_eos")))
          .as("input_ids"),
        transform(col("__sorted"),
          s => size(s.getField("__ids_eos")).cast("long")).as("doc_lens"))
      .withColumn("n_tokens", size(col("input_ids")).cast("long"))
  }
}
