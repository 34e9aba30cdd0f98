package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Buffers

/** Text-analysis operators for large-scale training-data pipelines:
  * quality scoring, token counting, language stats, language-ID heuristic,
  * and document fingerprinting.
  *
  * All per-document features are pure column expressions (array functions +
  * lambdas), so the whole pipeline is one codegen'd projection over the
  * scan — embarrassingly parallel, zero shuffles until the final aggregate
  * (if any). That is the shape that survives 100 TB.
  */
object TextAnalysis {

  private val Stopwords = Seq("the", "a", "an", "and", "of", "to", "in", "is")

  /** Shared whitespace tokenizer — the single tokenization used across all
    * text operators (TextOps + TextAnalysis), so token counts agree
    * corpus-wide: split on runs of whitespace, drop empty tokens.
    */
  private[graft] def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= "")

  /** Quality features per document: token count, average token length
    * (over token characters only — punctuation outside tokens excluded),
    * stopword ratio, punctuation ratio, uppercase ratio. The building
    * blocks of a C4/Gopher-style quality filter. Divisions are guarded:
    * empty/whitespace-only text yields null ratios instead of div-by-zero.
    */
  def qualityFeatures(documents: DataFrame): DataFrame = {
    // tokenize ONCE into an attribute; the features below reference the
    // materialized array instead of re-running the regex tokenizer per
    // feature (see the expression-duplication note in Dedup)
    val withToks = Dedup.spread(documents).select(
      col("doc_id"), col("text"), tokens(col("text")).as("toks"))
    val toks = col("toks")
    val nTokens = size(toks).cast("long")
    val tokChars = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val nStop = size(filter(toks,
      t => lower(t).isInCollection(Stopwords))).cast("long")
    val charLen = length(col("text")).cast("double")
    val nPunct =
      charLen - length(regexp_replace(col("text"), "[\\p{Punct}]", ""))
    val nUpper =
      charLen - length(regexp_replace(col("text"), "[A-Z]", ""))
    withToks.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      when(nTokens > 0,
        round(tokChars.cast("double") / nTokens.cast("double"), 4))
        .as("avg_token_len"),
      when(nTokens > 0,
        round(nStop.cast("double") / nTokens.cast("double"), 4))
        .as("stopword_ratio"),
      when(charLen > 0, round(nPunct / charLen, 4)).as("punct_ratio"),
      when(charLen > 0, round(nUpper / charLen, 4)).as("upper_ratio"))
  }

  /** Gopher-style repetition and symbol signals per document — the
    * filters that catch boilerplate/spam which length-based quality
    * features miss: duplicate-token ratio, top-bigram frequency ratio,
    * and symbol-character ratio (chars outside [A-Za-z0-9\s]; non-Latin
    * scripts count as symbols — tune the class per corpus).
    *
    * Everything is a pure per-row column expression: even the top-bigram
    * count is a single fold over the SORTED bigram array (the max run
    * length of equal neighbors), so the whole operator is one projection
    * over the scan — no explode, no shuffle, the shape that survives
    * 100 TB.
    */
  def repetitionSignals(documents: DataFrame): DataFrame = {
    // tokenize and build bigrams ONCE each, as materialized attributes
    // (expression-duplication note in Dedup)
    val withToks = Dedup.spread(documents).select(
      col("doc_id"), col("text"), tokens(col("text")).as("toks"))
    val withGrams = withToks.select(
      col("doc_id"), col("text"), col("toks"),
      when(size(col("toks")) >= 2,
        expr("transform(sequence(1, size(toks)-1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i+1)))"))
        .otherwise(expr("array()")).as("grams"))
    val toks = col("toks")
    val nTokens = size(toks).cast("long")
    val nDistinct = size(array_distinct(toks)).cast("long")
    val nGrams = size(col("grams"))
    // top bigram count = longest run of equal neighbors in the sorted
    // gram array: one O(g log g) pass per row, no per-doc histogram agg
    val topGram = aggregate(
      array_sort(col("grams")),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val charLen = length(col("text")).cast("double")
    val nSym = length(
      regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("double")
    withGrams.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      when(nTokens > 0,
        round(lit(1.0) - nDistinct.cast("double") / nTokens.cast("double"), 4))
        .as("dup_token_ratio"),
      when(nGrams > 0,
        round(topGram.cast("double") / nGrams.cast("double"), 4))
        .as("top_bigram_ratio"),
      when(charLen > 0, round(nSym / charLen, 4)).as("symbol_ratio"))
  }

  /** Token counts aggregated per language — the "how many tokens do I have
    * per shard" question every dataset card needs. Whitespace tokenizer
    * plus a BPE-ish subword proxy (4 chars ≈ 1 token) for comparison.
    */
  def tokenStatsByLang(documents: DataFrame): DataFrame = {
    val nTokens = size(tokens(col("text"))).cast("long")
    documents
      .groupBy("lang")
      .agg(
        sum(nTokens).as("total_tokens"),
        round(sum(nTokens).cast("double") / count(lit(1)), 4)
          .as("avg_tokens_per_doc"),
        sum(ceil(length(col("text")).cast("double") / 4.0).cast("long"))
          .as("approx_bpe_tokens"),
        count(lit(1)).as("n_docs"))
  }

  /** Token-length distribution per language — the percentile block of a
    * dataset card (p50/p90/p99 document lengths drive packing budgets and
    * truncation limits). `exact = false` (default) uses
    * `approx_percentile`, a mergeable fixed-size sketch — the only shape
    * that survives a 100 TB corpus, since exact percentile buffers every
    * value of a group on one reducer. The exact form exists for bounded
    * inputs and is what the DuckDB oracle checks; tests assert the sketch
    * lands within tolerance of it.
    */
  def tokenQuantiles(documents: DataFrame, exact: Boolean = false): DataFrame = {
    val sized = Dedup.spread(documents)
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("n"))
    val fn = if (exact) "percentile" else "approx_percentile"
    sized.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(expr(s"$fn(n, 0.5)").cast("double"), 4).as("p50_tokens"),
        round(expr(s"$fn(n, 0.9)").cast("double"), 4).as("p90_tokens"),
        round(expr(s"$fn(n, 0.99)").cast("double"), 4).as("p99_tokens"),
        max("n").as("max_tokens"))
  }

  /** Corpus stats per (lang, source) — multi-key agg A8 over the docs table. */
  def corpusStats(documents: DataFrame): DataFrame =
    documents
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum("n_chars").cast("double") / count(lit(1)), 4)
          .as("avg_chars"),
        sum("n_chars").as("total_chars"))

  /** Distribution-shift audit per source: token-distribution entropy and
    * KL divergence against the whole-corpus token distribution. The
    * drift detector a curation pipeline runs per ingest source — a
    * source whose KL spikes is drawing from a different distribution
    * than the corpus (new domain, new language, spam injection), and a
    * source whose entropy collapses is template/boilerplate-heavy.
    * KL(pₛ‖q) is finite by construction: every source token is a corpus
    * token, so q's support covers pₛ's.
    *
    * Plan: one tokenize+explode scan into a (source, word) count — the
    * only full-width shuffle; the corpus-marginal word counts and the
    * per-source totals are both re-aggregations OF that table (the
    * shared Exchange is reused, not recomputed), joined back on their
    * own keys. Per-word log terms are quantized to DECIMAL(30,12) and
    * summed exactly, so the result is independent of partitioning and
    * engine summation order (double sums are order-sensitive; decimal
    * sums are not) — same convention as the k-means centroid oracle.
    */
  def sourceShift(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sw = Dedup.spread(documents)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
    val perSource = sw.groupBy("source")
      .agg(sum("c").as("n_s"), count(lit(1)).as("d_s"))
    val perWord = sw.groupBy("word").agg(sum("c").as("c_w"))
    val total = perSource.agg(sum("n_s").as("n_tot"))
    val cD = col("c").cast("double")
    val klTerm = cD * log(
      (cD * col("n_tot").cast("double")) /
        (col("c_w").cast("double") * col("n_s").cast("double")))
    val hTerm = cD * log(cD)
    sw.join(perWord, "word")
      .join(broadcast(perSource), "source")
      .crossJoin(broadcast(total))
      .groupBy("source")
      .agg(
        sum(klTerm.cast(DecimalType(30, 12))).as("kl_sum"),
        sum(hTerm.cast(DecimalType(30, 12))).as("h_sum"))
      .join(broadcast(perSource), "source")
      .select(
        col("source"),
        col("n_s").as("n_tokens"),
        col("d_s").as("n_distinct"),
        round(log(col("n_s").cast("double")) -
          col("h_sum").cast("double") / col("n_s").cast("double"), 6)
          .as("entropy"),
        round(col("kl_sum").cast("double") / col("n_s").cast("double"), 6)
          .as("kl_vs_corpus"))
  }

  /** Corpus-fluency score per document: the mean log-probability of the
    * document's token bigrams under the corpus's own MLE bigram model,
    * P(w₂|w₁) = c(w₁w₂)/c(w₁·). The self-scored fluency filter — word
    * salad, shuffled scrapes, and token-soup spam score far below prose
    * because their transitions are rare IN THIS corpus, with no external
    * language model needed. Scores are ≤ 0 (0 = every transition fully
    * predictable); docs with fewer than two tokens get a null score.
    * MLE needs no smoothing here: every scored bigram occurs in the
    * corpus at least once (it contributes to its own counts).
    *
    * Plan: one bigram explode (bag semantics — every occurrence scores),
    * one bigram-count aggregate, a prefix-marginal re-aggregation OF
    * that count table, two keyed joins back, one per-doc rollup.
    * Per-occurrence log terms quantized to 10⁻⁹-unit LONGs, summed
    * exactly — the usual determinism convention.
    */
  /** CCNet-style reference-LM scoring: train an add-k-smoothed bigram
    * model on `refDocs`, score every `candidates` doc by its mean
    * NEGATIVE log probability (lower = more reference-like) — the
    * cross-corpus quality filter: [[fluencyScores]] grades a doc under
    * its OWN corpus's statistics, this grades a candidate crawl under a
    * trusted reference's (the CCNet recipe: Wikipedia-LM perplexity
    * over Common Crawl). Smoothing is add-k over the reference unigram
    * vocabulary V: P(w2|w1) = (c(w1,w2)+k)/(c(w1·)+k·V), so unseen
    * bigrams score finitely (1/V at an unseen prefix) instead of
    * −∞-ing the document. Candidates with < 2 tokens get NULL.
    *
    * Plan shape = [[fluencyScores]] with the count tables built from
    * the REFERENCE and the joins LEFT (absent counts read as 0): one
    * explode per side, two keyed aggregates, two keyed joins, one
    * rollup. V is one bounded driver count. Log terms follow the
    * 10⁻⁹-quantized-BIGINT determinism convention (see
    * [[scoreAgainstLm]]).
    */
  def crossPerplexity(refDocs: DataFrame, candidates: DataFrame,
      k: Double = 1.0): DataFrame = {
    val refBg = bigramsOf(refDocs)
    val cnt = refBg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val pref = cnt.groupBy("w1").agg(sum("c").as("p"))
    val v = Dedup.spread(refDocs)
      .select(explode(tokens(col("text"))).as("w"))
      .distinct().count() // one bounded driver scalar
    scoreAgainstLm(candidates, cnt, pref, v, k)
  }

  private def bigramsOf(df: DataFrame): DataFrame = Dedup.spread(df)
    .select(col("doc_id"), tokens(col("text")).as("toks"))
    .filter(size(col("toks")) >= 2)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(toks) - 1), i -> " +
        "struct(element_at(toks, i) AS w1, " +
        "element_at(toks, i + 1) AS w2))")).as("s"))
    .select(col("doc_id"), col("s.w1").as("w1"), col("s.w2").as("w2"))

  /** The LONG-wrap headroom of the 10⁻⁹-quantized per-document nll sum:
    * |ln·10⁹| ≤ ~3·10¹⁰ per bigram, so a document past ~3·10⁸ bigrams
    * could wrap the 64-bit sum SILENTLY (a wrapped nll is a plausible
    * number, not an error). [[scoreAgainstLm]] enforces it at runtime
    * with a raise_error — the loud failure the rest of the quantized
    * family favors — since the check is one comparison per document on
    * the already-aggregated row, not a per-bigram cost.
    */
  private[graft] val MaxNllBigramsPerDoc: Long = 300000000L

  /** The scoring tail shared by the inline and persisted-LM paths.
    *
    * Per-bigram log terms are 10⁻⁹-quantized to LONG and summed
    * order-free — exact 64-bit integer math both engines replay
    * identically, and a codegen'd long sum in place of the
    * DECIMAL(30,12) fold it replaces (the same discipline as the
    * k-means centroid update, on a finer grid: nll is a MEAN rounded
    * at 6 dp, so per-term quantization noise must stay well under
    * 10⁻⁶ after averaging — at 10⁻⁹ it is ≤ 5·10⁻¹⁰. Overflow bound:
    * |ln·10⁹| ≤ ~3·10¹⁰ per bigram leaves headroom for ~3·10⁸ bigrams
    * per document before a LONG sum could wrap — enforced per document
    * via [[MaxNllBigramsPerDoc]], overridable only for tests).
    */
  private[graft] def scoreAgainstLm(candidates: DataFrame, cnt: DataFrame,
      pref: DataFrame, v: Long, k: Double,
      maxBigramsPerDoc: Long = MaxNllBigramsPerDoc): DataFrame = {
    require(k > 0, s"crossPerplexity: smoothing k must be > 0, got $k")
    val perDoc = bigramsOf(candidates)
      .join(cnt, Seq("w1", "w2"), "left_outer")
      .join(pref, Seq("w1"), "left_outer")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(round(log(
          (coalesce(col("c"), lit(0L)).cast("double") + k) /
            (coalesce(col("p"), lit(0L)).cast("double") + k * v))
          * 1000000000d).cast("long")).as("s"))
    candidates.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        // wrap guard first: past the documented headroom the LONG sum
        // is garbage, so fail LOUDLY instead of publishing it (ADVICE
        // r14). One branch per doc row, after the aggregate — free.
        when(col("n_bigrams") > lit(maxBigramsPerDoc),
          raise_error(concat(lit("crossPerplexity: document "),
            col("doc_id"), lit(s" exceeds $maxBigramsPerDoc bigrams — " +
              "the 10^-9-quantized LONG nll sum could wrap silently; " +
              "split the document before scoring"))).cast("double"))
        .when(col("n_bigrams") > 0,
          round(-col("s").cast("double") / lit(1000000000d) /
            col("n_bigrams").cast("double"), 6)).as("nll"))
  }

  /** Persist the reference LM: bigram counts bucketed by their probe
    * keys (the build-once form of [[crossPerplexity]]'s reference side
    * — in the CCNet recipe the reference model IS a long-lived
    * artifact scored against every crawl). Three pieces: the count
    * table (w1, w2, c) bucketed by (w1, w2), the prefix-marginal
    * sibling `<table>__pref` (w1, p) bucketed by w1, and the spec
    * carrying the smoothing vocabulary size V — so a probe joins the
    * stored tables without re-reading a byte of reference text, and
    * the bucketed layouts keep the model side shuffle-free.
    */
  def buildLmTable(refDocs: DataFrame, table: String,
      buckets: Int = 32): Unit = {
    val spark = refDocs.sparkSession
    import spark.implicits._
    val v = Dedup.spread(refDocs)
      .select(explode(tokens(col("text"))).as("w"))
      .distinct().count()
    // spec FIRST (the IndexSpec ordering contract), then pref, then
    // the main table (probes read the main table's spec)
    graft.sources.IndexSpec.write(Seq(v).toDF("v"), table)
    Buffers.scoped(bigramsOf(refDocs).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c"))) { cnt =>
      graft.sources.Sinks.saveTablePartitioned(
        cnt.groupBy("w1").agg(sum("c").as("p")), s"${table}__pref",
        bucketBy = Some((buckets, Seq("w1"))), sortBy = Seq("w1"))
      graft.sources.Sinks.saveTablePartitioned(cnt, table,
        bucketBy = Some((buckets, Seq("w1", "w2"))),
        sortBy = Seq("w1", "w2"))
    }
  }

  /** Score candidates against a persisted reference LM — result-
    * identical to [[crossPerplexity]] over the same reference (the
    * build-once/probe-many contract; q150's oracle gate).
    */
  def crossPerplexityWithTable(candidates: DataFrame, table: String,
      k: Double = 1.0): DataFrame = {
    val spark = candidates.sparkSession
    val v = graft.sources.IndexSpec.readRequired(spark, table).getLong(0)
    require(spark.catalog.tableExists(s"${table}__pref"),
      s"crossPerplexityWithTable: $table has no __pref sibling — " +
        "half-built LM; rebuild with buildLmTable")
    scoreAgainstLm(candidates, spark.table(table),
      spark.table(s"${table}__pref"), v, k)
  }

  /** CCNet's perplexity split: per language, candidates scored against
    * the reference LM ([[crossPerplexity]]) divide into head / middle /
    * tail terciles of nll (lower nll = more reference-like; the CCNet
    * recipe trains on head+middle and drops or down-weights tail).
    * Tercile assignment is `ntile(3)` over the TOTAL order (nll,
    * doc_id) — deterministic and engine-agnostic (ANSI ntile fills the
    * first n mod 3 buckets one heavier in every engine, and the doc_id
    * tiebreak removes the only ordering freedom). Unscorable docs
    * (< 2 tokens ⇒ NULL nll) are bucketed 'unscored' OUTSIDE the
    * window — Spark sorts ascending NULLS FIRST where DuckDB defaults
    * NULLS LAST, so leaving them in the ntile would silently shift
    * every tercile boundary between engines.
    *
    * One window, partitioned by (lang, nll IS NULL) — per-partition
    * sort of the CANDIDATE set only (the reference side never enters
    * the window), which is the scored-batch size, not the corpus. The
    * null-flag in the partition key is what keeps this a SINGLE pass:
    * unscorable docs sort into their own window partition (so tercile
    * boundaries over the scorable rows are untouched) and a `when`
    * overrides their label — the earlier filter-twice-and-union shape
    * executed the whole reference-LM scoring pipeline twice per call.
    */
  def perplexityBuckets(refDocs: DataFrame,
      candidates: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = candidates.select(col("doc_id"), col("lang"))
      .join(crossPerplexity(refDocs, candidates), Seq("doc_id"))
    val w = Window.partitionBy(col("lang"), col("nll").isNull)
      .orderBy(col("nll").asc, col("doc_id").asc)
    val names = typedLit(Seq("head", "middle", "tail"))
    scored.withColumn("bucket",
      when(col("nll").isNull, lit("unscored"))
        .otherwise(element_at(names, ntile(3).over(w))))
  }

  /** DSIR-style importance weights (Xie et al., NeurIPS 2023, with the
    * hashed-n-gram features replaced by this engine's add-k bigram
    * LMs): each candidate's weight is its mean per-bigram log-ratio
    * log p_target − log p_raw = nll_raw − nll_target, scored against a
    * curated TARGET reference and a RAW-distribution reference.
    * Positive = more target-like than the raw pool; sampling ∝ the
    * exponentiated ratio is importance resampling toward the target.
    * The ratio is computed from the two 6-dp-quantized nll columns, so
    * it carries their cross-engine determinism. Both scorings share
    * one candidate set; at build-once scale run each reference through
    * [[buildLmTable]] and difference [[crossPerplexityWithTable]]
    * scores the same way.
    */
  def importanceWeights(targetRef: DataFrame, rawRef: DataFrame,
      candidates: DataFrame, k: Double = 1.0): DataFrame = {
    val t = crossPerplexity(targetRef, candidates, k)
      .withColumnRenamed("nll", "nll_target")
    val r = crossPerplexity(rawRef, candidates, k)
      .withColumnRenamed("nll", "nll_raw").drop("n_bigrams")
    t.join(r, Seq("doc_id"))
      .select(col("doc_id"), col("n_bigrams"), col("nll_target"),
        col("nll_raw"),
        round(col("nll_raw") - col("nll_target"), 6).as("log_ratio"))
  }

  def fluencyScores(documents: DataFrame): DataFrame = {
    val base = Dedup.spread(documents)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val bg = base.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> " +
          "struct(element_at(toks, i) AS w1, " +
          "element_at(toks, i + 1) AS w2))")).as("s"))
      .select(col("doc_id"), col("s.w1").as("w1"), col("s.w2").as("w2"))
    val cnt = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val pref = cnt.groupBy("w1").agg(sum("c").as("p"))
    // per-occurrence log terms in the 10⁻⁹-quantized-LONG convention
    // (see [[scoreAgainstLm]] — same grid, same overflow headroom)
    val perDoc = bg
      .join(cnt, Seq("w1", "w2"))
      .join(pref, "w1")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(round(log(col("c").cast("double") / col("p").cast("double"))
          * 1000000000d).cast("long")).as("s"))
    documents.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        // same wrap guard as [[scoreAgainstLm]]: identical grid,
        // identical ~3·10⁸-bigrams-per-doc headroom
        when(col("n_bigrams") > lit(MaxNllBigramsPerDoc),
          raise_error(concat(lit("fluencyScores: document "),
            col("doc_id"), lit(s" exceeds $MaxNllBigramsPerDoc bigrams " +
              "— the 10^-9-quantized LONG sum could wrap silently; " +
              "split the document before scoring"))).cast("double"))
        .when(col("n_bigrams") > 0,
          round(col("s").cast("double") / lit(1000000000d) /
            col("n_bigrams").cast("double"), 6)).as("fluency"))
  }

  /** Document fingerprint: md5 over whitespace-normalized lowercased text.
    * The canonical exact-dedup key — identical content with incidental
    * whitespace/case differences collapses to one fingerprint.
    */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(lower(trim(c)), "\\s+", " "))

  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      fingerprint(col("text")).as("fp"),
      length(col("text")).cast("long").as("text_len"))

  /** PII patterns, ASCII-only on purpose: the same source compiles
    * identically under Java regex (Spark codegen) and RE2 (DuckDB/most
    * scanners), so redaction is reproducible across engines — a property
    * a compliance pipeline has to prove, not assume. Each pattern is
    * deliberately conservative (low false-positive) rather than
    * exhaustive; swap in stricter ones per deployment.
    */
  private[operators] val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "[IP]"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "[SSN]"),
    ("phone", "\\+?[0-9][0-9()\\- ]{6,}[0-9]", "[PHONE]"))

  /** PII redaction: replace emails / IPv4s / SSNs / phone-shaped spans
    * with class tags, and count matches per class. Pure per-row
    * projection — no shuffle, fully codegen'd, embarrassingly parallel at
    * any scale. Counts are measured on the ORIGINAL text independently
    * per class; redaction applies the patterns in the fixed order above
    * (email first so its digits can't be half-eaten by the phone rule).
    */
  def redactPii(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pat, tag)) => regexp_replace(c, pat, tag)
    }
    documents.select(
      col("doc_id") +:
        PiiPatterns.map { case (name, pat, _) =>
          size(regexp_extract_all(col(textCol), lit(pat), lit(0)))
            .cast("long").as(s"n_$name")
        } :+
        redacted.as("redacted"): _*)
  }

  /** Language-ID heuristic: score each candidate language by stopword hits
    * and characteristic n-grams, pick argmax. A stand-in for fastText-style
    * LID with the same plan shape: per-row scoring expression, no shuffle.
    *
    * Zero marker hits in every language → "unknown" (not a confident wrong
    * guess); genuine ties break by a fixed preference order (en > es > fr >
    * de > zh), not by accidental string ordering.
    */
  private val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "que"),
    "fr" -> Seq("le", "la", "et", "les"),
    "de" -> Seq("der", "die", "und", "das"),
    "zh" -> Seq("的", "是", "了", "在"))

  private val LangTiePriority =
    Map("en" -> 5, "es" -> 4, "fr" -> 3, "de" -> 2, "zh" -> 1)

  /** Argmax language struct (score, prio, lang) over LOWERCASED tokens —
    * shared by [[languageId]] and the curation pipeline.
    */
  private[operators] def langBest(toks: Column): Column =
    greatest(LangMarkers.toSeq.sortBy(_._1).map { case (langCode, ms) =>
      struct(
        size(filter(toks, t => t.isInCollection(ms))).cast("long").as("score"),
        lit(LangTiePriority(langCode)).as("prio"),
        lit(langCode).as("lang"))
    }: _*)

  /** Predicted language from the argmax struct: unknown on zero hits. */
  private[operators] def langPredicted(best: Column): Column =
    when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("unknown"))

  def languageId(documents: DataFrame): DataFrame = {
    // one tokenize into an attribute; the five language scorers below
    // each reference the materialized array
    val withToks = Dedup.spread(documents).select(
      col("doc_id"), col("lang"), tokens(lower(col("text"))).as("toks"))
    withToks
      .withColumn("best", langBest(col("toks")))
      .select(
        col("doc_id"),
        col("lang").as("labeled_lang"),
        when(col("best.score") > 0, col("best.lang"))
          .otherwise(lit("unknown")).as("predicted_lang"),
        col("best.score").as("marker_hits"))
  }
}
