package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Buffers

/** Approximate-query sketches (SURVEY §2.4 A11–A13) with their exact twins
  * (A10/A14), matching the reference's parameters
  * (`304-streaming/spark/README.md:168-243`): HLL++ rsd ∈ {0.05, 0.1,
  * 0.01}; Bloom n=1000 fpp=0.01; CMS ε=0.01 conf=0.99 seed=10.
  *
  * HLL++ is a built-in partial aggregate (fixed-size buffer per partition,
  * merged associatively — the canonical 100-TB distinct count). Bloom and
  * CMS build distributed (treeAggregate under `df.stat`) into a driver-side
  * sketch object; both are order-independent merges, so results are
  * deterministic for a given dataset.
  */
object Sketches {

  /** A11 + A10: approximate (HLL++) and exact distinct count side by side,
    * at the reference's three rsd settings.
    *
    * The exact and approximate counts are computed in SEPARATE aggregates
    * joined at one row each: mixing `countDistinct` with non-distinct
    * aggregates makes Catalyst plan an Expand (every input row duplicated
    * per aggregate group), doubling scan+shuffle traffic. Split, the HLL
    * pass is a single map-side-partial aggregate and the exact pass a
    * plain two-phase distinct — together cheaper than one expanded pass.
    */
  def distinctCounts(lineitem: DataFrame): DataFrame = {
    val exact = lineitem.agg(
      countDistinct(col("l_partkey")).as("exact_distinct"))
    val approx = lineitem.agg(
      approx_count_distinct(col("l_partkey"), 0.05).as("approx_rsd05"),
      approx_count_distinct(col("l_partkey"), 0.1).as("approx_rsd10"),
      approx_count_distinct(col("l_partkey"), 0.01).as("approx_rsd01"))
    exact.crossJoin(approx)
  }

  /** A12: Bloom-filter membership. Builds the filter over `df[colName]`
    * distributed, then probes each candidate. Returns
    * (candidate, might_contain); false-positive rate ≤ fpp for absent keys.
    */
  def bloomMembership(
      spark: SparkSession,
      df: DataFrame,
      colName: String,
      candidates: Seq[String],
      expectedN: Long = 1000,
      fpp: Double = 0.01): DataFrame = {
    import spark.implicits._
    val bf = df.stat.bloomFilter(colName, expectedN, fpp)
    candidates.map(c => (c, bf.mightContain(c))).toDF("candidate", "might_contain")
  }

  /** A13: count-min-sketch frequency estimates for chosen keys
    * (ε=0.01, confidence=0.99, seed=10 — the reference's parameters).
    * CMS cells are exact sums (merge-order independent) so estimates are
    * deterministic; they over-count, never under-count.
    */
  def cmsFrequencies(
      spark: SparkSession,
      df: DataFrame,
      colName: String,
      keys: Seq[String],
      eps: Double = 0.01,
      confidence: Double = 0.99,
      seed: Int = 10): DataFrame = {
    import spark.implicits._
    val cms = df.stat.countMinSketch(colName, eps, confidence, seed)
    keys.map(k => (k, cms.estimateCount(k))).toDF("key", "estimate")
  }

  // ---- portable (md5/integer) sketch family -------------------------------
  //
  // The cross-engine-replayable twin of the native sketches, the
  // Dedup.simhashPortable / Similarity portable-LSH pattern: every hash
  // is the first 15 hex chars of an md5 over a tagged string, read as a
  // 60-bit non-negative integer and reduced mod the geometry — integer
  // arithmetic end to end, so DuckDB replays the whole sketch
  // table-by-table with
  //   ('0x' || substr(md5(tag || v), 1, 15))::BIGINT % m
  // and the two engines agree bit for bit. The native forms above stay
  // the production default (treeAggregate sketch objects, no explode);
  // the portable forms are the oracle-facing family, and their accuracy
  // properties (CMS over-count-never-under-count, bloom
  // no-false-negative) are asserted against the exact twins in
  // SketchesSpec.

  /** Portable CMS geometry — the reference's ε=0.01 / δ=0.01
    * (`304-streaming/spark/README.md:222-243`): width = ⌈e/ε⌉ = 272,
    * depth = ⌈ln(1/δ)⌉ = 5.
    */
  val CmsDepth = 5
  val CmsWidth = 272

  /** Portable bloom geometry — the reference's n=1000 / fpp=0.01
    * (`304-streaming/spark/README.md:197-220`):
    * m = ⌈−n·ln p / ln²2⌉ = 9586 bits, k = round(m/n·ln 2) = 7 hashes.
    */
  val BloomBits = 9586
  val BloomHashes = 7

  /** md5-derived bucket of `v` under hash index `i`: codegen'd builtins
    * end to end (md5 → substring → conv → mod), non-negative by
    * construction (60-bit value, positive modulus).
    */
  private def md5Bucket(prefix: String, i: Int, v: Column,
      mod: Int): Column =
    md5Long(prefix, i, v) % mod

  /** All `n` bucket indices of a value from ONE md5 — Kirsch–
    * Mitzenmacher double hashing (bucket_i = (h1 + i·h2) mod `mod`)
    * over the two 60-bit sub-words of md5(prefix‖v), with h2 forced
    * odd (`| 1`) so the probe sequence never degenerates to a single
    * bucket and is a full cycle mod any even table size. Replaces the
    * per-index md5 family that cost depth (CMS) / k (bloom) full md5
    * evaluations per ROW — at sf0.1 that multiplier was 11–19× the
    * native sketch latency (round-9 bench). Overflow-safe by
    * construction: h1, h2 < 2⁶⁰ and i ≤ 6, so h1 + i·h2 < 7·2⁶⁰ < 2⁶³.
    * Exactly replayable in DuckDB: `('0x'||substr(md5(x),1,15))::BIGINT`
    * and the same integer chain.
    *
    * Split as a DataFrame stage ([[kmWords]]) + a cheap per-index
    * column ([[kmBucket]]) rather than one array-of-everything
    * expression: the array feeds a Generate (explode), and GenerateExec
    * does NOT subexpression-eliminate its generator input — an inline
    * form re-evaluated the md5 and both convs per index, measurably
    * SLOWER than the per-index-md5 family it replaced. As separate
    * projections the md5/conv attributes are each referenced more than
    * once downstream, so CollapseProject leaves them materialized and
    * each row pays exactly one md5 + two convs.
    */
  private def kmWords(df: DataFrame, prefix: String,
      v: Column): DataFrame =
    df.withColumn("__kmh", md5(concat(lit(prefix), v)))
      .withColumn("__kmh1",
        conv(substring(col("__kmh"), 1, 15), 16, 10).cast("long"))
      .withColumn("__kmh2",
        conv(substring(col("__kmh"), 16, 15), 16, 10).cast("long")
          .bitwiseOR(lit(1L)))

  /** Bucket index i over [[kmWords]] output: (h1 + i·h2) mod `mod`. */
  private def kmBucket(i: Int, mod: Int): Column =
    (col("__kmh1") + lit(i.toLong) * col("__kmh2")) % mod

  /** The raw 60-bit md5-derived integer under hash index `i` — the
    * uniform word the HLL rank reads leading zeros from.
    */
  private def md5Long(prefix: String, i: Int, v: Column): Column =
    conv(substring(md5(concat(lit(s"$prefix${i}_"), v)), 1, 15), 16, 10)
      .cast("long")

  /** The portable CMS cell relation (row_i, bucket, cell): counts of
    * values landing in each of depth × width cells. ONE pass — the
    * depth-way explode partial-aggregates map-side, so the shuffle is
    * ≤ depth·width rows per partition and the result is ≤ depth·width
    * rows total regardless of input size (the 100-TB shape: constant
    * state, like the sketch object it replaces).
    *
    * Deliberately hashes PER ROW, not per distinct value: a
    * distinct/histogram pre-combine saves md5 work on low-cardinality
    * columns but its shuffle is O(distinct values) — unbounded on
    * exactly the high-cardinality inputs sketches exist for, trading
    * the constant-state contract above for a linear one. md5 per row
    * is codegen'd CPU that scales with executors; keep it.
    */
  def cmsTablePortable(df: DataFrame, colName: String,
      depth: Int = CmsDepth, width: Int = CmsWidth): DataFrame =
    kmWords(df.select(col(colName).cast("string").as("v"))
        .filter(col("v").isNotNull), "cms_", col("v"))
      .select(posexplode(array((0 until depth).map(i =>
        kmBucket(i, width)): _*)).as(Seq("row_i", "bucket")))
      .groupBy("row_i", "bucket")
      .agg(count(lit(1)).as("cell"))

  /** A13, portable form: CMS frequency estimates for `keys` — per key,
    * the min over depth rows of its cell count (0 for an empty cell).
    * Over-counts, never under-counts, exactly like the native sketch;
    * deterministic (cells are exact sums). The ≤ depth·width cell
    * relation broadcasts; the probe side is keys × depth rows.
    */
  def cmsFrequenciesPortable(spark: SparkSession, df: DataFrame,
      colName: String, keys: Seq[String], depth: Int = CmsDepth,
      width: Int = CmsWidth): DataFrame = {
    import spark.implicits._
    val probes = kmWords(keys.toDF("key"), "cms_", col("key"))
      .select(col("key"),
        posexplode(array((0 until depth).map(i =>
          kmBucket(i, width)): _*)).as(Seq("row_i", "bucket")))
    probes
      .join(broadcast(cmsTablePortable(df, colName, depth, width)),
        Seq("row_i", "bucket"), "left")
      .groupBy("key")
      .agg(min(coalesce(col("cell"), lit(0L))).as("estimate"))
  }

  /** The portable bloom's set bit positions: each value sets `k`
    * md5-derived positions in [0, m). Positions dedupe map-side (each
    * partition emits ≤ m distinct positions), so the shuffle is bounded
    * by m per partition and the result by m rows — never a
    * distinct-value shuffle, even over a high-cardinality column.
    */
  def bloomBitsPortable(df: DataFrame, colName: String,
      m: Int = BloomBits, k: Int = BloomHashes): DataFrame =
    kmWords(df.select(col(colName).cast("string").as("v"))
        .filter(col("v").isNotNull), "bloom_", col("v"))
      .select(explode(array((0 until k).map(j =>
        kmBucket(j, m)): _*)).as("pos"))
      .distinct()

  /** A12, portable form: bloom membership for `candidates` — a
    * candidate might be contained iff ALL of its k probe positions are
    * set. No false negatives by construction (a present value set
    * exactly these positions); false-positive rate ≤ fpp for the spec'd
    * geometry. The ≤ m-row bit set broadcasts against the tiny probe
    * side.
    */
  def bloomMembershipPortable(spark: SparkSession, df: DataFrame,
      colName: String, candidates: Seq[String], m: Int = BloomBits,
      k: Int = BloomHashes): DataFrame = {
    import spark.implicits._
    val probes = kmWords(candidates.toDF("candidate"), "bloom_",
        col("candidate"))
      .select(col("candidate"),
        explode(array((0 until k).map(j =>
          kmBucket(j, m)): _*)).as("pos"))
      .distinct()
    probes
      .join(broadcast(bloomBitsPortable(df, colName, m, k)
        .withColumn("present", lit(1))), Seq("pos"), "left")
      .groupBy("candidate")
      .agg((count(col("present")) === count(lit(1))).as("might_contain"))
  }

  /** Portable HLL geometry: m = 2^10 = 1024 registers
    * (rsd ≈ 1.04/√m = 3.25%, between the reference's 0.05 and 0.01
    * settings).
    */
  val HllRegs = 1024

  /** The portable HLL register relation (key, j, r): per group key, the
    * max rank over values landing in each of m registers. Two
    * independent md5 hashes per value — register index
    * j = H("hllj_")%m and rank ρ = 61 − len(bin(H("hllw_"))) (leading
    * zeros of the 60-bit word + 1; the w=0 corner maps to 60 in BOTH
    * engines, which is all a defined hash family needs). One pass, the
    * max partial-aggregates map-side, so the shuffle and the result are
    * ≤ #groups·m rows at any input size — the same constant-state shape
    * as the CMS cell table.
    */
  def hllRegistersPortable(df: DataFrame, colName: String,
      groupCol: String, m: Int = HllRegs): DataFrame =
    df.select(col(groupCol).cast("string").as("key"),
        col(colName).cast("string").as("v"))
      .filter(col("v").isNotNull && col("key").isNotNull)
      .select(col("key"),
        md5Bucket("hllj_", 0, col("v"), m).as("j"),
        (lit(61) - length(bin(md5Long("hllw_", 0, col("v"))))).as("rho"))
      .groupBy("key", "j")
      .agg(max(col("rho")).as("r"))

  /** A11, portable form: per-group HLL distinct-count estimates that a
    * SQL oracle replays exactly (the q32/q34/q37/q39 pattern — the
    * native HLL++ in [[distinctCounts]] stays the production default;
    * its registers are engine-private, which is why q36 is rows-only).
    *
    * Determinism across engines: the indicator sum Z = Σ 2^−ρ_j is kept
    * as the EXACT integer S = Σ 2^(61−ρ_j) (absent registers contribute
    * 2^61; every term is a dyadic power ≤ 2^61, summed in DECIMAL(38,0)
    * — never IEEE addition, which would be order-dependent). The
    * estimate α·m²·2^61/S is then a fixed chain of double ops on
    * identical exact inputs, and Flajolet's linear-counting branch
    * (E ≤ 2.5m with empty registers) switches on that same
    * deterministic value. Output is (key, n_set, estimate,
    * exact_distinct) — the exact twin rides along, so the oracle also
    * locks the accuracy the spec asserts.
    */
  def hllEstimatePortable(df: DataFrame, colName: String,
      groupCol: String, m: Int = HllRegs): DataFrame = {
    val regs = hllRegistersPortable(df, colName, groupCol, m)
    val exact = df.filter(col(colName).isNotNull)
      .groupBy(col(groupCol).cast("string").as("key"))
      .agg(countDistinct(col(colName)).as("exact_distinct"))
    hllEstimateFromRegs(regs, m).join(exact, Seq("key"))
  }

  /** The register-relation → (key, n_set, estimate) chain shared by the
    * inline estimator and the overlap estimator — Flajolet's harmonic
    * mean with the linear-counting small-range branch, on the EXACT
    * integer indicator sum (see [[hllEstimatePortable]]'s determinism
    * note).
    */
  private def hllEstimateFromRegs(regs: DataFrame, m: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val agg = regs.groupBy("key").agg(
      count(lit(1)).as("n_set"),
      sum(pow(lit(2.0), lit(61) - col("r")).cast(DecimalType(38, 0)))
        .as("s_present"))
    val two61 = new java.math.BigDecimal("2305843009213693952") // 2^61
    val tot = agg.withColumn("s_total",
      col("s_present") +
        // DECIMAL(10,0): m - n_set <= m, and a 4-digit decimal would
        // silently null every estimate (non-ANSI overflow cast) for
        // any register count m >= 10000; 10 digits admits m up to 2^31
        // and the × 2^61 product still fits DECIMAL(38,0) exactly
        (lit(m) - col("n_set")).cast(DecimalType(10, 0)) * lit(two61))
    val raw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble)) *
      lit(m.toDouble * m) * lit(2305843009213693952.0) /
      col("s_total").cast("double")
    val small = lit(m.toDouble) *
      log(lit(m.toDouble) / (lit(m) - col("n_set")).cast("double"))
    tot.withColumn("raw", raw)
      .withColumn("estimate",
        round(when(col("n_set") < m && col("raw") <= lit(2.5 * m), small)
          .otherwise(col("raw")), 4))
      .select(col("key"), col("n_set"), col("estimate"))
  }

  /** Corpus-overlap estimate WITHOUT a join: per group key, estimate
    * |A|, |B|, and |A ∪ B| from portable HLL registers — the union is
    * register-wise max, exactly the store fold — and read |A ∩ B| off
    * inclusion–exclusion. This is decontamination TRIAGE at 100 TB:
    * each corpus reduces to ≤ #groups·m register rows in one pass
    * (shippable, mergeable, reusable across every pairing), and the
    * overlap of any corpus pair then costs a register-relation join —
    * never a value-level join of the corpora themselves. Error is a few
    * percent of the LARGEST of the three cardinalities, so a small true
    * overlap can read as 0 (the floor) or a small spurious positive:
    * use it to rank corpus × benchmark pairs for the exact pass (q62's
    * benchmarkOverlap), not to certify zero contamination.
    *
    * Engine-portable arithmetic: the three estimates are the q153
    * deterministic chain; the inclusion–exclusion subtraction runs in
    * DECIMAL(38,6) over the 4-dp-rounded estimates (exact, floored at
    * 0), so DuckDB replays the whole relation. The exact intersection
    * rides along as the accuracy twin — verification, not the scale
    * path. Keys must appear in BOTH corpora to be emitted.
    */
  def hllOverlapPortable(a: DataFrame, b: DataFrame, valueCol: String,
      groupCol: String, m: Int = HllRegs): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // materialize each corpus's register relation (≤ #groups·m rows —
    // tiny) before deriving est_a/est_b/est_union: regsA/regsB each
    // feed both an est() and the union, and without the checkpoint
    // Spark recomputes the full corpus scan for every consumer —
    // breaking the documented "one pass per corpus" triage shape
    val regsA = Buffers.once(hllRegistersPortable(a, valueCol, groupCol, m))
    val regsB = Buffers.once(hllRegistersPortable(b, valueCol, groupCol, m))
    val regsU = regsA.unionByName(regsB)
      .groupBy("key", "j").agg(max(col("r")).as("r"))
    def est(regs: DataFrame, name: String) =
      hllEstimateFromRegs(regs, m)
        .select(col("key"), col("estimate").as(name))
    val dec = DecimalType(38, 6)
    val overlap = greatest(lit(BigDecimal(0)).cast(dec),
      col("est_a").cast(dec) + col("est_b").cast(dec)
        - col("est_union").cast(dec))
    def vals(df: DataFrame) = df
      .select(col(groupCol).cast("string").as("key"),
        col(valueCol).cast("string").as("v"))
      .filter(col("v").isNotNull && col("key").isNotNull)
      .distinct()
    val exact = vals(a).join(vals(b), Seq("key", "v"))
      .groupBy("key").agg(count(lit(1)).as("exact_overlap"))
    est(regsA, "est_a")
      .join(est(regsB, "est_b"), Seq("key"))
      .join(est(regsU, "est_union"), Seq("key"))
      .withColumn("overlap_est", overlap)
      .join(exact, Seq("key"), "left")
      .select(col("key"), col("est_a"), col("est_b"), col("est_union"),
        // exact in DECIMAL above; the final cast is a deterministic
        // representation change (4-dp quantities fit doubles exactly
        // enough for a bit-identical cross-engine read)
        col("overlap_est").cast("double").as("overlap_est"),
        coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
  }

  /** The mergeable integer-histogram relation (key, bl, idx, cnt)
    * underlying [[histogramQuantiles]]: each non-negative integer value
    * is binned by keeping its top `sigBits`+1 bits — bucket identity is
    * (bit length, truncated mantissa), so bucket width ≤ 2^(bl−sigBits−1)
    * ≤ value·2^−sigBits and the bucket order (bl, idx) IS numeric order.
    * Pure integer arithmetic end to end (bit length via `bin`, shift via
    * integer division by a power of two) — no logarithms, so the binning
    * is bit-identical in every engine and a SQL oracle replays it
    * table-by-table (the q32/q34/q37/q39/q153 portable-family pattern).
    *
    * Mergeability is trivial and total: the histogram is a counts-by-
    * bucket relation, so summing two histograms IS the histogram of the
    * concatenation — partial aggregation map-side-combines, appends fold
    * by `sum`, and state per group is ≤ (64−sigBits)·2^sigBits + 2^sigBits
    * buckets (≈ 1k at sigBits=4) at ANY input size. This is the
    * distributed-quantile shape for 100 TB: a billions-of-rows sort
    * becomes one constant-state aggregate.
    */
  def histogramBuckets(df: DataFrame, valueCol: String, groupCol: String,
      sigBits: Int = 4): DataFrame = {
    require(sigBits >= 1 && sigBits <= 20,
      s"histogramBuckets: sigBits must be in [1, 20], got $sigBits")
    val v = col(valueCol).cast("long")
    df.select(col(groupCol).cast("string").as("key"), v.as("v"))
      .filter(col("v").isNotNull && col("key").isNotNull)
      .filter(col("v") >= 0) // bit-length binning is defined on n ≥ 0
      .withColumn("bl", length(bin(col("v"))))
      // shift = max(bl − (sigBits+1), 0); 2^shift via shiftleft(1L, s)
      .withColumn("sh", greatest(col("bl") - lit(sigBits + 1), lit(0)))
      // `div`, not `/`: Spark's `/` is double division, and the binning
      // must stay integer-exact to be engine-portable
      .withColumn("idx",
        expr("v div shiftleft(cast(1 as bigint), cast(sh as int))"))
      .groupBy("key", "bl", "sh", "idx")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Approximate per-group quantiles from the portable integer
    * histogram, with the exact discrete quantile riding along as the
    * accuracy twin. For each requested percentile p the estimate is the
    * LOWER BOUND (idx·2^shift) of the first bucket whose cumulative
    * count reaches rank ⌈p·n/100⌉ — an under-estimate by strictly less
    * than 2^−sigBits of the true value (6.25% at the default sigBits=4),
    * the HdrHistogram guarantee. Rank arithmetic is pure integer
    * (⌈pn/100⌉ = (pn+99) div 100), the cumulative walk is a window over
    * the ≤ ~1k-bucket histogram partitioned by key, and the exact twin
    * is the value at that same rank in per-group sort order — every
    * step replayable in SQL, so the oracle locks both the binning AND
    * the error bound. The exact twin is the verification pass, not the
    * scale path: at 100 TB you ship the histogram alone.
    */
  def histogramQuantiles(df: DataFrame, valueCol: String, groupCol: String,
      percentiles: Seq[Int] = Seq(50, 90, 99),
      sigBits: Int = 4): DataFrame = {
    val hist = histogramBuckets(df, valueCol, groupCol, sigBits)
    joinExactTwin(quantileEstimates(hist, percentiles),
      df, valueCol, groupCol)
  }

  /** The estimate stage shared by the inline and persisted-store paths:
    * (key, p, n, rank, est) from a (key, bl, sh, idx, cnt) histogram.
    * The cumulative walk is a window over the ≤ ~1k-bucket relation
    * partitioned by key — constant work per group no matter the corpus.
    */
  private[graft] def quantileEstimates(hist: DataFrame,
      percentiles: Seq[Int]): DataFrame = {
    require(percentiles.nonEmpty &&
      percentiles.forall(p => p >= 1 && p <= 100),
      s"histogramQuantiles: percentiles must be in [1, 100]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("bl", "idx")
    val cum = hist
      .withColumn("lo",
        expr("idx * shiftleft(cast(1 as bigint), cast(sh as int))"))
      .withColumn("cum", sum(col("cnt")).over(w))
    val totals = hist.groupBy("key").agg(sum(col("cnt")).as("n"))
    val ps = percentiles.map(p => struct(lit(p.toLong).as("p")))
    val ranks = totals
      .select(col("key"), col("n"), explode(array(ps: _*)).as("q"))
      .select(col("key"), col("n"), col("q.p").as("p"))
      // ⌈p·n/100⌉ via integer `div` — never double division
      .withColumn("rank", expr("(p * n + 99) div 100"))
    ranks.join(cum, Seq("key"))
      .filter(col("cum") >= col("rank"))
      .groupBy("key", "p", "n", "rank")
      .agg(min(col("lo")).as("est"))
  }

  /** Attach the exact discrete quantile (the value at `rank` in
    * per-group sort order) to the estimates — the verification pass,
    * not the scale path: a partitioned window over the raw values,
    * exactly the sort the histogram exists to avoid at corpus scale.
    */
  private def joinExactTwin(est: DataFrame, df: DataFrame,
      valueCol: String, groupCol: String): DataFrame = {
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("v")
    val ranked = df
      .select(col(groupCol).cast("string").as("key"),
        col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull && col("key").isNotNull &&
        col("v") >= 0)
      .withColumn("rn", row_number().over(rw))
    val exact = est.select(col("key"), col("p"), col("rank"))
      .join(ranked, Seq("key"))
      .filter(col("rn") === col("rank"))
      .select(col("key"), col("p"), col("v").as("exact"))
    est.join(exact, Seq("key", "p"))
      .select(col("key"), col("p"), col("n"), col("est"), col("exact"))
  }

  /** Build the persisted QUANTILE STORE: the (key, bl, sh, idx, cnt)
    * integer histogram as a table — the third leg of the mergeable-
    * summary store family (HLL store = distinct counts, Misra–Gries
    * store = heavy hitters, histogram store = quantiles). Because a
    * histogram of a union is the bucket-wise SUM of the histograms,
    * the store folds new batches exactly (not approximately): the
    * appended store is bit-identical to one built from the concatenated
    * corpus, asserted in SketchesSpec. Spec (sig_bits, value_col,
    * key_col) persists first — the family-wide
    * [[graft.sources.IndexSpec]] contract: an append with different
    * geometry or a different tracked column must fail loudly, and a
    * half-built store (table without spec) throws on read.
    */
  def buildHistogramStore(df: DataFrame, valueCol: String,
      groupCol: String, table: String, sigBits: Int = 4): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.sources.IndexSpec.write(
      Seq((sigBits, valueCol, groupCol))
        .toDF("sig_bits", "value_col", "key_col"), table)
    graft.sources.Sinks.saveTable(
      histogramBuckets(df, valueCol, groupCol, sigBits), table)
  }

  /** Fold a new batch into the quantile store: histogram the batch at
    * the spec'd geometry, bucket-wise SUM with the stored counts (new
    * buckets appear, untouched buckets pass through), rewrite. Unlike
    * the HLL store's idempotent register-max, histogram counts ADD — a
    * replayed batch double-counts, so the streaming tier must gate on
    * batch_id like the exact-stats stores do.
    */
  def appendHistogramStore(batch: DataFrame, table: String): Unit = {
    val spark = batch.sparkSession
    val spec = graft.sources.IndexSpec.readRequired(spark, table)
    val (sigBits, valueCol, keyCol) =
      (spec.getInt(0), spec.getString(1), spec.getString(2))
    // materialize BEFORE the overwrite: the plan reads the very table
    // it replaces (≤ ~1k rows per key group — tiny)
    val merged = Buffers.once(spark.table(table)
      .unionByName(histogramBuckets(batch, valueCol, keyCol, sigBits))
      .groupBy("key", "bl", "sh", "idx")
      .agg(sum(col("cnt")).as("cnt")))
    graft.sources.Sinks.saveTable(merged, table)
  }

  /** Per-group quantile estimates straight off the persisted store —
    * the probe never touches the corpus: it reads ≤ ~1k rows per key
    * group, so quantiles over a 100-TB corpus cost a lookup once the
    * histogram exists. Same estimate chain as the inline path, so the
    * two answer identically (q156's oracle contract).
    */
  def quantilesFromStore(spark: SparkSession, table: String,
      percentiles: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    graft.sources.IndexSpec.readRequired(spark, table) // half-built guard
    quantileEstimates(spark.table(table), percentiles)
  }

  /** q156's driver shape: store-read estimates joined with the inline
    * exact twin, so the DuckDB oracle (q155's full-replay SQL) also
    * proves persisted ≡ inline.
    */
  def histogramQuantilesViaStore(df: DataFrame, valueCol: String,
      groupCol: String, table: String,
      percentiles: Seq[Int] = Seq(50, 90, 99)): DataFrame =
    joinExactTwin(
      quantilesFromStore(df.sparkSession, table, percentiles),
      df, valueCol, groupCol)

  /** Exact frequency twin for the CMS keys — groupBy count restricted to
    * the probed keys.
    */
  def exactFrequencies(df: DataFrame, colName: String, keys: Seq[String]): DataFrame =
    df.filter(col(colName).isin(keys: _*))
      .groupBy(col(colName).as("key"))
      .agg(count(lit(1)).as("cnt"))

  /** DETERMINISTIC heavy hitters: every value of `colName` with
    * frequency ≥ `minShare`·N, with its EXACT count — without ever
    * shuffling the full distinct-value set. Two passes:
    *
    *   1. one [[graft.functions.FrequentItemsAgg]] aggregate (buffer
    *      ≤ 2k entries, k = ⌈1/minShare⌉, so every qualifying value is
    *      guaranteed in the candidate set and only k-sized buffers
    *      shuffle) — also yields N from the same pass;
    *   2. exact recount of the ≤ 2k candidates (filter pushes the IN
    *      down to the scan; the groupBy shuffles candidate rows only),
    *      thresholded at ⌈minShare·N⌉.
    *
    * The candidate SET is partition-order dependent (Misra–Gries); the
    * OUTPUT is not: recall is guaranteed by the summary bound and
    * precision by the exact recount — false candidates die at the
    * threshold. At 100 TB this replaces a billions-of-keys groupBy with
    * a constant-size sketch plus a recount of ≤ 2k keys.
    *
    * Exactness note for cross-engine gates: pick `minShare` with an
    * exact binary representation (1/128, 1/512) so ⌈minShare·N⌉ is the
    * same integer in every engine.
    */
  def heavyHitters(df: DataFrame, colName: String,
      minShare: Double): DataFrame = {
    require(minShare > 0 && minShare <= 1,
      s"heavyHitters: minShare must be in (0, 1], got $minShare")
    val k = math.ceil(1.0 / minShare).toInt
    val agg = org.apache.spark.sql.functions.udaf(
      new graft.functions.FrequentItemsAgg(k))
    // bounded driver state: ≤ 2k candidate strings + one long
    val row = df.select(col(colName).cast("string").as("v"))
      .filter(col("v").isNotNull)
      .agg(agg(col("v")).as("s"))
      .selectExpr("s._1._1 AS candidates", "s._2 AS n").head()
    val candidates = row.getSeq[String](0)
    val n = row.getLong(1)
    exactRecount(df, colName, candidates, math.ceil(minShare * n).toLong)
  }

  /** Build the persisted per-key HLL CARDINALITY STORE: one row per key
    * group holding a Datasketches HLL binary over `valueCol` — the
    * sublinear sibling of [[Relational.groupStats]]/`mergeStats` for the
    * one statistic exact monoids cannot carry: distinct counts don't
    * merge (per-batch exact distincts double-count overlap), but HLL
    * sketches union losslessly (register-wise max — a deterministic
    * function of the item SET, independent of order, partitioning, or
    * batch split). So per-source distinct-fingerprint tracking updates
    * per crawl via [[appendHllStore]] without ever rescanning the
    * corpus. Keys are strata (source, lang, …) by contract — the store
    * is key-group-sized, each group a ≤ 2^lgK-register sketch.
    * Spec (lg_k, value_col) persists first, the family-wide
    * [[graft.sources.IndexSpec]] contract: an append with different
    * geometry or a different tracked column must fail loudly.
    */
  def buildHllStore(df: DataFrame, keys: Seq[String], valueCol: String,
      table: String, lgK: Int = 12): Unit = {
    require(keys.nonEmpty, "buildHllStore: need at least one key column")
    require(!keys.contains("hll"), "buildHllStore: 'hll' is reserved")
    val spark = df.sparkSession
    import spark.implicits._
    graft.sources.IndexSpec.write(
      Seq((lgK, valueCol)).toDF("lg_k", "value_col"), table)
    graft.sources.Sinks.saveTable(
      df.groupBy(keys.map(col): _*)
        .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("hll")),
      table)
  }

  /** Fold a new batch into the store: sketch the batch at the spec'd
    * geometry, union row-wise with the stored sketches per key (new keys
    * appear, untouched keys pass through), rewrite. The union is
    * idempotent for re-played batches of the SAME items (register max),
    * so the merged store equals one built from the concatenated corpus —
    * asserted exactly in SketchesSpec, not just within tolerance.
    */
  def appendHllStore(batch: DataFrame, table: String): Unit = {
    val spark = batch.sparkSession
    val spec = graft.sources.IndexSpec.readRequired(spark, table)
    val (lgK, valueCol) = (spec.getInt(0), spec.getString(1))
    val stored = spark.table(table)
    val keys = stored.columns.filter(_ != "hll").toSeq
    val batchSk = batch.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("hll"))
    // materialize the merge BEFORE the overwrite: the plan reads the
    // very table it replaces (key-group-sized state — tiny)
    val merged = Buffers.once(stored.unionByName(batchSk)
      .groupBy(keys.map(col): _*)
      .agg(hll_union_agg(col("hll"), lit(true)).as("hll")))
    graft.sources.Sinks.saveTable(merged, table)
  }

  /** Bootstrap an EMPTY HLL store (spec + zero-row table with `sample`'s
    * key column types) if absent — the streaming tier's day-one path,
    * like [[graft.operators.Dedup.ensureFingerprintIndex]]. No-op when
    * the table exists.
    */
  def ensureHllStore(sample: DataFrame, keys: Seq[String],
      valueCol: String, table: String, lgK: Int = 12): Unit =
    if (!sample.sparkSession.catalog.tableExists(table))
      buildHllStore(sample.limit(0), keys, valueCol, table, lgK)

  /** Read the store as per-key approximate distinct counts. */
  def hllEstimates(spark: SparkSession, table: String): DataFrame = {
    graft.sources.IndexSpec.readRequired(spark, table) // half-built guard
    val stored = spark.table(table)
    val keys = stored.columns.filter(_ != "hll").toSeq
    stored.select(keys.map(col) :+
      hll_sketch_estimate(col("hll")).as("n_distinct_approx"): _*)
  }

  /** The exact second pass shared by the batch and streaming heavy
    * hitters: recount ONLY the proposed candidates (a broadcastable
    * `isin`, never a distinct-key shuffle) and keep those at or above
    * `threshold`. With candidates from a Misra–Gries pass at
    * k ≥ 1/minShare the recall guarantee makes this the exact answer.
    */
  def exactRecount(df: DataFrame, colName: String,
      candidates: Seq[String], threshold: Long): DataFrame =
    df.select(col(colName).cast("string").as("value"))
      .filter(col("value").isin(candidates: _*))
      .groupBy("value")
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= threshold)
}
