package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Buffers
import graft.sources.{PersistedIndex, Sinks}

/** Similarity search over the `embeddings` table
  * (vec_id: long, embedding: array<float>, label: int).
  *
  * Two paths:
  *   - brute-force cosine top-k — the exact baseline: one scan of the
  *     corpus per query batch (queries broadcast), no index;
  *   - LSH-bucketed ANN — random-hyperplane signatures bucket the corpus;
  *     probing the query's bucket plus its Hamming-1 neighbors trades a
  *     little recall for touching only a 2^-bits slice of the corpus. This
  *     is the shape that scales: the signature is a per-row projection, the
  *     bucket lookup is a hash join on the signature key.
  *
  * All arithmetic is done in double via array lambdas
  * (`transform`/`zip_with`/`aggregate`) — codegen-friendly, no UDFs.
  */
object Similarity {

  private def toDouble(a: Column): Column = transform(a, _.cast("double"))

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity of two array<float> columns — the native codegen
    * expression (one fused loop inside whole-stage codegen; see
    * graft.functions.CosineSimilarity). Same left-to-right double
    * accumulation as the HOF form below, so results are bit-identical.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Composable higher-order-function form of cosine — works on any
    * numeric array type, but the lambdas evaluate interpreted and the
    * arrays are traversed three times. Kept as the readable reference
    * implementation; tests assert it agrees with the native expression.
    */
  def cosineHof(a: Column, b: Column): Column = {
    val ad = toDouble(a)
    val bd = toDouble(b)
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Shared scoring tail of every top-k variant: exact cosine on the
    * candidate set, ranked per query. Similarity is rounded to 6 decimals
    * BEFORE ranking so the ranking is stable across summation orders and
    * engines; ties break on vec_id. Candidates must carry
    * (q_id, q_emb, vec_id, embedding).
    */
  private def rankTopK(candidates: DataFrame, k: Int): DataFrame =
    rankScored(candidates
      .withColumn("sim", round(cosine(col("q_emb"), col("embedding")), 6)), k)

  /** Ranking tail over already-scored (q_id, vec_id, sim) rows. */
  private def rankScored(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id").asc)
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "vec_id", "sim", "rnk")
  }

  /** Score candidates BEFORE the multi-table dedup so the distinct
    * shuffle moves (q_id, vec_id, sim) scalars instead of both vector
    * payloads: a pair found in several tables is scored redundantly (a
    * few fused dot products — CPU the scan already paid for in cache
    * misses), but the shuffle shrinks by the embedding width. The score
    * is deterministic per pair, so deduping scored rows is equivalent to
    * scoring deduped rows.
    */
  private def rankDedupedCandidates(candidates: DataFrame, k: Int): DataFrame =
    rankScored(candidates
      .withColumn("sim", round(cosine(col("q_emb"), col("embedding")), 6))
      .select("q_id", "vec_id", "sim")
      .dropDuplicates("q_id", "vec_id"), k)

  /** Exact brute-force top-k: for each query vector, the k most cosine-
    * similar corpus vectors. `queries` is assumed small and is broadcast;
    * the corpus is scanned once — at 100 TB this is one full pass, the
    * correctness baseline ANN variants are measured against.
    */
  def bruteForceTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int = 10): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb")))
    rankTopK(Dedup.spread(embeddings).crossJoin(q), k)
  }

  /** Deterministic pseudo-random unit-ish hyperplanes: plane p, dim d
    * weight derived from a splitmix64-style integer mix — reproducible
    * across sessions with no RNG state.
    */
  private def planeWeight(p: Int, d: Int): Double =
    graft.functions.SignLshSignatures.planeWeight(p, d)

  /** Sign-LSH signature for one hash table: bit p = [v · plane_p > 0],
    * packed into a long. Per-row projection; the planes are plan-time
    * literal arrays, distinct per table index.
    */
  /** Readable HOF reference form of one table's sign-LSH signature; the
    * production path is the native expression (see [[tableSignatures]]),
    * which SimilaritySpec asserts agrees bit-for-bit.
    */
  def lshSignature(emb: Column, bits: Int = 8, table: Int = 0,
      dim: Int = 64): Column =
    (0 until bits).map { p =>
      val plane = array(
        (0 until dim).map(d => lit(planeWeight(table * bits + p, d))): _*)
      when(dot(toDouble(emb), plane) > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** All `tables` signatures of a vector, as array<long> — one fused
    * codegen loop (graft.functions.SignLshSignatures); the HOF form costs
    * tables × bits interpreted lambda evaluations per row.
    */
  private def tableSignatures(emb: Column, bits: Int, tables: Int): Column =
    graft.functions.SignLshSignatures(emb, bits, tables)

  /** PORTABLE (md5-derived, integer-exact) plane weight for the
    * cross-engine-replayable sign-LSH family: the first 15 hex chars of
    * `md5("plane_<p>_<d>")` as a 60-bit integer, mapped to
    * [-1000000, 1000000]. Same formula as the DuckDB oracle's
    * `('0x' || substr(md5(...), 1, 15))::BIGINT % 2000001 - 1000000` —
    * integer arithmetic end to end, so the two engines agree bit for
    * bit with no IEEE-summation-order caveat.
    */
  private[operators] def portablePlaneWeight(p: Int, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane_${p}_${d}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2000001L - 1000000L
  }

  /** The vector quantized to integer micro-units: round(x · 10⁶) per
    * component — the portable family signs dot products of THESE, so
    * every arithmetic step is exact 64-bit integer math that DuckDB
    * replays identically (float → double is exact, ×10⁶ is exact in
    * double for float inputs, and both engines round ties away from
    * zero). Quantization noise is ~10⁻⁶ per component — geometrically
    * irrelevant for hyperplane LSH.
    */
  private def quantize(emb: Column): Column =
    transform(emb, x => round(x.cast("double") * 1000000d).cast("long"))

  /** `emb` guarded to exactly `dim` components. The portable plane
    * family is a fixed-geometry dot product and `zip_with` null-pads
    * the shorter array — an embedding with fewer than `dim` components
    * would make every dot-product fold NULL, so every bit 0, so ALL
    * vectors land in one bucket and ANN silently degrades to an
    * all-pairs candidate join. A dimension mismatch fails loudly
    * instead (per row, inside codegen — no extra pass over the data).
    * NULL embeddings propagate null rather than falling into the
    * mismatch branch (`size(null)` is null, the `=== dim` predicate is
    * null, and an unguarded `otherwise` would throw a misleading
    * dimension error on rows the rest of the family treats as simply
    * unscorable).
    */
  private def checkedDim(emb: Column, dim: Int): Column =
    when(emb.isNull, emb)
      .when(size(emb) === dim, emb)
      .otherwise(raise_error(concat(
        lit("portable LSH family: embedding has "),
        size(emb).cast("string"), lit(s" components, expected $dim"))))

  /** One table's portable sign-LSH signature: bit p =
    * [Σ_d qv[d]·w(table·bits+p, d) > 0] over the quantized vector and
    * integer plane weights — the oracle-replayable twin of
    * [[lshSignature]]/[[tableSignatures]]. Weights are plan-time
    * literals; the fold is an integer HOF chain (interpreted lambdas —
    * the native codegen expression stays the production default).
    */
  def lshSignaturePortable(emb: Column, bits: Int, table: Int,
      dim: Int = 64): Column = {
    val qv = quantize(checkedDim(emb, dim))
    (0 until bits).map { p =>
      val w = array((0 until dim).map(d =>
        lit(portablePlaneWeight(table * bits + p, d))): _*)
      when(aggregate(zip_with(qv, w, (x, y) => x * y), lit(0L),
        (acc, v) => acc + v) > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** The portable family's production form: the SAME integer math as
    * [[lshSignaturePortable]], restructured for plan-compile cost. The
    * naive form is 64 independent HOF chains over 64 per-plane literal
    * arrays — ~4k Literal nodes that cost ~0.5 s of Catalyst
    * analysis/optimization PER PLAN (measured: the q34 probe paid it on
    * every call). Here all plane weights ship as ONE 2-D literal
    * referenced exactly once inside a single nested-HOF expression
    * (tables → bits → dot fold), so the tree is a handful of nodes
    * regardless of plane count and analysis is O(1) in the geometry.
    * Returns the array<long> of per-table signatures.
    */
  private def portableSigsExpr(emb: Column, bits: Int, tables: Int,
      dim: Int = 64): Column = {
    val weights: Seq[Seq[Long]] = (0 until bits * tables).map(p =>
      (0 until dim).map(d => portablePlaneWeight(p, d)))
    val planes = typedLit(weights)
    val powers = typedLit((0 until bits).map(p => 1L << p))
    val qv = quantize(checkedDim(emb, dim))
    transform(sequence(lit(0), lit(tables - 1)), t =>
      aggregate(sequence(lit(0), lit(bits - 1)), lit(0L), (acc, p) =>
        acc + when(
          aggregate(
            zip_with(qv, element_at(planes, t * lit(bits) + p + 1),
              (x, y) => x * y),
            lit(0L), (a, v) => a + v) > 0,
          element_at(powers, p + 1)).otherwise(0L)))
  }

  /** [[tableSignatures]] with a family switch: native fused-codegen
    * XXH-style planes (production) or the portable md5/integer planes
    * (oracle-replayable) — the [[Dedup.simhashPortable]] pattern.
    */
  private def tableSignaturesAny(emb: Column, bits: Int, tables: Int,
      portable: Boolean): Column =
    if (portable) portableSigsExpr(emb, bits, tables)
    else tableSignatures(emb, bits, tables)

  /** ANN top-k via multi-table sign-LSH: `tables` independent b-bit hash
    * tables; a corpus vector is a candidate for a query iff they share a
    * bucket in AT LEAST ONE table (recall 1-(1-p^b)^L for per-bit
    * agreement probability p = 1 - θ/π). The corpus index is `tables`×
    * the corpus in rows but each query touches only L buckets — an
    * expected L/2^b slice of the corpus per query, vs the full scan of
    * bruteForceTopK. Recall vs brute force is asserted in tests.
    */
  def lshTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      bits: Int = 8,
      tables: Int = 16,
      portable: Boolean = false): DataFrame = {
    rankDedupedCandidates(
      lshIndexFrame(embeddings, bits, tables, portable)
        .join(broadcast(lshQuerySignatures(queries, bits, tables,
          portable)), Seq("tbl", "sig")),
      k)
  }

  /** The LSH index relation: corpus × tables rows of
    * (tbl, sig, vec_id, embedding). Spread a single-split corpus before
    * the signature computation — `tables` × b dot products per row
    * serialize on one core otherwise.
    */
  private def lshIndexFrame(embeddings: DataFrame, bits: Int,
      tables: Int, portable: Boolean = false): DataFrame =
    Dedup.spread(embeddings).select(
      col("vec_id"), col("embedding"),
      posexplode(tableSignaturesAny(col("embedding"), bits, tables,
        portable)).as(Seq("tbl", "sig")))

  /** Broadcast-sized frame of each query's signature per table (hinted
    * at the join site — hinting here would warn on driver-side collects).
    */
  private def lshQuerySignatures(queries: DataFrame, bits: Int,
      tables: Int, portable: Boolean = false): DataFrame =
    queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .select(col("q_id"), col("q_emb"),
        posexplode(tableSignaturesAny(col("q_emb"), bits, tables,
          portable)).as(Seq("tbl", "sig")))

  /** Build the PERSISTED multi-table LSH index: the (tbl, sig, vec_id,
    * embedding) relation saved as a managed parquet table bucketed and
    * sorted by signature. [[lshTopK]] recomputes this explode on every
    * call — fine for one-shot queries, wasteful under query volume. Build
    * once, then [[queryLshIndex]] amortizes: the index build is `tables`
    * passes over the corpus ONCE, and each query batch reads only its
    * probed buckets (bucket pruning + parquet min/max on the sorted sig).
    * Rebuild when the corpus changes — the table is a snapshot.
    */
  def buildLshIndex(embeddings: DataFrame, table: String, bits: Int = 8,
      tables: Int = 16, portable: Boolean = false): Unit = {
    val spark = embeddings.sparkSession
    // persist the signature spec beside the index (the IVF pattern:
    // centroids ARE its spec): appends and probes with the wrong
    // bits/tables — or the wrong signature FAMILY (native vs portable)
    // — would produce signatures that silently never match.
    // Spec first — the IndexSpec ordering contract.
    import spark.implicits._
    graft.sources.IndexSpec.write(
      Seq((bits, tables, portable)).toDF("bits", "tables", "portable"),
      table)
    Sinks.saveTablePartitioned(
      lshIndexFrame(embeddings, bits, tables, portable), table,
      bucketBy = Some((8, Seq("sig"))), sortBy = Seq("sig"))
  }

  /** Fail loudly when bits/tables differ from what the index was built
    * with — mismatched signatures join nothing and lose recall silently
    * — or when the spec table is missing (a half-built index).
    */
  private def requireLshSpec(spark: SparkSession, indexTable: String,
      bits: Int, tables: Int, portable: Boolean): Unit = {
    val r = graft.sources.IndexSpec.readRequired(spark, indexTable)
    val (b, t, p) = (r.getInt(0), r.getInt(1), r.getBoolean(2))
    require(b == bits && t == tables && p == portable,
      s"$indexTable was built with bits=$b tables=$t portable=$p; " +
        s"got bits=$bits tables=$tables portable=$portable — " +
        "signatures would never match")
  }

  /** Incrementally extend a persisted LSH index with a new embedding
    * batch — the per-crawl growth path. Bucket membership is a pure
    * function of the vector (data-oblivious hyperplanes), so signatures
    * for the NEW vectors alone are computed and appended; existing rows
    * are untouched and [[queryLshIndex]] needs no change. An index grown
    * by appends is row-identical to one rebuilt from the union.
    */
  def appendLshIndex(embeddings: DataFrame, table: String, bits: Int = 8,
      tables: Int = 16, portable: Boolean = false): Unit = {
    requireLshSpec(embeddings.sparkSession, table, bits, tables, portable)
    Sinks.appendTablePartitioned(
      lshIndexFrame(embeddings, bits, tables, portable),
      table, bucketBy = Some((8, Seq("sig"))), sortBy = Seq("sig"))
  }

  /** Probe a persisted LSH index built by [[buildLshIndex]] (same bits/
    * tables). The query batch is small by contract (it is broadcast), so
    * collecting its signature set is bounded; pushed into the index scan
    * as an IN filter it prunes the read to the probed buckets instead of
    * scanning all `tables` × corpus rows.
    */
  def queryLshIndex(spark: SparkSession, indexTable: String,
      queries: DataFrame, k: Int = 10, bits: Int = 8,
      tables: Int = 16, portable: Boolean = false): DataFrame = {
    requireLshSpec(spark, indexTable, bits, tables, portable)
    // the query batch is broadcast-bounded by contract, so its
    // signature relation is collected ONCE and re-planned as a local
    // relation: the signature expressions compile into exactly one
    // plan per probe instead of two (the IN-filter collect and the
    // join used to each re-analyze the full signature tree — half the
    // probe's driver time for the portable family)
    val qsig = lshQuerySignatures(queries, bits, tables, portable)
    val qsigRows = qsig.collect().toIndexedSeq
    val probedSigs = qsigRows.map(_.getLong(3)).distinct
    val qsigLocal = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(qsigRows).asJava),
      qsig.schema)
    rankDedupedCandidates(
      spark.table(indexTable)
        .filter(col("sig").isin(probedSigs: _*))
        .join(broadcast(qsigLocal), Seq("tbl", "sig")),
      k)
  }

  /** Element-wise centroid components per label — the coarse-quantizer
    * training for [[ivfTopK]], and the driver-oracle form (scalar rows,
    * exact DECIMAL averages). `pos` is 1-based.
    */
  def labelCentroidComponents(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("p", "v")))
      .groupBy(col("label"), (col("p") + 1).cast("long").as("pos"))
      .agg(round(sum(col("v").cast("decimal(20,10)")).cast("double") /
        count(lit(1)), 6).as("c"))

  /** Centroids assembled as vectors: label → array<float>(dim). */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    labelCentroidComponents(embeddings)
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c").cast("float")).as("centroid"))

  /** ANN top-k via IVF (inverted-file) cells. The centroid set is tiny
    * (one per cell) and is collected once into plan literals — the
    * classic IVF coarse quantizer — so cell assignment is a pure
    * projection (per-row argmax over literal centroids, ZERO shuffles for
    * the index build) and each query searches only its `nprobe` nearest
    * cells: expected corpus fraction touched ≈ nprobe / #cells.
    * `nprobe = #cells` degenerates to exactly the brute-force answer
    * (asserted in tests). Complements [[lshTopK]]: IVF adapts to real
    * cluster structure, LSH is data-oblivious but needs no training.
    */
  def ivfTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nprobe: Int = 3): DataFrame = {
    val cents = collectCentroids(labelCentroids(embeddings))
    rankTopK(
      cellAssigned(embeddings, cents)
        .join(broadcast(probeCells(queries, cents, nprobe)), "cell"),
      k)
  }

  /** The tiny centroid relation collected into plan literals — the
    * classic IVF coarse quantizer (bounded by #cells).
    */
  private def collectCentroids(centroids: DataFrame): Array[(Int, Seq[Float])] =
    centroids.collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
      .sortBy(_._1)

  private def cellSims(vec: Column,
      cents: Array[(Int, Seq[Float])]): Seq[Column] =
    cents.toSeq.map { case (cellId, c) =>
      struct(cosine(vec, typedLit(c)).as("sim"), lit(cellId).as("cell"))
    }

  /** Corpus with its nearest-centroid cell — a pure projection (per-row
    * argmax over literal centroids), ZERO shuffles.
    */
  private def cellAssigned(embeddings: DataFrame,
      cents: Array[(Int, Seq[Float])]): DataFrame =
    Dedup.spread(embeddings)
      .select(col("vec_id"), col("embedding"),
        greatest(cellSims(col("embedding"), cents): _*).getField("cell")
          .as("cell"))

  /** Broadcast-sized frame of each query × its `nprobe` nearest cells
    * (hinted at the join site).
    */
  private def probeCells(queries: DataFrame,
      cents: Array[(Int, Seq[Float])], nprobe: Int): DataFrame =
    queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("cell",
        explode(transform(
          slice(reverse(array_sort(array(cellSims(col("q_emb"), cents): _*))),
            1, nprobe),
          s => s.getField("cell"))))

  /** The persisted IVF index family: the cell-assigned corpus (vec_id,
    * embedding, cell) as a managed parquet table PARTITIONED by cell, so
    * a probe reads only its probed cells' partitions. No spec table —
    * the trained centroid table IS the index's contract (re-training
    * would move cell boundaries and is a rebuild, not an append). An
    * append anti-joins on vec_id and THEN assigns the fresh vectors to
    * the frozen `centroidTable`'s cells; ensure and compaction need no
    * quantizer. Run [[ivfRebuildPressure]] AFTER a compaction when
    * deciding on a rebuild: a vacuum fixes occupancy garbage, but not
    * centroid drift — only a rebuild re-trains the quantizer.
    */
  def ivfIndex(centroidTable: Option[String] = None): PersistedIndex =
    PersistedIndex(
      StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, cell INT"),
      "vec_id", partitionBy = Seq("cell"),
      prepare = _.select("vec_id", "embedding"),
      place = fresh => cellAssigned(fresh, collectCentroids(
        fresh.sparkSession.table(centroidTable.getOrElse(
          throw new IllegalArgumentException("appending to an IVF index " +
            "needs its frozen centroid table"))))))

  /** Build the PERSISTED IVF index ([[ivfIndex]]): the trained centroids
    * as one tiny table, and the cell-assigned corpus beside it.
    * [[ivfTopK]] re-trains the quantizer (a full corpus aggregation) and
    * re-assigns every row on each call; built once, [[queryIvfIndex]]
    * reads only the probed cells' partitions. Rebuild when the corpus
    * changes — the tables are a snapshot.
    */
  def buildIvfIndex(embeddings: DataFrame, indexTable: String,
      centroidTable: String): Unit = {
    Sinks.saveTable(labelCentroids(embeddings), centroidTable)
    val cents = collectCentroids(
      embeddings.sparkSession.table(centroidTable))
    ivfIndex().build(cellAssigned(embeddings, cents), indexTable)
  }

  /** Incrementally extend a persisted IVF index: new vectors are
    * assigned to the EXISTING centroids and appended into their cells'
    * partitions. The trained coarse quantizer is the index's contract —
    * re-training centroids would move cell boundaries and is a rebuild,
    * not an append — so recall for appended vectors matches what the
    * quantizer gives any vector from the same distribution, and drifting
    * corpora should schedule periodic rebuilds (standard IVF practice).
    */
  def appendIvfIndex(spark: SparkSession, embeddings: DataFrame,
      indexTable: String, centroidTable: String): Unit = {
    val cents = collectCentroids(spark.table(centroidTable))
    ivfIndex().append(cellAssigned(embeddings, cents), indexTable)
  }

  /** The frozen quantizer of `centroidTable` as plan literals. */
  private[graft] def cellsOf(spark: SparkSession,
      centroidTable: String): Array[(Int, Seq[Float])] =
    collectCentroids(spark.table(centroidTable))

  /** [[cellAssigned]] for callers managing their own vector stores (the
    * streaming semantic ingest writes exactly these rows).
    */
  private[graft] def assignCellsFrame(embeddings: DataFrame,
      cents: Array[(Int, Seq[Float])]): DataFrame =
    cellAssigned(embeddings, cents)

  /** The screen shared by [[probeSemanticIndex]] and the streaming
    * semantic ingest: the (vec_id, q_id) pairs of a `prior` (vec_id,
    * embedding, cell) row and a batch vector at cosine ≥ `threshold`,
    * compared within the batch's `nprobe` probed cells only. The probed
    * cell set is collected once (bounded by #cells) and pushed as a
    * partition/scan filter on the prior side.
    */
  private[graft] def semanticHits(batch: DataFrame, prior: DataFrame,
      cents: Array[(Int, Seq[Float])], threshold: Double,
      nprobe: Int): DataFrame = {
    val q = probeCells(Dedup.spread(batch), cents, nprobe)
    val probed = q.select("cell").distinct().collect().map(_.getInt(0))
    prior.filter(col("cell").isin(probed.toIndexedSeq: _*))
      .join(q, "cell")
      .filter(round(cosine(col("embedding"), col("q_emb")), 6)
        >= lit(threshold))
      .select("vec_id", "q_id")
  }

  /** Probe a persisted IVF index built by [[buildIvfIndex]]. The probed
    * cell set across the (small, broadcast) query batch is collected and
    * pushed as a partition filter, so the scan reads ≈ nprobe/#cells of
    * the corpus instead of all of it.
    */
  def queryIvfIndex(spark: SparkSession, indexTable: String,
      centroidTable: String, queries: DataFrame, k: Int = 10,
      nprobe: Int = 3): DataFrame = {
    val cents = collectCentroids(spark.table(centroidTable))
    val q = probeCells(queries, cents, nprobe)
    val probed = q.select("cell").distinct().collect().map(_.getInt(0))
    rankTopK(
      spark.table(indexTable)
        .filter(col("cell").isin(probed.toIndexedSeq: _*))
        .join(broadcast(q), "cell"),
      k)
  }

  /** The REBUILD-PRESSURE audit of a persisted IVF index — the semantic
    * family's member of the drift-audit trio ([[graft.operators.Pipeline.reconcileCandidates]]
    * measures content the corpus lost, [[graft.operators.Pipeline.retrainPressure]]
    * measures frozen-decision drift, and this measures how far the
    * frozen coarse quantizer has drifted from the vectors it now
    * routes). [[appendIvfIndex]]'s contract says drifting corpora
    * should schedule periodic rebuilds; this is the cheap query that
    * says WHEN, so the rebuild is a measured decision instead of a
    * cron guess.
    *
    * One row per cell of the index:
    *
    *   - `n_vecs`    — current occupancy (appends included). Occupancy
    *     skew across rows is the probe-cost-imbalance signal: a probe
    *     reads whole cells, so one bloated cell makes every query that
    *     probes it pay its size.
    *   - `mean_cos` / `min_cos` — cosine of each member to its FROZEN
    *     centroid, averaged / worst-case. Falling mean = members the
    *     quantizer routes poorly = recall loss at fixed nprobe (the
    *     verify step only sees candidates whose cells are probed).
    *   - `drift_cos` — cosine between the frozen centroid and the
    *     cell's CURRENT mean vector: 1.0 means the appends left the
    *     cell where it was trained; falling drift_cos means the cell's
    *     true center has moved and the frozen centroid no longer
    *     represents it (queries aimed at the new mass probe the wrong
    *     cells first).
    *
    * Cost shape: one cell-keyed pass over the index (both aggregates
    * are map-side-combinable; the per-dimension mean explodes dim×rows
    * but reduces to #cells×dim before any join), a broadcast of the
    * tiny centroid table, output bounded by #cells.
    *
    * Determinism — the [[lshSignaturePortable]] / q34 discipline, NOT
    * the raw-double q33 one: an IEEE dot product is summation-order
    * sensitive, and a min/mean over thousands of 6-dp-rounded cosines
    * WILL eventually catch a value within one ulp of a rounding
    * boundary where engines disagree (observed in testing: one cell's
    * min_cos off by 1e-6 against DuckDB). So every vector is quantized
    * to 10⁻⁶-unit BIGINTs first; dots and norms are then exact
    * order-free integer sums, and the single double sqrt/divide at the
    * end is IEEE-identical on identical inputs. The drift comparison
    * uses the cell's floor-of-mean quantized vector — cosine is
    * scale-invariant, so flooring sum/count only perturbs direction by
    * ≤1 quantization unit per dimension, and floor (unlike round) has
    * no cross-engine tie cases. Hash-gated against DuckDB (q176), not
    * rows-only.
    */
  def ivfRebuildPressure(spark: SparkSession, indexTable: String,
      centroidTable: String): DataFrame = {
    def idot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    def icos(a: Column, b: Column): Column =
      round(idot(a, b).cast("double") /
        (sqrt(idot(a, a).cast("double")) * sqrt(idot(b, b).cast("double"))), 6)
    val cq = spark.table(centroidTable)
      .select(col("label").as("cell"), quantize(col("centroid")).as("cvq"))
    val iq = spark.table(indexTable)
      .select(col("cell"), quantize(col("embedding")).as("vq"))
    val withCos = iq.join(broadcast(cq), "cell")
      .select(col("cell"), icos(col("vq"), col("cvq")).as("cos"))
    // cos is already 6-dp-rounded, so the 10⁻⁶-LONG quantization is
    // LOSSLESS — the integer sum replaces the DECIMAL(20,10) fold with
    // bit-identical results. Two headrooms, the smaller binding: the
    // LONG sum wraps past ~9·10¹² rows/cell, but the mean's
    // sum.cast(double) is EXACT only below 2⁵³ total mass (~9·10⁹
    // rows/cell at |cos·10⁶| ≤ 10⁶); beyond that it degrades to
    // 1-ulp-relative while staying cross-engine deterministic — DuckDB
    // replays the identical cast on identical LONGs
    val cosStats = withCos.groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(round(col("cos") * 1000000d).cast("long"))
          .cast("double") / lit(1000000d) / count(lit(1)), 6)
          .as("mean_cos"),
        min("cos").as("min_cos"))
    // per-dimension integer sums, floored to the mean's quantization
    // grid so norms stay in LONG range regardless of cell size. The
    // floor-of-mean's sum.cast(double) is exact below 2⁵³ total mass —
    // ~9·10⁹ rows/cell at unit-scale (10⁻⁶-quantized) components, the
    // binding bound, tighter than the LONG sum's ~9·10¹² wrap; past it
    // the mean is 1-ulp-relative but still deterministic (the DuckDB
    // replay performs the identical cast)
    val meanVec = iq
      .select(col("cell"), posexplode(col("vq")).as(Seq("p", "v")))
      .groupBy(col("cell"), col("p"))
      .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
        .cast("long").as("m"))
      .groupBy("cell")
      .agg(transform(
        array_sort(collect_list(struct(col("p"), col("m")))),
        s => s.getField("m")).as("mvq"))
    val drift = meanVec.join(broadcast(cq), "cell")
      .select(col("cell"), icos(col("mvq"), col("cvq")).as("drift_cos"))
    cosStats.join(drift, Seq("cell"))
      .select(col("cell"), col("n_vecs"), col("mean_cos"),
        col("min_cos"), col("drift_cos"))
  }

  /** [[labelCentroids]] in exact integer arithmetic: components are
    * 10⁻⁶-quantized, summed order-free, floored to the mean, and
    * published as `float(m / 10⁶)` — every step either exact or an
    * IEEE-defined conversion of identical inputs, so two engines
    * CANNOT disagree. The decimal-avg [[labelCentroidComponents]] form
    * is kept for the established q51 family, but it harbors a latent
    * cross-engine fragility this derivation exists to avoid: casting
    * FLOAT to DECIMAL(20,10) rounds the value's binary expansion at
    * the 10th decimal, engines disagree there at the ulp level, and an
    * average sitting within 5·10⁻⁷ of a 6-dp rounding boundary then
    * flips the published component (observed on real test data —
    * label 4, pos 12 of the sf0.01 embeddings). At corpus scale the
    * two derivations are equally good quantizers (both are the cell
    * mean to ~10⁻⁶); the audit family standardizes on the order-free
    * one so its oracle can be exact end to end. The float publication
    * round-trips through [[quantize]] losslessly: |m| ≤ ~2·10⁶ means
    * float error < 0.25 quantization units.
    *
    * Accuracy bound of the floor-of-mean: the LONG sum is exact to
    * ~9·10¹² rows/group, but its `.cast("double")` before the divide
    * is exact only below 2⁵³ total quantized mass — ~9·10⁹ rows/group
    * at unit-scale embeddings, the BINDING bound for an exact mean.
    * Past it the mean degrades to 1-ulp-relative; cross-engine
    * determinism is unaffected either way (the DuckDB oracle replays
    * the identical cast on identical LONG sums).
    */
  def quantizedLabelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(quantize(col("embedding")))
        .as(Seq("p", "v")))
      .groupBy(col("label"), col("p"))
      .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
        .cast("long").as("m"))
      .groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("p"), col("m")))),
        s => (s.getField("m").cast("double") / lit(1000000d))
          .cast("float")).as("centroid"))

  /** [[buildIvfIndex]] with the [[quantizedLabelCentroids]] quantizer —
    * the build the audit family (q176) runs on, so the whole
    * build → append → [[ivfRebuildPressure]] chain is deterministic
    * across engines. Index layout and probe behavior are identical to
    * [[buildIvfIndex]]; only the centroid derivation differs (by
    * < 10⁻⁶ per component).
    */
  def buildIvfIndexQuantized(embeddings: DataFrame, indexTable: String,
      centroidTable: String): Unit = {
    Sinks.saveTable(quantizedLabelCentroids(embeddings), centroidTable)
    val cents = collectCentroids(
      embeddings.sparkSession.table(centroidTable))
    ivfIndex().build(cellAssigned(embeddings, cents), indexTable)
  }

  /** Incremental SEMANTIC dedup of a new embedding batch against a
    * persisted IVF corpus index ([[buildIvfIndex]]) — the embedding-tier
    * member of the per-crawl probe family (exact [[Dedup.probeFingerprintIndex]],
    * MinHash [[Dedup.probeNearDupIndex]], simhash [[Dedup.probeSimhashIndex]]):
    * a batch vector is a dup when any corpus vector in its `nprobe`
    * nearest cells sits at cosine ≥ `threshold` (6-dp-rounded, the
    * [[cosineDupPairs]] boundary convention); `dup_of` is the smallest
    * such corpus id. Like [[semanticDedup]] this is the SemDeDup recall
    * contract — same-cell (or probed-neighbor-cell) comparisons only —
    * with the quantizer frozen in the index's centroid table.
    *
    * Scale shape: cell assignment is a per-row argmax over literal
    * centroids (no shuffle); the probed cell set is collected once
    * (bounded by #cells, NOT batch size — this probe takes crawl-sized
    * batches, unlike the broadcast-contract top-k queries); the verify
    * join ([[semanticHits]]) is cell-keyed against only the probed
    * partitions of the index.
    */
  def probeSemanticIndex(spark: SparkSession, newEmbeddings: DataFrame,
      indexTable: String, centroidTable: String, threshold: Double = 0.95,
      nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1: $nprobe")
    val cents = cellsOf(spark, centroidTable)
    val hits = semanticHits(newEmbeddings, spark.table(indexTable), cents,
        threshold, nprobe)
      .groupBy("q_id").agg(min(col("vec_id")).as("dup_of"))
      .withColumnRenamed("q_id", "vec_id")
    Dedup.spread(newEmbeddings).select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup_of").isNull.as("keep"),
        col("dup_of"))
  }

  /** Embedding near-duplicate pairs: corpus × corpus restricted to pairs
    * sharing a bucket in AT LEAST ONE of `tables` independent sign-LSH
    * tables, verified by exact cosine ≥ threshold. Same never-all-pairs
    * shape as Dedup.minhashDupPairs, and the multi-table OR makes the
    * candidate step near-exhaustive: a pair at cosine θ is missed with
    * probability (1 - p^bits)^tables for p = 1 - acos(θ)/π — at the
    * default (θ=0.95, 8 bits, 32 tables) that is ~2e-8, so the output
    * EQUALS the brute-force pair set w.h.p. and a brute-force oracle can
    * gate it on any corpus. Candidates travel as (id_a, id_b) only —
    * embeddings are re-joined for the verify step AFTER pair dedup, so
    * the bucket join and the distinct shuffle never carry vector
    * payloads. At larger corpora raise `bits` (buckets ∝ 2^bits) to keep
    * per-bucket candidate volume flat; `maxBucket` bounds the worst case
    * regardless.
    */
  def cosineDupPairs(
      embeddings: DataFrame,
      threshold: Double = 0.95,
      bits: Int = 8,
      tables: Int = 32,
      maxBucket: Int = 10000): DataFrame = {
    val idx = lshIndexFrame(embeddings, bits, tables)
      .select("tbl", "sig", "vec_id")
    val bounded = Dedup.dropOversizedBuckets(idx, maxBucket,
      Seq("tbl", "sig"), materializeInput = true)
    val pairs = bounded.select(
        col("tbl"), col("sig"), col("vec_id").as("id_a"))
      .join(bounded.select(
        col("tbl"), col("sig"), col("vec_id").as("id_b")),
        Seq("tbl", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val e = embeddings.select(col("vec_id"), col("embedding"))
    pairs
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")),
        "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")),
        "id_b")
      .withColumn("cos", round(cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Symmetric scalar int8 quantization: per-vector scale = max|x|/127,
    * elements stored as round(x/scale) ∈ [-127, 127]. At 100 TB this is
    * THE embedding-storage play — 4× smaller than float32 (so 4× less
    * scan I/O and shuffle for every ANN probe) at <0.4% cosine error on
    * unit-scale vectors. Pure per-row projection, no shuffle; the
    * intermediate double array is materialized as a column once so the
    * scale fold and the quantize transform don't re-evaluate the cast
    * per element. All-zero vectors get scale 0 and an all-zero code
    * vector (guarded division).
    */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("emb_d"))
      .select(
        col("vec_id"),
        (aggregate(col("emb_d"), lit(0.0), (acc, x) => greatest(acc, abs(x)))
          / 127.0).as("scale"),
        col("emb_d"))
      .select(
        col("vec_id"),
        col("scale"),
        when(col("scale") === 0.0,
          transform(col("emb_d"), _ => lit(0).cast("byte")))
          .otherwise(
            transform(col("emb_d"),
              x => round(x / col("scale"), 0).cast("byte")))
          .as("qvec"))

  /** Inverse of [[quantizeEmbeddings]]: reconstruct vectors from
    * (scale, qvec), back in the corpus storage type (array<float>) so
    * the result plugs into every ANN path unchanged. Reconstruction
    * error per element is ≤ scale/2 (+ one float ulp) by construction;
    * SimilaritySpec asserts that and the end-to-end top-k recall of
    * brute-force search on dequantized vectors.
    */
  def dequantizeEmbeddings(quantized: DataFrame): DataFrame =
    quantized.select(
      col("vec_id"),
      transform(col("qvec"), q => (q.cast("double") * col("scale"))
        .cast("float")).as("embedding"))

  /** Per-dimension corpus statistics over the embedding column — the
    * calibration scan for per-CHANNEL quantization ([[quantizePerDim]])
    * and feature-range monitoring. min/max are order-independent, so the
    * result is bit-deterministic across partitionings (no float-summation
    * order hazard). One scan + one `dims`-key groupBy with map-side
    * partial aggregation: each partition contributes at most `dims` rows
    * to the shuffle regardless of corpus size.
    */
  def dimensionStats(embeddings: DataFrame): DataFrame =
    embeddings
      .select(posexplode(toDouble(col("embedding"))).as(Seq("dim", "v")))
      .groupBy("dim")
      .agg(
        min("v").as("min_val"),
        max("v").as("max_val"),
        greatest(abs(min("v")), abs(max("v"))).as("abs_max"))

  /** Int8 quantization with PER-DIMENSION scales (absmax/127 per channel)
    * — tighter than [[quantizeEmbeddings]]'s per-vector scale whenever
    * channels have unequal ranges, which real embedding models do. The
    * `dims`-row scale vector is bounded driver state (the IVF-centroid
    * pattern), inlined as a literal so the quantization itself is a pure
    * projection — one calibration scan, one quantization scan, no join.
    */
  def quantizePerDim(embeddings: DataFrame): DataFrame = {
    val scales = dimensionStats(embeddings)
      .select(col("dim"), (col("abs_max") / 127.0).as("scale"))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
    val sArr = array(scales.toIndexedSeq.map(s => lit(s)): _*)
    embeddings.select(
      col("vec_id"),
      zip_with(toDouble(col("embedding")), sArr,
        (x, s) => when(s === 0.0, lit(0).cast("byte"))
          .otherwise(round(x / s, 0).cast("byte"))).as("qvec"))
  }

  /** Corpus with squared-Euclidean argmin cluster over literal centroids
    * — a pure projection (no shuffle). The distance array is materialized
    * as ONE attribute before the argmin reads two fields out of it, and
    * distance ties break to the lower cluster id (deterministic).
    */
  private[graft] def assignClusters(embeddings: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    // native fused loop (graft.functions.NearestCandidate): one codegen
    // loop nest over a task-shipped double[][], vs |cents| interpreted
    // HOF chains + |cents| Literal plan nodes per row in the HOF twin
    // below — bit-identical arithmetic, asserted in SimilaritySpec
    val best = graft.functions.NearestCandidate(col("embedding"), cents)
    Dedup.spread(embeddings)
      .withColumn("__best", best)
      .select(col("vec_id"), col("embedding"),
        col("__best").getField("idx").as("cluster"),
        col("__best").getField("d2").as("dist2"))
  }

  /** HOF reference form of [[assignClusters]] — the readable spec the
    * native expression is bit-equality-tested against (same (x−y)²
    * ascending-dim double accumulation; array_min over struct(d2,
    * cluster) ties to the lower cluster exactly like the native strict
    * `<`).
    */
  private[graft] def assignClustersHof(embeddings: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val cands = array(cents.zipWithIndex.map { case (c, i) =>
      struct(
        aggregate(
          zip_with(toDouble(col("embedding")), typedLit(c.toSeq),
            (x, y) => (x - y) * (x - y)),
          lit(0.0), _ + _).as("d2"),
        lit(i).as("cluster"))
    }.toIndexedSeq: _*)
    Dedup.spread(embeddings)
      .withColumn("__best", array_min(cands))
      .select(col("vec_id"), col("embedding"),
        col("__best").getField("cluster").as("cluster"),
        col("__best").getField("d2").as("dist2"))
  }

  /** Trivial deterministic seeding: the k lowest-vec_id vectors. Fast
    * (one TakeOrdered) but degenerate when low ids correlate (e.g. a
    * corpus sorted by source): seeds can all land in one region.
    */
  private def lowestIdSeeds(embeddings: DataFrame, k: Int)
      : Array[Array[Double]] =
    embeddings.orderBy("vec_id").limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** Deterministic farthest-point seeding — the k-means++ idea with the
    * randomness removed so retried/resumed runs seed identically. Seed 1
    * is the lowest-vec_id vector; each next seed is the vector with the
    * MAXIMUM squared distance to its nearest already-chosen seed
    * (k-means++ samples proportionally to that same D²; taking the max
    * is its deterministic limit). Exact-distance ties break by
    * md5(vec_id) — a fixed pseudo-random order, so a corpus full of
    * duplicate vectors doesn't degenerate to adjacent ids — then vec_id.
    *
    * Cost: k-1 extra passes over the corpus, each a projection over
    * literal seeds + a distributed top-1 (TakeOrdered) — no shuffle, no
    * driver state beyond the k seeds themselves. For huge k switch to
    * the k-means|| oversampling path ([[parallelSeeds]], rounds+1
    * passes independent of k); for the k a mixing pipeline uses
    * (tens to hundreds) a pass per seed is the simpler, still-linear
    * plan.
    */
  private def farthestPointSeeds(embeddings: DataFrame, k: Int)
      : Array[Array[Double]] = {
    var seeds = lowestIdSeeds(embeddings, 1)
    while (seeds.length < k) {
      val next = assignClusters(embeddings, seeds)
        .orderBy(col("dist2").desc,
          md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
        .limit(1)
        .select(col("embedding")).collect()
      require(next.nonEmpty, s"corpus has no vectors to seed from")
      seeds = seeds :+ next(0).getSeq[Float](0).map(_.toDouble).toArray
    }
    seeds
  }

  /** Deterministic k-means|| (Bahmani et al., VLDB 2012) seeding — the
    * scale path for large k, where [[farthestPointSeeds]]' k−1 corpus
    * passes turn quadratic-ish (IVF at hundreds-to-thousands of cells).
    * Pass count is `rounds`+1, INDEPENDENT of k:
    *
    *   1. start from the lowest-vec_id vector; each round OVERSAMPLES
    *      the ℓ = 2k not-yet-chosen vectors farthest from the current
    *      candidate set (the deterministic limit of the paper's
    *      D²-proportional sampling, ties by md5(vec_id) then vec_id —
    *      the [[farthestPointSeeds]] tiebreak);
    *   2. one final pass weights each candidate by the number of corpus
    *      vectors nearest to it;
    *   3. the ≤ 1+2k·rounds weighted candidates re-cluster ON THE
    *      DRIVER (greedy weighted farthest-point, then weighted Lloyd
    *      to a fixpoint) down to k seeds — bounded local work, the
    *      paper's final step with the randomness removed.
    *
    * Every step is deterministic, so retried/resumed fits seed
    * identically — the same contract as the other two seedings.
    * Objective parity vs farthest seeding is asserted in
    * SimilaritySpec; the Stress harness carries a k=256 timing.
    */
  private[operators] def parallelSeeds(embeddings: DataFrame, k: Int,
      rounds: Int = 5): Array[Array[Double]] = {
    val ell = 2 * k
    // one top-1 job fetches (vec_id, embedding) together — a separate
    // lowestIdSeeds + id fetch would scan the corpus twice for one row
    val first = embeddings.orderBy("vec_id").limit(1)
      .select(col("vec_id"), col("embedding")).collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        "requirement failed: embeddings corpus is empty " +
        "(k-means|| seeding needs a non-empty input)"))
    var cands: Array[Array[Double]] =
      Array(first.getSeq[Float](1).map(_.toDouble).toArray)
    var candIds: Seq[Long] = Seq(first.getLong(0))
    (1 to rounds).foreach { _ =>
      val next = embeddings
        .filter(!col("vec_id").isin(candIds: _*))
        .withColumn("__d2", graft.functions.NearestCandidate(
          col("embedding"), cands).getField("d2"))
        .orderBy(col("__d2").desc,
          md5(col("vec_id").cast("string")).asc, col("vec_id").asc)
        .limit(ell)
        .select(col("vec_id"), col("embedding")).collect()
      cands = cands ++ next.map(_.getSeq[Float](1).map(_.toDouble).toArray)
      candIds = candIds ++ next.map(_.getLong(0))
    }
    // weight pass: corpus mass nearest each candidate — the |cands| ≈
    // 2k·rounds × dim loop per row that MUST be the native fused
    // expression (the interpreted 2-D-literal fold measured 25+ min
    // here at k=256 over the 20× corpus; the native loop is seconds)
    val w = new Array[Long](cands.length)
    embeddings.select(graft.functions.NearestCandidate(
        col("embedding"), cands).getField("idx").as("idx"))
      .groupBy("idx").count().collect()
      .foreach(r => w(r.getInt(0)) = r.getLong(1))
    localWeightedKMeans(cands, w, k)
  }

  /** Driver-side weighted k-means over the (tiny) candidate set: greedy
    * weighted farthest-point seeding (argmax w·D², ties to the lower
    * index; zero-mass ties fall back to the lowest unchosen index), then
    * weighted Lloyd until assignments stabilize. Deterministic.
    */
  private def localWeightedKMeans(cands: Array[Array[Double]],
      w: Array[Long], k: Int): Array[Array[Double]] = {
    require(cands.length >= k,
      s"corpus has fewer than $k distinct seedable vectors")
    val dim = cands(0).length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val chosen = scala.collection.mutable.ArrayBuffer(
      w.indices.maxBy(i => (w(i), -i)))
    val minD2 = cands.map(c => d2(c, cands(chosen(0))))
    while (chosen.size < k) {
      val pick = cands.indices
        .filterNot(chosen.contains)
        .maxBy(i => (w(i) * minD2(i), -i))
      chosen += pick
      cands.indices.foreach(i =>
        minD2(i) = math.min(minD2(i), d2(cands(i), cands(pick))))
    }
    var cents = chosen.map(cands(_).clone()).toArray
    var assign = Array.fill(cands.length)(-1)
    var changed = true
    var guard = 0
    while (changed && guard < 100) {
      guard += 1
      val nextAssign = cands.indices.map(i =>
        cents.indices.minBy(c => (d2(cands(i), cents(c)), c))).toArray
      changed = !java.util.Arrays.equals(nextAssign, assign)
      assign = nextAssign
      val sums = Array.fill(k)(new Array[Double](dim))
      val mass = new Array[Long](k)
      cands.indices.foreach { i =>
        val c = assign(i); mass(c) += w(i)
        var p = 0
        while (p < dim) { sums(c)(p) += cands(i)(p) * w(i); p += 1 }
      }
      cents = cents.indices.map(c =>
        if (mass(c) == 0) cents(c) // empty cluster keeps its centroid
        else sums(c).map(_ / mass(c))).toArray
    }
    cents
  }

  /** Lloyd's k-means over the embedding column — the clustering a
    * data-mixing / domain-discovery pipeline runs over document
    * embeddings. Deterministic by construction: seeds are the k
    * lowest-vec_id vectors by default (`seeding = "farthest"` opts into
    * [[farthestPointSeeds]]; `"parallel"` into the k-means||
    * [[parallelSeeds]] whose pass count is independent of k), distance
    * ties assign to the lower cluster id, and centroid updates average
    * in the 10⁻⁶-quantized-BIGINT discipline of
    * [[quantizedLabelCentroids]] (order-free exact integer sums,
    * floor-of-mean, published as m/10⁶) — so repeated (and resumed)
    * runs produce identical clusterings, the property that makes a
    * 100-TB clustering job retry-safe, and a cross-engine replay
    * (q95's DuckDB oracle) stays in lockstep for every round.
    *
    * Scale shape: centroids are driver state (k × dim doubles, the same
    * bounded coarse-quantizer pattern as IVF); each iteration is ONE
    * distributed pass — assignment as a projection over literal
    * centroids fused into a posexplode + groupBy on (cluster, dim) —
    * collecting k·dim rows back. Empty clusters keep their previous
    * centroid. The per-cluster sum of squared distances rides along in
    * the same aggregate (each (cluster, pos) row repeats its row set's
    * dist2 sum, so Σ/dim recovers the objective with no second pass).
    *
    * Returns (final centroids, objective after each assignment pass —
    * non-increasing, asserted in tests).
    */
  def kMeansFit(embeddings: DataFrame, k: Int = 8, iters: Int = 5,
      seeding: String = "lowest")
      : (Array[Array[Double]], Seq[Double]) = {
    require(k > 0, "k must be positive")
    require(iters > 0, "iters must be positive")
    // Iterative fitting re-reads its input every pass (each Lloyd
    // iteration, plus one pass per farthest-point seed) — the canonical
    // Spark answer is to cache the projected training set for the
    // fit's duration. MEMORY_AND_DISK: a corpus bigger than cluster
    // memory spills to local disk instead of recomputing the upstream
    // scan per pass; released before returning.
    val projected = embeddings.select(col("vec_id"), col("embedding"))
    Buffers.scoped(projected) { fitInput =>
      val seed = seeding match {
        case "lowest"   => lowestIdSeeds(fitInput, k)
        case "farthest" => farthestPointSeeds(fitInput, k)
        case "parallel" => parallelSeeds(fitInput, k)
        case other => throw new IllegalArgumentException(
          s"seeding must be 'lowest', 'farthest' or 'parallel', " +
            s"got '$other'")
      }
      require(seed.length == k, s"corpus has fewer than $k vectors")
      val dim = seed(0).length
      var cents = seed
      val objectives = Seq.newBuilder[Double]
      (1 to iters).foreach { _ =>
        // centroid update in the [[quantizedLabelCentroids]] discipline:
        // components 10⁻⁶-quantized to LONG, summed order-free (exact
        // 64-bit integer math — the codegen'd long sum is also much
        // cheaper than the DECIMAL(30,12) fold it replaces), floored to
        // the mean's grid, published as m/10⁶ in double. Every step is
        // either exact or an IEEE-defined conversion of identical
        // inputs, so DuckDB replays all `iters` rounds in lockstep
        // without the float→DECIMAL ulp fragility of the decimal-avg
        // form. The objective rides along as a 10⁻⁶-quantized long sum
        // (monitoring output — quantization noise is ≤5·10⁻⁷ per row).
        // Exact-mean bound: the sum.cast(double) inside floor-of-mean
        // is exact below 2⁵³ total mass — ~9·10⁹ rows per (cluster,
        // pos) at unit-scale embeddings (tighter than the LONG sum's
        // ~9·10¹² wrap); beyond it the centroid is 1-ulp-relative but
        // still deterministic, since the oracle casts identically.
        val perDim = assignClusters(fitInput, cents)
          .select(col("cluster"), col("dist2"),
            posexplode(quantize(col("embedding"))).as(Seq("pos", "v")))
          .groupBy("cluster", "pos")
          .agg(
            floor(sum(col("v")).cast("double") / count(lit(1)))
              .cast("long").as("m"),
            sum(round(col("dist2") * 1000000d).cast("long")).as("sd"))
          .collect()
        val next = cents.map(_.clone()) // empty cluster keeps its centroid
        var obj = BigInt(0)
        perDim.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = r.getLong(2).toDouble / 1e6
          obj += r.getLong(3)
        }
        objectives += (BigDecimal(obj) / 1000000 / dim).toDouble
        cents = next
      }
      (cents, objectives.result())
    }
  }

  /** [[kMeansFit]] + final assignment: (vec_id, cluster, dist2). The
    * fitted centroids also slot straight into [[buildIvfIndex]]-style
    * cell partitioning — k-means IS the IVF quantizer trained without
    * labels.
    */
  def kMeans(embeddings: DataFrame, k: Int = 8, iters: Int = 5,
      seeding: String = "lowest"): DataFrame = {
    val (cents, _) = kMeansFit(embeddings, k, iters, seeding)
    assignClusters(embeddings, cents)
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
        round(col("dist2"), 6).as("dist2"))
  }

  /** SemDeDup-style SEMANTIC dedup: k-means clusters the embedding space,
    * then only WITHIN each cluster are cosine-similar pairs compared — a
    * vector is dropped when a smaller-id cluster-mate sits at cosine ≥
    * `threshold` (6-dp-rounded, the [[cosineDupPairs]] boundary
    * convention). This is the tier ABOVE text dedup: minhash/simhash
    * catch lexical near-copies, this catches re-phrasings and
    * translations whose embeddings collapse while their shingles share
    * nothing.
    *
    * Determinism: the keep rule is per-pair (drop iff a smaller-id
    * neighbor qualifies — the keep-lowest-id convention of
    * [[Dedup.exactDedup]]/[[Curation.containmentPrune]]), so the output
    * is a pure function of the fitted centroids, which are themselves
    * partition-order independent (quantized integer sums in
    * [[kMeansFit]]).
    *
    * Scale shape: one shuffle on `cluster`, then a per-cluster
    * self-join — quadratic only inside a cell, never across the corpus;
    * that bounded cell is the entire point of clustering first (the
    * SemDeDup recipe: k grows with the corpus so E[cell]² stays flat).
    * A skewed cell would surface in the `cluster` key's partition size
    * long before the join, and the fix is raising `k`, not capping —
    * dropping members would silently lose dup edges.
    *
    * Output: (vec_id, cluster, keep, dup_of) — `dup_of` is the smallest
    * qualifying cluster-mate id, null for kept rows.
    */
  def semanticDedup(embeddings: DataFrame, k: Int = 8, iters: Int = 5,
      threshold: Double = 0.95, seeding: String = "lowest"): DataFrame = {
    val (cents, _) = kMeansFit(embeddings, k, iters, seeding)
    val assigned = assignClusters(embeddings, cents)
      .select(col("vec_id"), col("embedding"), col("cluster"))
    val dupOf = assigned
      .select(col("cluster"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"))
      .join(assigned.select(col("cluster"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb")), Seq("cluster"))
      .filter(col("b_id") < col("a_id"))
      .filter(round(cosine(col("a_emb"), col("b_emb")), 6) >= threshold)
      .groupBy(col("a_id").as("vec_id"))
      .agg(min(col("b_id")).as("dup_of"))
    assigned.select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNull.as("keep"), col("dup_of"))
  }
}
