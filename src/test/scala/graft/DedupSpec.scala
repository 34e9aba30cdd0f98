package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private lazy val withDups = Seq(
    (1L, "alpha beta gamma delta epsilon", "en", "s", 30L),
    (2L, "ALPHA  beta gamma delta epsilon", "en", "s", 31L), // exact dup mod case/ws
    (3L, "alpha beta gamma delta zeta", "en", "s", 27L),     // near dup
    (4L, "totally different text here now", "en", "s", 31L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exactDedup keeps the lowest doc_id per fingerprint") {
    val kept = Dedup.exactDedup(withDups).select("doc_id")
      .as[Long].collect().sorted
    kept.toSeq shouldBe Seq(1L, 3L, 4L)
  }

  test("exactGroups reports copy counts") {
    val g = Dedup.exactGroups(withDups)
      .filter(col("n_copies") > 1).collect()
    g.length shouldBe 1
    g(0).getAs[Long]("keep_id") shouldBe 1L
    g(0).getAs[Long]("n_copies") shouldBe 2L
  }

  test("dupStats n_docs = n_unique + n_dups") {
    val r = Dedup.dupStats(withDups).collect()(0)
    r.getAs[Long]("n_docs") shouldBe
      r.getAs[Long]("n_unique") + r.getAs[Long]("n_dups")
    r.getAs[Long]("n_dups") shouldBe 1L
  }

  test("shingles produces distinct n-grams; short docs yield empty") {
    val sh = withDups.select(col("doc_id"),
      Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    sh(1L) should contain("alpha beta gamma")
    sh(1L).length shouldBe 3 // 5 tokens -> 3 trigrams
    val short = Seq((9L, "one two")).toDF("doc_id", "text")
      .select(Dedup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].collect()(0)
    short shouldBe empty
  }

  test("jaccard: identical sets 1.0, disjoint sets 0.0") {
    val df = Seq(("a b c d e", "a b c d e"), ("a b c d e", "v w x y z"))
      .toDF("x", "y")
      .select(Dedup.jaccard(
        Dedup.shingles(col("x"), 3), Dedup.shingles(col("y"), 3)).as("j"))
    df.as[Double].collect().toSeq shouldBe Seq(1.0, 0.0)
  }

  test("native minhash signature: deterministic, k slots, unbiased estimate") {
    val df = Seq(
      ("a b c d e f g h i j k l", "a b c d e f g h i j k l"), // identical
      ("a b c d e f g h i j k l", "a b c d e f z y x w v u")  // ~half overlap
    ).toDF("x", "y")
      .select(
        Dedup.minhashSignature(Dedup.shingles(col("x"), 3), 64).as("sx"),
        Dedup.minhashSignature(Dedup.shingles(col("y"), 3), 64).as("sy"))
      .select(
        expr("size(filter(zip_with(sx, sy, (a, b) -> a = b), m -> m))")
          .cast("double").divide(lit(64.0)).as("est"))
      .collect().map(_.getDouble(0))
    df(0) shouldBe 1.0 // identical sets -> identical signatures
    // true trigram Jaccard of row 2 is 4/16 = 0.25; 64-hash estimate
    // should land well within 3 sigma (~0.16)
    df(1) should be(0.25 +- 0.17)
  }

  test("minhashDupPairs equals brute-force Jaccard on the corpus") {
    val lsh = rowSet(Dedup.minhashDupPairs(tables.documents,
      threshold = 0.7, k = 64, bands = 32))
    val brute = rowSet(Dedup.bruteForceJaccardPairs(tables.documents, 0.7))
    lsh shouldBe brute
    lsh.size shouldBe 28 // DuckDB golden at sf0.001
    // the 8-byte verify payload (hashShingles) is pair-for-pair AND
    // score-for-score identical — set Jaccard survives the per-shingle
    // xxhash64 unless two shingles of one pair collide in 64 bits
    rowSet(Dedup.minhashDupPairs(tables.documents,
      threshold = 0.7, k = 64, bands = 32,
      hashShingles = true)) shouldBe lsh
    // the postings-intersection verify (the r16 pricing alternative)
    // is pair-for-pair AND score-for-score identical too
    rowSet(Dedup.minhashDupPairsPostings(tables.documents,
      threshold = 0.7, k = 64, bands = 32)) shouldBe lsh
  }

  test("exactJaccardPairs: prefix filtering reproduces brute force exactly") {
    // exhaustiveness is the contract — at several thresholds, including
    // ones where ceil(t*n) lands on/near integer boundaries
    Seq(0.5, 0.7, 0.9).foreach { t =>
      rowSet(Dedup.exactJaccardPairs(tables.documents, threshold = t)) shouldBe
        rowSet(Dedup.bruteForceJaccardPairs(tables.documents, t))
    }
  }

  test("containmentPairs: asymmetric prefix filter reproduces brute force") {
    Seq(0.6, 0.8, 0.95).foreach { t =>
      rowSet(Dedup.containmentPairs(tables.documents, threshold = t)) shouldBe
        rowSet(Dedup.bruteForceContainmentPairs(tables.documents, t))
    }
  }

  test("containmentPairs: catches a quoted doc that Jaccard misses") {
    val short = "alpha beta gamma delta epsilon zeta"
    val long = s"intro words here $short plus a very long tail of many " +
      "other unrelated tokens stretching the union far beyond the quote " +
      "so the symmetric score collapses while containment stays perfect"
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, threshold = 0.9).collect()
    got.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 2L))
    got.head.getDouble(2) shouldBe 1.0 // every shingle of 1 appears in 2
    // the same pair is invisible to symmetric Jaccard at any dedup threshold
    Dedup.bruteForceJaccardPairs(docs, 0.5).count() shouldBe 0
  }

  test("containmentPairs: maxPairsPerDoc caps emissions, accounting reconciles") {
    val uncapped = Dedup.containmentPairs(tables.documents, threshold = 0.6)
    val capped = Dedup.containmentPairs(tables.documents, threshold = 0.6,
      maxPairsPerDoc = Some(1)).collect()
    val uncappedByDoc = uncapped.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length.toLong).toMap
    uncappedByDoc.values.max should be > 1L // the cap actually bites
    // per-doc: at most m rows kept, each carrying the TRUE total
    val cappedByDoc = capped.groupBy(_.getLong(0))
    cappedByDoc.foreach { case (docA, rows) =>
      rows.length shouldBe 1
      rows.foreach(
        _.getAs[Long]("n_pairs_total") shouldBe uncappedByDoc(docA))
    }
    cappedByDoc.keySet shouldBe uncappedByDoc.keySet
    // kept row is the argmax (highest containment, lowest doc_b tiebreak)
    val bestByDoc = uncapped.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.maxBy(r =>
        (r.getDouble(2), -r.getLong(1)))).toMap
    capped.foreach { r =>
      val best = bestByDoc(r.getLong(0))
      (r.getLong(1), r.getDouble(2)) shouldBe
        (best.getLong(1), best.getDouble(2))
    }
    // overflow accounting: Σ n_pairs_total over docs = uncapped total
    cappedByDoc.values.map(_.head.getAs[Long]("n_pairs_total")).sum shouldBe
      uncappedByDoc.values.sum
  }

  test("noveltyScores: df=1 shingle share, null rate for shingle-free docs") {
    val docs = Seq(
      (1L, "a b c d"), // "a b c" (shared with 2), "b c d" (unique)
      (2L, "a b c e"),
      (3L, "x y z w"), // fully novel
      (4L, "hi")       // no 3-gram shingles
    ).toDF("doc_id", "text")
    val out = Dedup.noveltyScores(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    out(1L) shouldBe ((2L, 1L, Some(0.5)))
    out(2L) shouldBe ((2L, 1L, Some(0.5)))
    out(3L) shouldBe ((2L, 2L, Some(1.0)))
    out(4L) shouldBe ((0L, 0L, None))
  }

  test("exactJaccardPairs: shingle-free docs are ignored, not crashed on") {
    val docs = Seq((1L, "one two three four"), (2L, "one two three four"),
      (3L, "hi"), (4L, "")).toDF("doc_id", "text") // 3,4: no 3-gram shingles
    val got = Dedup.exactJaccardPairs(docs, threshold = 0.7).collect()
    got.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((1L, 2L))
  }

  // simhash is a bag-of-distinct-tokens sketch: token ORDER must not
  // matter, token IDENTITY (incl. case) must
  private lazy val reordered = Seq(
    (1L, "alpha beta gamma delta epsilon"),
    (2L, "epsilon delta gamma beta alpha"), // same tokens, shuffled
    (3L, "totally different text here now")
  ).toDF("doc_id", "text")

  test("simhash near-dup pairs include the same-token-set pair") {
    val pairs = Dedup.simhashDupPairs(reordered, maxHamming = 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming"))).toSet
    pairs should contain((1L, 2L, 0)) // identical token set -> hamming 0
  }

  test("simhash is order-insensitive over tokens") {
    val sigs = Dedup.simhash(reordered.filter(col("doc_id") <= 2))
      .as[(Long, Long)].collect().toMap
    sigs(1L) shouldBe sigs(2L)
  }

  test("portable (md5) simhash pipeline agrees on the same-token-set pair") {
    val pairs = Dedup.simhashDupPairs(reordered, maxHamming = 3,
      portable = true)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming"))).toSet
    pairs should contain((1L, 2L, 0))
    // a 60-bit sketch: every signature must fit the positive 60-bit range
    // both engines can represent (the cross-engine contract of the md5
    // hash prefix)
    Dedup.simhashPortable(reordered).as[(Long, Long)].collect()
      .foreach { case (_, sig) =>
        sig should be >= 0L
        sig should be < (1L << 60)
      }
  }

  test("dupComponents resolves transitive chains to one canonical id") {
    // 1~2, 2~3 (no 1~3 edge) must still collapse to one component; 7~8
    // is a separate component; doc 9 appears in no pair -> absent
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val comps = Dedup.dupComponents(pairs)
      .as[(Long, Long)].collect().toMap
    comps shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L)
  }

  test("dupComponents reliable-checkpoint rounds match localCheckpoint") {
    // same transitive-chain fixture as above, through the parquet round
    // buffer a cluster run would use instead of executor-pinned blocks
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-rounds").toString
    val comps = Dedup.dupComponents(pairs, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    comps shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L)
    // the round buffer really went through the reliable path
    new java.io.File(s"$dir/edges").exists() shouldBe true
    new java.io.File(s"$dir/round_0").exists() shouldBe true
  }

  test("dupComponents converges on a long path within maxIter") {
    // a 12-node path: worst case for plain min propagation (diameter 11)
    val pairs = (1L to 11L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comps = Dedup.dupComponents(pairs, maxIter = 15)
      .as[(Long, Long)].collect().toMap
    comps.values.toSet shouldBe Set(1L)
    comps.size shouldBe 12
  }

  test("benchmarkOverlap plan broadcasts the benchmark gram set") {
    val p = Dedup.benchmarkOverlap(
      withDups.filter(col("doc_id") <= 2), withDups.filter(col("doc_id") > 2))
      .queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
  }

  test("benchmarkOverlap counts shared n-grams and keeps clean docs") {
    val corpus = Seq(
      (1L, "one two three four five six seven"), // shares grams w/ bench
      (2L, "nothing in common with that set at all")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "zero one two three four five end")
    ).toDF("doc_id", "text")
    val out = Dedup.benchmarkOverlap(corpus, bench, ngram = 5)
      .orderBy("doc_id").collect()
    // doc 1's 5-grams: {one..five, two..six, three..seven}; bench holds
    // {zero..four, one..five, two..end} -> exactly one shared gram
    out.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq shouldBe
      Seq((1L, 1L, true), (2L, 0L, false))
  }

  test("incrementalExactDedup: corpus-known content is screened out") {
    import SparkSpec.spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "ALPHA   beta gamma"), // normalizes to corpus doc 1 -> dropped
      (11L, "completely fresh content"),
      (12L, "delta epsilon"))      // exact corpus dup -> dropped
      .toDF("doc_id", "text")
    val out = Dedup.incrementalExactDedup(batch, corpus).collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(11L)
  }

  test("incrementalNearDup: mutated corpus copy caught, fresh doc clean") {
    import SparkSpec.spark.implicits._
    val corpus = tables.documents.filter(col("doc_id") < 400)
    // new batch: one near-dup of corpus doc 7 (a tail token appended,
    // trigram jaccard ~0.95) and one genuinely fresh doc
    val nearDup = corpus.filter(col("doc_id") === 7L)
      .select(lit(9001L).as("doc_id"),
        concat(col("text"), lit(" zzztail")).as("text"))
    val fresh = Seq((9002L,
      "entirely novel sequence of improbable tokens nobody wrote before"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNearDup(
      nearDup.union(fresh), corpus, threshold = 0.7).collect()
    out.map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((9001L, 7L))
    out.head.getDouble(2) should be >= 0.7
  }

  test("fingerprint index: probe equals inline incrementalExactDedup") {
    val corpus = tables.documents
      .filter(col("doc_id") < 400 && col("doc_id") % 7 =!= 0)
    val growth = tables.documents
      .filter(col("doc_id") < 400 && col("doc_id") % 7 === 0)
    // batch: one exact dup of a corpus doc (normalization-invariant
    // case/whitespace noise), one fresh doc
    val dup = corpus.filter(col("doc_id") === 8L)
      .select(lit(9301L).as("doc_id"),
        upper(concat(lit("  "), col("text"))).as("text"))
    val fresh = Seq((9302L,
      "genuinely unseen content for the fingerprint probe"))
      .toDF("doc_id", "text")
    val batch = dup.union(fresh)
    Dedup.buildFingerprintIndex(corpus, "fp_idx_spec")
    rowSet(Dedup.probeFingerprintIndex(batch, "fp_idx_spec")) shouldBe
      rowSet(Dedup.incrementalExactDedup(batch, corpus))
    Dedup.probeFingerprintIndex(batch, "fp_idx_spec")
      .select("doc_id").as[Long].collect().toSeq shouldBe Seq(9302L)
    // append keeps the table a distinct set, identical to a rebuild —
    // including when the growth batch repeats corpus-known fingerprints
    Dedup.appendFingerprintIndex(growth.union(corpus.limit(5)), "fp_idx_spec")
    Dedup.buildFingerprintIndex(corpus.union(growth), "fp_idx_rebuilt")
    rowSet(SparkSpec.spark.table("fp_idx_spec")) shouldBe
      rowSet(SparkSpec.spark.table("fp_idx_rebuilt"))
    SparkSpec.spark.table("fp_idx_spec").groupBy("fp").count()
      .filter(col("count") > 1).count() shouldBe 0L
  }

  test("duplicatedSpanRuns: maximal cross-doc runs; in-doc repeats ignored") {
    val docs = Seq(
      (1L, "a b c d e f g h i j unique1 unique2"),
      (2L, "x y a b c d e f g h i j z"),
      (3L, "p q r s p q r s t u v w"), // repeats only WITHIN one doc
      (4L, "m n o")                    // shorter than the window
    ).toDF("doc_id", "text")
    val runs = Dedup.duplicatedSpanRuns(docs, window = 4)
      .orderBy("doc_id", "start_tok")
      .as[(Long, Long, Long, String)].collect().toSeq
    // overlapping dup windows merge into ONE maximal run per doc — the
    // shared 10-token passage, not seven 4-token windows
    runs shouldBe Seq(
      (1L, 1L, 10L, "a b c d e f g h i j"),
      (2L, 3L, 12L, "a b c d e f g h i j"))
    // partitioning never changes the answer
    rowSet(Dedup.duplicatedSpanRuns(docs.repartition(5), window = 4)) shouldBe
      rowSet(Dedup.duplicatedSpanRuns(docs, window = 4))
    // the hash-keyed scale path answers identically (no collisions at
    // this size; collisions can only add spurious dup windows anyway)
    rowSet(Dedup.duplicatedSpanRuns(docs, window = 4, hashSpans = true)) shouldBe
      rowSet(Dedup.duplicatedSpanRuns(docs, window = 4))
    // and the df shuffle really does carry 8-byte keys, not span strings
    rowSet(Dedup.duplicatedSpanRuns(
      tables.documents.filter(col("doc_id") < 300), hashSpans = true)) shouldBe
      rowSet(Dedup.duplicatedSpanRuns(
        tables.documents.filter(col("doc_id") < 300)))
  }

  test("stripDuplicatedSpans cuts runs, keeps everything else in order") {
    val docs = Seq(
      (1L, "a b c d e f g h i j unique1 unique2"),
      (2L, "x y a b c d e f g h i j z"),
      (3L, "p q r s p q r s t u v w"),
      (4L, "m n o"),
      (5L, "a b c d e f g h i j")      // fully duplicated -> empty text
    ).toDF("doc_id", "text")
    val out = Dedup.stripDuplicatedSpans(docs, window = 4)
      .orderBy("doc_id").as[(Long, String, Long)].collect().toSeq
    out shouldBe Seq(
      (1L, "unique1 unique2", 10L),
      (2L, "x y z", 10L),
      (3L, "p q r s p q r s t u v w", 0L),
      (4L, "m n o", 0L),
      (5L, "", 10L))
  }

  test("bloom tier: probe equals plain index probe; no false negatives") {
    val corpus = tables.documents
      .filter(col("doc_id") < 400 && col("doc_id") % 7 =!= 0)
    val batch = tables.documents
      .filter(col("doc_id") < 400 && col("doc_id") % 7 === 0)
    Dedup.buildFingerprintIndex(corpus, "fp_idx_bt")
    Dedup.buildBloomIndex(corpus, "bloom_idx_bt", "fp_idx_bt")
    val probed = Dedup.probeBloomIndex(batch, "bloom_idx_bt", "fp_idx_bt")
    rowSet(probed) shouldBe
      rowSet(Dedup.probeFingerprintIndex(batch, "fp_idx_bt"))
    // the bloom predicate is actually in the plan (per-row screen, not
    // a join), and corpus rows re-probed come back empty — the
    // no-false-negative guarantee end to end
    probed.queryExecution.executedPlan.toString should include("might_contain")
    Dedup.probeBloomIndex(corpus, "bloom_idx_bt", "fp_idx_bt")
      .count() shouldBe 0L
  }

  test("bloom tier: saturated high-fpp filter stays exact via the residue join") {
    val corpus = tables.documents
      .filter(col("doc_id") < 400 && col("doc_id") % 7 =!= 0)
    val batch = tables.documents
      .filter(col("doc_id") < 400 && col("doc_id") % 7 === 0)
    // fpp = 0.9 → a few hundred bits for ~340 docs: nearly every batch
    // row is a false positive and funnels into the anti-join, which
    // must absorb them all without changing the answer
    Dedup.buildBloomIndex(corpus, "bloom_idx_sat", "fp_idx_bt", fpp = 0.9)
    rowSet(Dedup.probeBloomIndex(batch, "bloom_idx_sat", "fp_idx_bt")) shouldBe
      rowSet(Dedup.probeFingerprintIndex(batch, "fp_idx_bt"))
  }

  test("bloom tier: append folds a batch in; missing spec fails loudly") {
    val corpus = tables.documents
      .filter(col("doc_id") < 400 && col("doc_id") % 7 =!= 0)
    val growth = tables.documents
      .filter(col("doc_id") >= 400 && col("doc_id") < 450)
    Dedup.buildBloomIndex(corpus, "bloom_idx_gr", "fp_idx_gr")
    Dedup.appendBloomIndex(growth, "bloom_idx_gr")
    Dedup.buildFingerprintIndex(corpus.union(growth), "fp_idx_gr")
    // grown bloom + grown index: the growth docs are now known, so
    // re-probing them yields nothing; a genuinely fresh doc passes
    Dedup.probeBloomIndex(growth, "bloom_idx_gr", "fp_idx_gr")
      .count() shouldBe 0L
    val fresh = Seq((9401L, "bloom growth fresh unseen document text"))
      .toDF("doc_id", "text")
    Dedup.probeBloomIndex(fresh, "bloom_idx_gr", "fp_idx_gr")
      .select("doc_id").as[Long].collect().toSeq shouldBe Seq(9401L)
    // an index table with no spec beside it is half-built: reject
    graft.sources.Sinks.saveTable(
      Seq(Array[Byte](1, 2)).toDF("bloom"), "bloom_idx_nospec")
    an[IllegalStateException] should be thrownBy
      Dedup.probeBloomIndex(fresh, "bloom_idx_nospec", "fp_idx_gr")
    // probing against an index the bloom was NOT built over has no
    // superset guarantee — must be loud, not silently lossy
    an[IllegalArgumentException] should be thrownBy
      Dedup.probeBloomIndex(fresh, "bloom_idx_gr", "fp_idx_bt")
  }

  test("bloom tier: pre-pairing 3-column spec fails with a rebuild message") {
    // a bloom persisted before the pairing contract (spec = n_items,
    // fpp, num_bits) must get the explicit legacy diagnostic, not a
    // bare field-index error from reading the absent fourth column
    graft.sources.IndexSpec.write(
      Seq((1000L, 0.01, 9586L)).toDF("n_items", "fpp", "num_bits"),
      "bloom_idx_legacy")
    graft.sources.Sinks.saveTable(
      Seq(Array[Byte](1, 2)).toDF("bloom"), "bloom_idx_legacy")
    val batch = Seq((1L, "legacy spec probe doc")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.probeBloomIndex(batch, "bloom_idx_legacy", "fp_idx_bt")
    }
    ex.getMessage should include("legacy spec")
    ex.getMessage should include("fp_table")
  }

  test("bloom tier: geometry past the 4M runtime-filter clamp builds and merges") {
    val spark = SparkSpec.spark
    Seq("bloom_idx_big", "bloom_idx_big__spec")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // 8M expected items → ~76.7M bits, past BloomFilterAggregate's
    // default maxNumItems=4M / maxNumBits=2^26 clamps. Pre-fix the
    // batch aggregate built a CLAMPED filter and the sketch-side merge
    // with the unclamped bootstrap threw IncompatibleMergeException.
    Dedup.ensureBloomIndex(spark, "bloom_idx_big", "fp_idx_bt",
      expectedItems = 8000000L)
    Dedup.appendBloomFingerprints(
      Seq("fp-big-1", "fp-big-2").toDF("fp"), "bloom_idx_big")
    val spec = graft.sources.IndexSpec.readRequired(spark, "bloom_idx_big")
    spec.getLong(0) shouldBe 8000000L
    val bytes = spark.table("bloom_idx_big").head()
      .getAs[Array[Byte]]("bloom")
    val bf = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    // the stored filter really has the spec'd geometry, not the clamp
    bf.bitSize() should be >= spec.getLong(2)
    bf.bitSize() should be > (1L << 26)
    // and membership survived the merge (aggregate inserts xxhash64(fp))
    def h(fp: String): Long =
      Seq(fp).toDF("fp").select(xxhash64(col("fp"))).head().getLong(0)
    bf.mightContainLong(h("fp-big-1")) shouldBe true
    bf.mightContainLong(h("fp-big-2")) shouldBe true
  }

  test("bloom tier: empty corpus stores a real filter; probe passes batch through") {
    val spark = SparkSpec.spark
    Seq("bloom_idx_mt", "bloom_idx_mt__spec")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Dedup.ensureFingerprintIndex(spark, "fp_idx_mt")
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // pre-fix: a cardinality-0 BloomFilterAggregate returns NULL, the
    // stored NULL cell nulls every might_contain downstream, and BOTH
    // probe branches drop everything — a whole batch silently lost
    Dedup.buildBloomIndex(emptyDocs, "bloom_idx_mt", "fp_idx_mt")
    spark.table("bloom_idx_mt").head()
      .getAs[Array[Byte]]("bloom") should not be null
    val batch = Seq((1L, "empty corpus probe one"),
      (2L, "empty corpus probe two")).toDF("doc_id", "text")
    Dedup.probeBloomIndex(batch, "bloom_idx_mt", "fp_idx_mt")
      .select("doc_id").as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L)
  }

  test("near-dup index: probe equals inline incrementalNearDup") {
    val corpus = tables.documents
      .filter(col("doc_id") < 400 && col("doc_id") % 7 =!= 0)
    val nearDup = corpus.filter(col("doc_id") === 8L)
      .select(lit(9101L).as("doc_id"),
        concat(col("text"), lit(" zzztail")).as("text"))
    val fresh = Seq((9102L,
      "entirely novel sequence of improbable tokens nobody wrote before"))
      .toDF("doc_id", "text")
    val batch = nearDup.union(fresh)
    Dedup.buildNearDupIndex(corpus, "neardup_idx_spec")
    // probe and inline compute the SAME candidates (identical banding,
    // identical maxBucket pruning over the probed slice), so the result
    // is row-identical, not merely recall-equivalent
    val probed = Dedup.probeNearDupIndex(batch, corpus, "neardup_idx_spec")
    val inline = Dedup.incrementalNearDup(batch, corpus)
    rowSet(probed) shouldBe rowSet(inline)
    // the 8-byte verify payload is pair-for-pair AND score-for-score
    // identical on the probe path too (the corpus-delta screen runs it)
    rowSet(Dedup.probeNearDupIndex(batch, corpus, "neardup_idx_spec",
      hashShingles = true)) shouldBe rowSet(probed)
    // doc 8 sits in a real near-dup family of the synthetic corpus, so
    // its tailed copy matches every family member; the fresh doc matches
    // nothing
    val got = probed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    got should contain((9101L, 8L))
    got.map(_._1) shouldBe Set(9101L)
  }

  test("near-dup index grown by append equals one rebuilt from the union") {
    val base = tables.documents
      .filter(col("doc_id") < 400 && col("doc_id") % 7 =!= 0)
    val growth = tables.documents
      .filter(col("doc_id") < 400 && col("doc_id") % 7 === 0)
    Dedup.buildNearDupIndex(base, "neardup_idx_grown")
    Dedup.appendNearDupIndex(growth, "neardup_idx_grown")
    Dedup.buildNearDupIndex(base.union(growth), "neardup_idx_rebuilt")
    rowSet(SparkSpec.spark.table("neardup_idx_grown")) shouldBe
      rowSet(SparkSpec.spark.table("neardup_idx_rebuilt"))
    // a probe against the grown index sees the appended docs
    val nearDup = growth.limit(1)
      .select(lit(9201L).as("doc_id"),
        concat(col("text"), lit(" zzztail")).as("text"))
    val out = Dedup.probeNearDupIndex(
      nearDup, base.union(growth), "neardup_idx_grown").collect()
    out.map(_.getLong(0)).toSet shouldBe Set(9201L)
  }

  test("near-dup index vacuum equals a fresh build over the kept docs") {
    val base = tables.documents.filter(col("doc_id") < 400)
    val kept = base.filter(col("doc_id") % 3 =!= 0)
    Dedup.buildNearDupIndex(base, "neardup_idx_vac")
    Dedup.nearDupIndex().compact(SparkSpec.spark, "neardup_idx_vac",
      kept.select("doc_id"))
    Dedup.buildNearDupIndex(kept, "neardup_idx_vac_fresh")
    rowSet(SparkSpec.spark.table("neardup_idx_vac")) shouldBe
      rowSet(SparkSpec.spark.table("neardup_idx_vac_fresh"))
    // spec survived the swap, and the rename preserved the bucketed
    // layout: the probe's index-side scan still reports its buckets
    graft.sources.IndexSpec.readRequired(SparkSpec.spark,
      "neardup_idx_vac").getAs[Int]("buckets") shouldBe 32
    // the rename preserved the bucketed layout, asserted on the PROBE
    // ITSELF (ADVICE r16): the candidate join runs inside the verify's
    // eager construction-time materialization, so capture that job's
    // EXECUTED plan with a QueryExecutionListener and require the
    // swapped index's scan in it to be bucketed — a regression that
    // re-shuffles the index on probe now fails here, where the r16
    // proxy groupBy would have passed.
    // the captured plan shows the index scan only on the
    // localCheckpoint path; the persist path would surface a cached
    // relation instead
    graft.core.Buffers.keepsLineage(SparkSpec.spark) shouldBe false
    val capturedPlans =
      new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        capturedPlans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    SparkSpec.spark.listenerManager.register(listener)
    val probe =
      try {
        val p = Dedup.probeNearDupIndex(
          kept.limit(1).select(lit(9301L).as("doc_id"), col("text")),
          kept, "neardup_idx_vac")
        // listener delivery is async (sub-second) — poll for the
        // candidate job's plan
        val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
        def hit(): Boolean = {
          import scala.jdk.CollectionConverters._
          capturedPlans.asScala.exists(s =>
            s.contains("neardup_idx_vac") && s.contains("Bucketed: true"))
        }
        while (!hit() && System.nanoTime() < deadline) Thread.sleep(50)
        withClue("probe's construction-time candidate job must consume " +
          "the bucketed index scan: ") { hit() shouldBe true }
        p
      } finally SparkSpec.spark.listenerManager.unregister(listener)
    probe.collect().map(_.getLong(0)).toSet shouldBe Set(9301L)
  }

  test("vacuum swap self-heals from every crash window") {
    val spark = SparkSpec.spark
    val base = tables.documents.filter(col("doc_id") < 300)
    val kept = base.filter(col("doc_id") % 3 =!= 0)
    val t = "neardup_idx_heal"
    Dedup.buildNearDupIndex(base, t)
    Dedup.nearDupIndex().compact(spark, t, kept.select("doc_id"))
    val want = rowSet(spark.table(t))

    // window 1 — crashed BETWEEN the two renames: the vacuumed rows sit
    // under __vacuum, the live generation under __old, the index name
    // vacant. Simulate the exact catalog state, then heal: the VACUUMED
    // generation must win, both leftovers reclaimed.
    spark.table(t).write.mode("overwrite")
      .saveAsTable(s"${t}__old_src")
    spark.sql(s"ALTER TABLE $t RENAME TO ${t}__old")
    graft.sources.Sinks.saveTablePartitioned(
      spark.table(s"${t}__old_src"), s"${t}__vacuum",
      bucketBy = Some((32, Seq("band_idx", "band_hash"))),
      sortBy = Seq("band_idx", "band_hash"))
    graft.sources.PersistedIndex.healIndexSwap(spark, t)
    rowSet(spark.table(t)) shouldBe want
    spark.catalog.tableExists(s"${t}__vacuum") shouldBe false
    spark.catalog.tableExists(s"${t}__old") shouldBe false

    // window 2 — crashed before the first rename: stale __vacuum with
    // the index live. Heal drops the stale tmp, index untouched.
    spark.table(s"${t}__old_src").write.mode("overwrite")
      .saveAsTable(s"${t}__vacuum")
    graft.sources.PersistedIndex.healIndexSwap(spark, t)
    rowSet(spark.table(t)) shouldBe want
    spark.catalog.tableExists(s"${t}__vacuum") shouldBe false

    // window 3 — crashed before the final drop: dangling __old with the
    // swap complete. Heal drops the superseded generation.
    spark.table(s"${t}__old_src").write.mode("overwrite")
      .saveAsTable(s"${t}__old")
    graft.sources.PersistedIndex.healIndexSwap(spark, t)
    rowSet(spark.table(t)) shouldBe want
    spark.catalog.tableExists(s"${t}__old") shouldBe false

    // and a re-entrant vacuum (which heals on entry) stays correct and
    // probe-able end to end
    Dedup.nearDupIndex().compact(spark, t, kept.select("doc_id"))
    rowSet(spark.table(t)) shouldBe want
    graft.sources.IndexSpec.readRequired(spark, t)
      .getAs[Int]("buckets") shouldBe 32
    spark.sql(s"DROP TABLE ${t}__old_src")
  }

  test("fingerprint/simhash/winnow vacuums equal fresh builds over the kept docs") {
    val spark = SparkSpec.spark
    val base = tables.documents.filter(col("doc_id") < 400)
    val kept = base.filter(col("doc_id") % 3 =!= 0)

    // fingerprint: liveness arrives as the live fp SET (the snapshot-
    // table shape) — no text rescan of the corpus
    Dedup.buildFingerprintIndex(base, "fp_idx_vac")
    Dedup.fingerprintIndex().compact(spark, "fp_idx_vac",
      graft.operators.TextAnalysis.fingerprints(kept).select("fp"))
    Dedup.buildFingerprintIndex(kept, "fp_idx_vac_fresh")
    rowSet(spark.table("fp_idx_vac")) shouldBe
      rowSet(spark.table("fp_idx_vac_fresh"))
    // the vacuumed index still screens: a kept doc probes as known,
    // and a dropped doc probes as new again UNLESS its text survives
    // under a kept duplicate (this corpus is dup-heavy by design, so
    // the expectation is the fp anti-join, not the raw count)
    val dropped = base.filter(col("doc_id") % 3 === 0 &&
      col("doc_id") < 60)
    Dedup.probeFingerprintIndex(kept.filter(col("doc_id") < 60),
      "fp_idx_vac").count() shouldBe 0L
    val expectNew = graft.operators.TextAnalysis.fingerprints(dropped)
      .join(graft.operators.TextAnalysis.fingerprints(kept).select("fp"),
        Seq("fp"), "left_anti")
      .select("doc_id").distinct().count()
    Dedup.probeFingerprintIndex(dropped, "fp_idx_vac")
      .count() shouldBe expectNew

    // simhash: per-doc chunk rows, vacuum by doc_id
    Dedup.buildSimhashIndex(base, "sh_idx_vac")
    Dedup.simhashIndex().compact(spark, "sh_idx_vac", kept.select("doc_id"))
    Dedup.buildSimhashIndex(kept, "sh_idx_vac_fresh")
    rowSet(spark.table("sh_idx_vac")) shouldBe
      rowSet(spark.table("sh_idx_vac_fresh"))
    graft.sources.IndexSpec.readRequired(spark, "sh_idx_vac")
      .getAs[Int]("buckets") shouldBe 32

    // winnow: posting rows keyed corpus_id; probe-time df needs no
    // adjustment because probeWinnowIndex derives it from the join
    Dedup.buildWinnowIndex(base, "wn_idx_vac")
    Dedup.winnowIndex().compact(spark, "wn_idx_vac",
      kept.select(col("doc_id").as("corpus_id")))
    Dedup.buildWinnowIndex(kept, "wn_idx_vac_fresh")
    rowSet(spark.table("wn_idx_vac")) shouldBe
      rowSet(spark.table("wn_idx_vac_fresh"))
    graft.sources.IndexSpec.readRequired(spark, "wn_idx_vac")
      .getAs[Int]("k") shouldBe 4
  }

  test("near-dup index append/probe with mismatched spec fails loudly") {
    val corpus = tables.documents.filter(col("doc_id") < 100)
    Dedup.buildNearDupIndex(corpus, "neardup_idx_guard",
      ngram = 3, k = 64, bands = 16)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.appendNearDupIndex(corpus, "neardup_idx_guard",
        ngram = 3, k = 64, bands = 32)
    }
    e1.getMessage should include("band hashes would never match")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.probeNearDupIndex(corpus, corpus, "neardup_idx_guard",
        ngram = 2, k = 64, bands = 16)
    }
    e2.getMessage should include("built with ngram=3")
  }

  test("simhash index: probe equals the cross-restricted self-join answer") {
    val docs = tables.documents.filter(col("doc_id") < 400)
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    Dedup.buildSimhashIndex(corpus, "simhash_idx_spec")
    val probed = Dedup.probeSimhashIndex(batch, "simhash_idx_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // ground truth: undirected self-join over the union, restricted to
    // (batch, corpus) pairs and re-directed (no bucket hits the default
    // maxBucket bound at this size, so the sets must match exactly)
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    val expected = Dedup.simhashDupPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .collect {
        case (a, b, h) if batchIds(a) && !batchIds(b) => (a, b, h)
        case (a, b, h) if batchIds(b) && !batchIds(a) => (b, a, h)
      }.toSet
    probed shouldBe expected
    probed.size should be > 0 // the corpus has real near-dup structure
  }

  test("simhash index grown by append equals a rebuild; spec guard fires") {
    val base = tables.documents.filter(col("doc_id") < 300)
    val growth = tables.documents
      .filter(col("doc_id") >= 300 && col("doc_id") < 400)
    Dedup.buildSimhashIndex(base, "simhash_idx_grown")
    Dedup.appendSimhashIndex(growth, "simhash_idx_grown")
    Dedup.buildSimhashIndex(base.union(growth), "simhash_idx_rebuilt")
    rowSet(SparkSpec.spark.table("simhash_idx_grown")) shouldBe
      rowSet(SparkSpec.spark.table("simhash_idx_rebuilt"))
    val e = intercept[IllegalArgumentException] {
      Dedup.probeSimhashIndex(base, "simhash_idx_grown", portable = true)
    }
    e.getMessage should include("signatures would never match")
  }

  test("dedupChunks keeps one canonical copy of a cross-doc repeated chunk") {
    import SparkSpec.spark.implicits._
    val docs = Seq(
      (1L, "a b c d x y z w"),
      (2L, "a b c d a b c d"), // repeats doc 1's first chunk, twice
      (3L, "p q r s")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupChunks(docs, chunkTokens = 4)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3), r.getLong(4)))
    out.toSeq shouldBe Seq(
      (1L, 0L, true, 3L), // canonical 'a b c d' of three copies
      (1L, 1L, true, 1L),
      (2L, 0L, false, 3L),
      (2L, 1L, false, 3L),
      (3L, 0L, true, 1L))
  }

  test("dedupChunks: both windows share one fingerprint shuffle") {
    val p = plan(Dedup.dedupChunks(tables.documents, 32))
    // at most the spread round-robin + the window hash partitioning
    "Exchange".r.findAllIn(p).length should be <= 2
  }

  test("resolveCanonical: max-score canonical, min-id tiebreak, singletons kept") {
    import SparkSpec.spark.implicits._
    val docs = Seq(
      (1L, "a", "en", "s", 10L),
      (2L, "b", "en", "s", 30L),
      (3L, "c", "en", "s", 30L), // ties doc 2 on score -> lower id wins
      (4L, "d", "en", "s", 99L)  // in no component: singleton survivor
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L))
      .toDF("doc_id", "component")
    val r = Dedup.resolveCanonical(docs, comps)
      .select("doc_id", "component", "canonical_id", "keep")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    r shouldBe Seq((1L, 1L, 2L, 0L), (2L, 1L, 2L, 1L),
      (3L, 1L, 2L, 0L), (4L, 4L, 4L, 1L))
  }

  test("resolveCanonical emits exactly one keeper per component") {
    val comps = Dedup.dupComponents(
      Dedup.minhashDupPairs(tables.documents, threshold = 0.7,
        k = 64, bands = 32))
    val res = Dedup.resolveCanonical(tables.documents, comps)
    res.count() shouldBe tables.documents.count()
    res.groupBy("component")
      .agg(sum("keep").as("n_keep"))
      .filter(col("n_keep") =!= 1L).count() shouldBe 0
  }

  test("winnowing: shared-run guarantee, short-doc fallback, invariance") {
    val (k, w) = (4, 5)
    // guarantee threshold is w+k−1 = 8 tokens: two docs sharing an
    // 8-token run must share at least one fingerprint HASH
    val run = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = Seq(
      (1L, s"unique preamble words here $run trailing bits"),
      (2L, s"$run completely different continuation tokens"),
      (3L, "tiny doc"),                    // 2 toks < k: no shingle at all
      (4L, "just five small tokens here")  // m=2 shingles < w: global min
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowingFingerprints(docs, k, w)
    val byDoc = fps.collect().groupBy(_.getLong(0))
    val h1 = byDoc(1L).map(_.getLong(2)).toSet
    val h2 = byDoc(2L).map(_.getLong(2)).toSet
    (h1 intersect h2) should not be empty
    byDoc.get(3L) shouldBe None
    byDoc(4L).length shouldBe 1
    // membership is a pure function of (doc, pos, tokens): repartition
    // the input and the fingerprint set is unchanged
    rowSet(Dedup.winnowingFingerprints(
      docs.repartition(7, col("text")), k, w)) shouldBe rowSet(fps)
  }

  test("winnowing: every w-window is covered on the real corpus") {
    // the paper's correctness property: each window of w consecutive
    // shingle hashes contains a selected fingerprint ⇔ the first
    // selected position is < w, consecutive selected positions gap by
    // ≤ w, and the last is within w of the end (m−w ≤ last)
    val (k, w) = (4, 5)
    val docs = tables.documents
    val fps = Dedup.winnowingFingerprints(docs, k, w)
    val m = docs.select(col("doc_id"),
      (org.apache.spark.sql.functions.size(
        graft.operators.TextAnalysis.tokens(col("text"))) - (k - 1))
        .as("m"))
      .filter(col("m") >= w) // full-window docs only
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val gaps = fps.join(m, Seq("doc_id"))
      .withColumn("prev", lag(col("pos"), 1).over(win))
      .withColumn("nxt", lead(col("pos"), 1).over(win))
    gaps.filter( // any uncovered window shows up as one of these
      (col("prev").isNull && col("pos") >= w) ||
      (col("prev").isNotNull && col("pos") - col("prev") > w) ||
      (col("nxt").isNull && col("pos") < col("m") - w))
      .count() shouldBe 0L
    fps.count() should be > 0L
  }

  test("winnow index: probe equals inline; grown index; geometry guards") {
    val docs = tables.documents
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    Seq("winnow_idx_t", "winnow_idx_t__spec")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // build on 3/5 of the corpus, append the rest: the grown index must
    // answer exactly like the inline computation over the union
    Dedup.buildWinnowIndex(docs.filter(col("doc_id") % 5 === 1 ||
      col("doc_id") % 5 === 2), "winnow_idx_t")
    Dedup.appendWinnowIndex(docs.filter(col("doc_id") % 5 === 3 ||
      col("doc_id") % 5 === 4), "winnow_idx_t")
    val probed = Dedup.probeWinnowIndex(batch, "winnow_idx_t")
    // inline truth: batch fps × corpus fps with the same df cut
    val cfps = Dedup.winnowingFingerprints(corpus)
      .select(col("doc_id").as("corpus_id"), col("fp")).distinct()
    val bfps = Dedup.winnowingFingerprints(batch)
      .select(col("doc_id").as("new_id"), col("fp")).distinct()
    val dfKeep = cfps.groupBy("fp").count().filter(col("count") <= 64)
      .select("fp")
    val truth = bfps.join(cfps, Seq("fp")).join(dfKeep, Seq("fp"))
      .groupBy("new_id", "corpus_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    rowSet(probed) shouldBe rowSet(truth)
    probed.count() should be > 0L // dup structure must actually match
    // replayed append: probe counts unchanged (dropDuplicates hardening)
    Dedup.appendWinnowIndex(docs.filter(col("doc_id") % 5 === 4),
      "winnow_idx_t")
    rowSet(Dedup.probeWinnowIndex(batch, "winnow_idx_t")) shouldBe
      rowSet(truth)
    // geometry mismatch and half-built stores fail loudly
    an[IllegalArgumentException] should be thrownBy
      Dedup.probeWinnowIndex(batch, "winnow_idx_t", k = 5)
    an[IllegalArgumentException] should be thrownBy
      Dedup.appendWinnowIndex(batch, "winnow_idx_t", w = 9)
    spark.sql("DROP TABLE IF EXISTS winnow_idx_t__spec")
    an[IllegalStateException] should be thrownBy
      Dedup.probeWinnowIndex(batch, "winnow_idx_t")
  }

  test("winnowingMatches: dup docs pair up; df cut drops boilerplate") {
    val pairs = Dedup.winnowingMatches(tables.documents)
    pairs.count() should be > 0L
    pairs.agg(min(col("n_shared"))).head().getLong(0) should be >= 2L
    // boilerplate: a 10-token run (≥ w+k−1 = 8, so sharing ≥ 1
    // fingerprint is GUARANTEED) prefixed to 6 otherwise-unrelated docs
    val run = "all rights reserved to the original copyright holder always ok"
    val boiler = Seq.tabulate(6)(i =>
      (i.toLong, s"$run unique$i body$i text$i filler$i more$i end$i"))
      .toDF("doc_id", "text")
    // positive control: without the cut binding, the shared run alone
    // connects every pair — C(6,2) = 15
    Dedup.winnowingMatches(boiler, minShared = 1).count() shouldBe 15L
    // maxDf = 1 cuts every hash seen in ≥ 2 docs, so NO cross-doc
    // sharing can survive: the boilerplate stops linking anything
    Dedup.winnowingMatches(boiler, minShared = 1, maxDf = 1)
      .count() shouldBe 0L
  }
}
