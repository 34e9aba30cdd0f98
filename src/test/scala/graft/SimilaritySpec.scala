package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private lazy val queries = tables.embeddings.filter(col("vec_id") < 5)

  test("native cosine expression agrees bit-for-bit with the HOF form") {
    val both = tables.embeddings.crossJoin(
      queries.select(col("embedding").as("q_emb")))
      .select(
        Similarity.cosine(col("embedding"), col("q_emb")).as("native"),
        Similarity.cosineHof(col("embedding"), col("q_emb")).as("hof"))
    both.filter(col("native") =!= col("hof")).count() shouldBe 0
    // a native-only projection stays inside whole-stage codegen — the HOF
    // form in the same projection would disable it (that's why the native
    // expression exists)
    val nativeOnly = tables.embeddings.select(
      Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    nativeOnly.queryExecution.executedPlan
      .toString should include("*(1)") // WholeStageCodegen stage marker
  }

  test("native nearest-candidate agrees bit-for-bit with the HOF form") {
    // 37 arbitrary centroids off the corpus itself (including exact
    // duplicates of corpus vectors, so d2 = 0 ties exercise the
    // lowest-index tie-break both ways)
    val cents = tables.embeddings.orderBy("vec_id").limit(37)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val native = Similarity.assignClusters(tables.embeddings, cents)
      .select("vec_id", "cluster", "dist2")
    val hof = Similarity.assignClustersHof(tables.embeddings, cents)
      .select("vec_id", "cluster", "dist2")
    rowSet(native) shouldBe rowSet(hof) // EXACT doubles — no tolerance
    // and the native projection stays inside whole-stage codegen
    val plan = tables.embeddings.select(
      graft.functions.NearestCandidate(col("embedding"), cents))
      .queryExecution.executedPlan.toString
    plan should include("*(1)")
  }

  test("every native expression is callable from the SQL surface") {
    tables.embeddings.createOrReplaceTempView("emb_sql")
    val viaSql = spark.sql(
      """SELECT vec_id, round(cosine_similarity(embedding, embedding), 6) c
         FROM emb_sql""")
    viaSql.filter(col("c") =!= 1.0).count() shouldBe 0
    tables.documents.createOrReplaceTempView("docs_sql")
    val sig = spark.sql(
      """SELECT doc_id,
           minhash_signature(word_ngrams(split(text, '\\s+'), 3), 8) AS mh,
           simhash_signature(split(text, '\\s+')) AS sh
         FROM docs_sql""").collect()
    all(sig.map(_.getSeq[Long](1).length)) shouldBe 8
    sig.length should be > 0
  }

  test("native expressions reject wrong input types at analysis time") {
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      tables.lineitem.select(
        Similarity.cosine(col("l_quantity"), col("l_quantity"))).collect()
    }
    bad.getMessage should include("array<float>")
    val badGrams = intercept[org.apache.spark.sql.AnalysisException] {
      tables.lineitem.select(
        graft.functions.WordNgrams(col("l_quantity"), 3)).collect()
    }
    badGrams.getMessage should include("array<string>")
  }

  test("cosine: identical vectors 1.0, orthogonal 0.0") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f))
    ).toDF("a", "b")
      .select(round(Similarity.cosine(col("a"), col("b")), 9).as("c"))
    df.as[Double].collect().toSeq shouldBe Seq(1.0, 0.0)
  }

  test("bruteForceTopK: rank 1 for each query is the query itself") {
    val top = Similarity.bruteForceTopK(tables.embeddings, queries, k = 10)
    val r1 = top.filter(col("rnk") === 1)
      .select("q_id", "vec_id", "sim").collect()
    r1.length shouldBe 5
    all(r1.map(r => r.getAs[Long]("q_id") == r.getAs[Long]("vec_id"))) shouldBe true
    all(r1.map(_.getAs[Double]("sim"))) shouldBe 1.0
  }

  test("bruteForceTopK returns exactly k per query, descending") {
    val top = Similarity.bruteForceTopK(tables.embeddings, queries, k = 10)
      .collect()
    top.length shouldBe 50
    top.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      val sims = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("sim"))
      sims.toSeq shouldBe sims.sorted(Ordering[Double].reverse).toSeq
    }
  }

  test("lshTopK recall@10 vs brute force is >= 0.6 with 16x4-bit tables") {
    // this corpus is near-random (top-10 neighbor cosine ~0.3 => per-bit
    // agreement ~0.59): 16 tables x 4 bits gives expected recall ~0.87
    val exact = Similarity.bruteForceTopK(tables.embeddings, queries, k = 10)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.lshTopK(tables.embeddings, queries, k = 10,
      bits = 4, tables = 16)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    recall should be >= 0.6
  }

  test("lshTopK results are a subset of correct cosine ranking per bucket") {
    // every ANN hit's similarity matches the exact cosine for that pair
    val ann = Similarity.lshTopK(tables.embeddings, queries, k = 10,
      bits = 4, tables = 16)
    val withExact = ann.join(
      Similarity.bruteForceTopK(tables.embeddings, queries, k = 500)
        .withColumnRenamed("sim", "exact_sim")
        .select("q_id", "vec_id", "exact_sim"),
      Seq("q_id", "vec_id"))
    withExact.filter(col("sim") =!= col("exact_sim")).count() shouldBe 0
  }

  test("IVF with nprobe = #cells reproduces brute force exactly") {
    val all = rowSet(Similarity.ivfTopK(tables.embeddings, queries,
      k = 10, nprobe = 10))
    val brute = rowSet(Similarity.bruteForceTopK(tables.embeddings, queries,
      k = 10))
    all shouldBe brute
  }

  test("IVF recall degrades gracefully with fewer probed cells") {
    val brute = Similarity.bruteForceTopK(tables.embeddings, queries, k = 10)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(tables.embeddings, queries,
      k = 10, nprobe = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    // labels are weakly correlated with neighborhoods on this corpus;
    // probing half the cells must find a solid fraction of true neighbors
    recall should be >= 0.4
  }

  test("persisted LSH index path equals the inline lshTopK results") {
    Similarity.buildLshIndex(tables.embeddings, "test_lsh_index",
      bits = 4, tables = 16)
    val indexed = rowSet(Similarity.queryLshIndex(spark, "test_lsh_index",
      queries, k = 10, bits = 4, tables = 16))
    val inline = rowSet(Similarity.lshTopK(tables.embeddings, queries,
      k = 10, bits = 4, tables = 16))
    indexed shouldBe inline
  }

  test("persisted IVF index path equals the inline ivfTopK results") {
    Similarity.buildIvfIndex(tables.embeddings, "test_ivf_index",
      "test_ivf_centroids")
    val indexed = rowSet(Similarity.queryIvfIndex(spark, "test_ivf_index",
      "test_ivf_centroids", queries, k = 10, nprobe = 5))
    val inline = rowSet(Similarity.ivfTopK(tables.embeddings, queries,
      k = 10, nprobe = 5))
    indexed shouldBe inline
  }

  test("LSH index grown by appends equals one built from the full corpus") {
    val first = tables.embeddings.filter(col("vec_id") < 250)
    val rest = tables.embeddings.filter(col("vec_id") >= 250)
    Similarity.buildLshIndex(first, "test_lsh_grow", bits = 4, tables = 16)
    Similarity.appendLshIndex(rest, "test_lsh_grow", bits = 4, tables = 16)
    Similarity.buildLshIndex(tables.embeddings, "test_lsh_full",
      bits = 4, tables = 16)
    // bucket membership is a pure function of the vector, so growth by
    // append is indistinguishable from a full rebuild — probe included
    rowSet(spark.table("test_lsh_grow")) shouldBe
      rowSet(spark.table("test_lsh_full"))
    rowSet(Similarity.queryLshIndex(spark, "test_lsh_grow", queries,
      k = 10, bits = 4, tables = 16)) shouldBe
      rowSet(Similarity.queryLshIndex(spark, "test_lsh_full", queries,
        k = 10, bits = 4, tables = 16))
  }

  test("LSH append/probe with mismatched bits/tables fails loudly") {
    Similarity.buildLshIndex(tables.embeddings, "test_lsh_spec",
      bits = 4, tables = 16)
    // wrong bits: appended signatures would never match the index's
    // buckets — permanent silent recall loss, so it must throw instead
    an[IllegalArgumentException] should be thrownBy
      Similarity.appendLshIndex(tables.embeddings, "test_lsh_spec",
        bits = 8, tables = 16)
    an[IllegalArgumentException] should be thrownBy
      Similarity.queryLshIndex(spark, "test_lsh_spec", queries,
        k = 10, bits = 4, tables = 8)
    // wrong FAMILY: portable (md5/integer) and native signatures live
    // in disjoint hash spaces — same silent-recall-loss failure mode
    an[IllegalArgumentException] should be thrownBy
      Similarity.queryLshIndex(spark, "test_lsh_spec", queries,
        k = 10, bits = 4, tables = 16, portable = true)
  }

  test("portable signature reference form agrees bit-for-bit with the fused expression") {
    // lshSignaturePortable is the readable per-table reference; the
    // production pipeline uses the fused nested-HOF expression (one
    // 2-D plane literal). Same twin-gating as native-vs-HOF cosine:
    // the persisted index's (vec_id, tbl, sig) rows must equal the
    // reference signatures exactly
    val embs = tables.embeddings.filter(col("vec_id") < 60)
    Similarity.buildLshIndex(embs, "test_lsh_port_ref",
      bits = 4, tables = 16, portable = true)
    val ref = embs.select(col("vec_id"),
      posexplode(array((0 until 16).map(t =>
        Similarity.lshSignaturePortable(col("embedding"), 4, t)): _*))
        .as(Seq("tbl", "sig")))
    rowSet(spark.table("test_lsh_port_ref")
      .select("vec_id", "tbl", "sig")) shouldBe rowSet(ref)
  }

  test("portable LSH family: wrong embedding dimension fails loudly") {
    // zip_with null-pads a short vector: pre-guard, every dot-product
    // fold would go NULL → every bit 0 → one giant bucket, an all-pairs
    // candidate join instead of ANN. Must throw, not degrade.
    val short3 = Seq((1L, Array(0.1f, 0.2f, 0.3f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      short3.select(Similarity.lshSignaturePortable(
        col("embedding"), 4, 0).as("sig")).collect()
    }
    ex.getMessage should include("expected 64")
  }

  test("portable LSH family: recall holds and index path equals inline") {
    // the portable md5/integer planes are the oracle-replayable twin of
    // the native fused-codegen signatures (the q34 driver row): same
    // pipeline, different (but equally random) hyperplanes — so the
    // same recall expectation applies, and the persisted-index path
    // must reproduce the inline result exactly
    val exact = Similarity.bruteForceTopK(tables.embeddings, queries, k = 10)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.lshTopK(tables.embeddings, queries, k = 10,
      bits = 4, tables = 16, portable = true)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    recall should be >= 0.6
    Similarity.buildLshIndex(tables.embeddings, "test_lsh_port",
      bits = 4, tables = 16, portable = true)
    rowSet(Similarity.queryLshIndex(spark, "test_lsh_port", queries,
      k = 10, bits = 4, tables = 16, portable = true)) shouldBe
      rowSet(Similarity.lshTopK(tables.embeddings, queries,
        k = 10, bits = 4, tables = 16, portable = true))
  }

  test("IVF append assigns new vectors to existing centroids; probe finds them") {
    val first = tables.embeddings.filter(col("vec_id") < 250)
    val rest = tables.embeddings.filter(col("vec_id") >= 250)
    Similarity.buildIvfIndex(first, "test_ivf_grow", "test_ivf_grow_cents")
    Similarity.appendIvfIndex(spark, rest, "test_ivf_grow",
      "test_ivf_grow_cents")
    spark.table("test_ivf_grow").count() shouldBe 500L
    // an appended vector must be retrievable: probing ALL cells makes the
    // search exhaustive, so its own top-1 is itself at sim 1.0
    val q = rest.filter(col("vec_id") === 400)
    val top = Similarity.queryIvfIndex(spark, "test_ivf_grow",
      "test_ivf_grow_cents", q, k = 1, nprobe = 10).collect()
    top.length shouldBe 1
    top(0).getAs[Long]("vec_id") shouldBe 400L
    top(0).getAs[Double]("sim") shouldBe 1.0
  }

  test("persisted IVF probe scans only the probed cells' partitions") {
    Similarity.buildIvfIndex(tables.embeddings, "test_ivf_prune",
      "test_ivf_prune_cents")
    val probe = Similarity.queryIvfIndex(spark, "test_ivf_prune",
      "test_ivf_prune_cents", queries, k = 10, nprobe = 2)
    // partition pruning: the index scan's plan must carry the cell filter
    // (partition column), not read all 10 cells
    probe.queryExecution.executedPlan.toString should include("cell")
    probe.collect().length should be > 0
  }

  test("labelCentroids produces one dim-64 centroid per label") {
    val c = Similarity.labelCentroids(tables.embeddings).collect()
    c.length shouldBe 10
    all(c.map(_.getSeq[Float](1).length)) shouldBe 64
  }

  test("quantize/dequantize: per-element error <= scale/2, zero vector safe") {
    val vecs = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)), // all-zero: scale 0, no div-by-0
      (3L, Seq(127.0f, -127.0f, 1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeEmbeddings(vecs)
    val codes = q.orderBy("vec_id").collect()
    codes(1).getDouble(1) shouldBe 0.0
    codes(1).getSeq[Byte](2) shouldBe Seq[Byte](0, 0, 0, 0)
    codes(2).getSeq[Byte](2) shouldBe Seq[Byte](127, -127, 1, -1)
    val err = Similarity.dequantizeEmbeddings(q)
      .select(col("vec_id"), col("embedding").as("deq"))
      .join(vecs.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("orig")), "vec_id")
      .join(q.select(col("vec_id"), col("scale")), "vec_id")
      .select(col("scale"), explode(arrays_zip(col("deq"), col("orig"))).as("z"))
      .filter(abs(col("z.deq") - col("z.orig")) > col("scale") / 2 + 1e-6)
    err.count() shouldBe 0
  }

  test("brute-force top-k on dequantized int8 vectors: recall@10 >= 0.9") {
    val deq = Similarity.dequantizeEmbeddings(
      Similarity.quantizeEmbeddings(tables.embeddings))
    val qs = deq.filter(col("vec_id") < 5)
    val approx = Similarity.bruteForceTopK(deq, qs, 10)
      .select("q_id", "vec_id")
    val exact = Similarity.bruteForceTopK(tables.embeddings, queries, 10)
      .select("q_id", "vec_id")
    val hit = approx.intersect(exact).count().toDouble
    (hit / exact.count()) should be >= 0.9
  }

  test("native sign-LSH signatures agree bit-for-bit with the HOF form") {
    val bits = 6; val nTables = 5
    val hof = array((0 until nTables).map(t =>
      Similarity.lshSignature(col("embedding"), bits, t)): _*)
    val both = tables.embeddings.select(
      graft.functions.SignLshSignatures(col("embedding"), bits, nTables)
        .as("native"),
      hof.as("hof"))
    both.filter(col("native") =!= col("hof")).count() shouldBe 0
    // and the fused loop stays inside whole-stage codegen
    tables.embeddings.select(
      graft.functions.SignLshSignatures(col("embedding"), 8, 32).as("s"))
      .queryExecution.executedPlan.toString should include("*(1)")
  }

  test("cosineDupPairs finds only pairs above threshold, verified exactly") {
    val pairs = Similarity.cosineDupPairs(tables.embeddings,
      threshold = 0.9, bits = 4)
    pairs.filter(col("cos") < 0.9).count() shouldBe 0
    pairs.filter(col("id_a") >= col("id_b")).count() shouldBe 0
  }

  test("cosineDupPairs recall: planted near-duplicates are all caught") {
    // clone three corpus vectors with a tiny per-element nudge: cosine
    // stays ≳0.9999, far above threshold. Multi-table banding must catch
    // every planted pair (miss probability ~2e-8 per pair at defaults).
    val clones = tables.embeddings.filter(col("vec_id") < 3)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          x => x * lit(1.000001f)).as("embedding"))
    val planted = tables.embeddings.select("vec_id", "embedding")
      .union(clones)
    val found = Similarity.cosineDupPairs(planted, threshold = 0.99)
      .filter(col("id_b") >= 100000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    found should contain allOf(
      (0L, 100000L), (1L, 100001L), (2L, 100002L))
  }

  test("semanticDedup: min-id rule matches a driver brute force; clones dropped") {
    val clones = tables.embeddings.filter(col("vec_id") < 3)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          x => x * lit(1.000001f)).as("embedding"))
    val planted = tables.embeddings.select("vec_id", "embedding")
      .union(clones)
    val out = Similarity.semanticDedup(planted, k = 4, iters = 3,
      threshold = 0.99)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getBoolean(2), if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    // every planted clone is dropped in favor of a smaller id
    Seq(0L, 1L, 2L).foreach { id =>
      val row = got.find(_._1 == id + 100000).get
      row._3 shouldBe false
      row._4.get should be <= id
    }
    // independent driver-side replay of the rule: same fitted clusters
    // (kMeansFit is deterministic), exact cosines per cluster pair
    val asg = Similarity.kMeans(planted, k = 4, iters = 3)
      .select("vec_id", "cluster").as[(Long, Long)].collect().toMap
    val embs = planted.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; na += x * x; nb += y * y
      }
      math.round(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val expected = embs.keySet.map { id =>
      val mates = embs.keySet.filter(o =>
        o < id && asg(o) == asg(id) && cos(embs(o), embs(id)) >= 0.99)
      val dupOf = if (mates.isEmpty) None else Some(mates.min)
      (id, asg(id), dupOf.isEmpty, dupOf)
    }
    got shouldBe expected
  }

  test("probeSemanticIndex: clones screened; nprobe=#cells equals brute force") {
    val corpus = tables.embeddings.filter(col("vec_id") % 5 =!= 0)
    val clones = corpus.filter(col("vec_id") < 10)
      .select((col("vec_id") + 200000).as("vec_id"),
        transform(col("embedding"),
          x => x * lit(1.000001f)).as("embedding"),
        col("label"))
    val batch = tables.embeddings.filter(col("vec_id") % 5 === 0)
      .select("vec_id", "embedding", "label").union(clones)
    Similarity.buildIvfIndex(corpus, "sem_idx_t", "sem_cents_t")
    val out = Similarity.probeSemanticIndex(SparkSpec.spark, batch,
      "sem_idx_t", "sem_cents_t", threshold = 0.99, nprobe = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toMap
    // every planted clone lands in its original's cell and is screened
    corpus.filter(col("vec_id") < 10).select("vec_id").as[Long].collect()
      .foreach { id =>
        out(id + 200000)._1 shouldBe false
        out(id + 200000)._2.get should be <= id
      }
    // probing every cell removes the quantizer from the picture: the
    // screen must equal a cell-free driver brute force over the corpus
    val nCells = SparkSpec.spark.table("sem_cents_t").count().toInt
    val full = Similarity.probeSemanticIndex(SparkSpec.spark, batch,
      "sem_idx_t", "sem_cents_t", threshold = 0.99, nprobe = nCells)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      a.indices.foreach { i =>
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; na += x * x; nb += y * y
      }
      math.round(d / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val corpusEmb = corpus.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    val expected = batch.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().map { case (id, e) =>
        val mates = corpusEmb.collect {
          case (cid, ce) if cos(e, ce) >= 0.99 => cid }
        val dupOf = if (mates.isEmpty) None else Some(mates.min)
        (id, dupOf.isEmpty, dupOf)
      }.toSet
    full shouldBe expected
  }

  test("semanticDedup: output independent of input partitioning") {
    val base = tables.embeddings.select("vec_id", "embedding")
    rowSet(Similarity.semanticDedup(base.repartition(7), k = 4, iters = 3)) shouldBe
      rowSet(Similarity.semanticDedup(base, k = 4, iters = 3))
  }

  test("kMeansFit: objective descends and repeated runs are identical") {
    val (c1, obj1) = Similarity.kMeansFit(tables.embeddings, k = 4, iters = 4)
    val (c2, obj2) = Similarity.kMeansFit(tables.embeddings, k = 4, iters = 4)
    obj1.size shouldBe 4
    obj1.zip(obj1.tail).foreach { case (a, b) => b should be <= a + 1e-9 }
    c1.map(_.toSeq).toSeq shouldBe c2.map(_.toSeq).toSeq
    obj1 shouldBe obj2
  }

  test("farthest-point seeding: deterministic, escapes id-degenerate seeds") {
    // 4 well-separated clusters where the 4 LOWEST vec_ids all sit in
    // cluster 0 — exactly the layout (corpus sorted by source/region)
    // that makes lowest-id seeding degenerate: all its seeds start in
    // one cluster and Lloyd cannot un-merge the other three. Farthest-
    // point must land one seed per cluster and converge near-optimally.
    val pts = for { c <- 0 until 4; i <- 0 until 25 } yield {
      val base = Array.fill(8)(0.0f)
      base(c) = 10.0f
      val jit = ((c * 25 + i) * 37 % 10) * 0.01f
      ((c * 25 + i).toLong, base.toSeq.map(_ + jit))
    }
    val emb = pts.toDF("vec_id", "embedding")
    val (cf1, objF1) = Similarity.kMeansFit(emb, k = 4, iters = 5,
      seeding = "farthest")
    val (cf2, objF2) = Similarity.kMeansFit(emb, k = 4, iters = 5,
      seeding = "farthest")
    cf1.map(_.toSeq).toSeq shouldBe cf2.map(_.toSeq).toSeq
    objF1 shouldBe objF2
    val (_, objL) = Similarity.kMeansFit(emb, k = 4, iters = 5)
    // decisively better on the degenerate layout (merged clusters cost
    // ~the inter-cluster distance; spread seeds cost ~the jitter)
    objF1.last should be < objL.last * 0.5
    // and on the real (unstructured) corpus it stays at par — spread
    // seeding must not cost anything when ids are NOT degenerate
    val (_, oL) = Similarity.kMeansFit(tables.embeddings, k = 8, iters = 5)
    val (_, oF) = Similarity.kMeansFit(tables.embeddings, k = 8, iters = 5,
      seeding = "farthest")
    oF.last should be <= oL.last * 1.01
  }

  test("k-means|| seeding: objective parity with farthest; deterministic") {
    // the scale path (rounds+1 passes, independent of k) must match the
    // k-1-pass farthest seeding in quality on the real corpus...
    val (_, oF) = Similarity.kMeansFit(tables.embeddings, k = 8, iters = 5,
      seeding = "farthest")
    val (cP1, oP1) = Similarity.kMeansFit(tables.embeddings, k = 8,
      iters = 5, seeding = "parallel")
    oP1.last should be <= oF.last * 1.10
    // ...descend monotonically, and seed identically on reruns
    oP1.zip(oP1.tail).foreach { case (a, b) => b should be <= a + 1e-9 }
    val (cP2, oP2) = Similarity.kMeansFit(tables.embeddings, k = 8,
      iters = 5, seeding = "parallel")
    cP1.map(_.toSeq).toSeq shouldBe cP2.map(_.toSeq).toSeq
    oP1 shouldBe oP2
    // and on the id-degenerate layout it must also escape (the whole
    // point of D2-weighted oversampling): 4 separated clusters, lowest
    // ids all in cluster 0
    val pts = for { c <- 0 until 4; i <- 0 until 25 } yield {
      val base = Array.fill(8)(0.0f)
      base(c) = 10.0f
      val jit = ((c * 25 + i) * 37 % 10) * 0.01f
      ((c * 25 + i).toLong, base.toSeq.map(_ + jit))
    }
    val sep = pts.toDF("vec_id", "embedding")
    val (_, objL) = Similarity.kMeansFit(sep, k = 4, iters = 6)
    val (_, objP) = Similarity.kMeansFit(sep, k = 4, iters = 6,
      seeding = "parallel")
    objP.last should be < objL.last * 0.5
  }

  test("dimensionStats: order-independent per-dim extrema over the corpus") {
    val st = Similarity.dimensionStats(tables.embeddings)
      .collect().map(r => r.getInt(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    st.size shouldBe 64
    // spot-check dim 0 against a driver-side brute force
    val d0 = tables.embeddings
      .select(element_at(col("embedding"), 1).cast("double"))
      .as[Double].collect()
    st(0)._1 shouldBe d0.min
    st(0)._2 shouldBe d0.max
    st(0)._3 shouldBe math.max(math.abs(d0.min), math.abs(d0.max))
    // partitioning independence (extrema are order-free)
    val st2 = Similarity.dimensionStats(tables.embeddings.repartition(7))
      .collect().map(r => r.getInt(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    st2 shouldBe st
  }

  test("quantizePerDim: per-channel absmax scales hit full int8 range") {
    val vecs = Seq(
      (1L, Array(1.27f, 0.0f)),
      (2L, Array(-1.27f, 0.5f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizePerDim(vecs)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Byte](1).toSeq).toMap
    // dim 0 scale = 1.27/127, dim 1 scale = 0.5/127: extremes map to
    // +-127 per CHANNEL (a per-vector scale would squash dim 1)
    q(1L) shouldBe Seq[Byte](127, 0)
    q(2L) shouldBe Seq[Byte](-127, 127)
  }

  test("ivfRebuildPressure: drifted appends lower drift_cos; rebuild restores it") {
    def auditStats(): (Long, Double, Double) = {
      val rows = Similarity.ivfRebuildPressure(spark,
        "test_ivf_audit", "test_ivf_audit_cents").collect()
      rows.length shouldBe 10
      (rows.map(_.getAs[Long]("n_vecs")).sum,
        rows.map(_.getAs[Double]("drift_cos")).sum / rows.length,
        rows.map(_.getAs[Double]("mean_cos")).sum / rows.length)
    }
    val base = tables.embeddings.select("vec_id", "embedding", "label")
    Similarity.buildIvfIndexQuantized(base, "test_ivf_audit",
      "test_ivf_audit_cents")
    val (n0, drift0, mc0) = auditStats()
    n0 shouldBe base.count()

    // a hard distribution shift: every appended vector is offset toward
    // the all-ones direction, so the cells that absorb the appends see
    // their current mean walk away from the frozen centroid
    val drifted = base.select((col("vec_id") + 10000L).as("vec_id"),
      transform(col("embedding"), x => (x + lit(1.0f)).cast("float"))
        .as("embedding"), col("label"))
    Similarity.appendIvfIndex(spark, drifted, "test_ivf_audit",
      "test_ivf_audit_cents")
    val (n1, drift1, mc1) = auditStats()
    n1 shouldBe 2L * n0
    drift1 should be < drift0       // centroids no longer sit on their cells
    mc1 should be < mc0             // members fit the frozen quantizer worse

    // the rebuild the audit tells you to run: retrain the quantizer on
    // the CURRENT content — the audit returns to fresh-build shape
    Similarity.buildIvfIndexQuantized(base.unionByName(drifted),
      "test_ivf_audit", "test_ivf_audit_cents")
    val (n2, drift2, _) = auditStats()
    n2 shouldBe 2L * n0
    drift2 should be > drift1
    // and the fresh-build invariant itself: per-cell current mean is the
    // trained mean again, up to assignment-vs-label membership skew
    drift2 should be > (drift0 - 0.05)
  }

  test("compactIvfIndex: vacuum equals re-assignment of kept vectors under the frozen quantizer") {
    val all = tables.embeddings.select("vec_id", "embedding", "label")
    val kept = all.filter(col("vec_id") % 3 =!= 0)
    Similarity.buildIvfIndex(all, "ivf_vac", "ivf_vac_cents")
    Similarity.compactIvfIndex(spark, "ivf_vac", kept.select("vec_id"))
    // the reference: the SAME frozen quantizer over only the kept
    // vectors (a fresh buildIvfIndex would retrain centroids — that is
    // a rebuild, not a vacuum)
    Similarity.ensureIvfIndex(spark, "ivf_vac_fresh")
    Similarity.appendIvfVectors(spark, kept, "ivf_vac_fresh",
      "ivf_vac_cents")
    rowSet(spark.table("ivf_vac")) shouldBe
      rowSet(spark.table("ivf_vac_fresh"))
    // occupancy audit now reflects the live set, and the audit still
    // runs against the vacuumed table
    Similarity.ivfRebuildPressure(spark, "ivf_vac", "ivf_vac_cents")
      .agg(sum("n_vecs")).head().getLong(0) shouldBe kept.count()
    // re-entrant: vacuuming again (heals on entry) changes nothing
    Similarity.compactIvfIndex(spark, "ivf_vac", kept.select("vec_id"))
    rowSet(spark.table("ivf_vac")) shouldBe
      rowSet(spark.table("ivf_vac_fresh"))

    // the PARTITIONED crash window the bucketed heal test cannot see:
    // a dangling generation whose partition catalog entries still
    // point into the live table's directory (the state a crash between
    // a rename and its metadata sync leaves). Healing must re-sync
    // before dropping it — a naive drop would delete the LIVE table's
    // partition dirs at those stale locations.
    val want = rowSet(spark.table("ivf_vac"))
    spark.table("ivf_vac").write.mode("overwrite")
      .partitionBy("cell").saveAsTable("ivf_vac__old")
    // forge staleness: point every __old partition at the live table's
    // matching partition location
    val cat = spark.sessionState.catalog
    val oldId = org.apache.spark.sql.catalyst.TableIdentifier("ivf_vac__old")
    val liveId = org.apache.spark.sql.catalyst.TableIdentifier("ivf_vac")
    val livePartDirs = cat.listPartitions(liveId)
      .map(p => p.spec -> p.location).toMap
    cat.alterPartitions(oldId, cat.listPartitions(oldId).map(p =>
      p.copy(storage = p.storage.copy(
        locationUri = Some(livePartDirs(p.spec))))))
    graft.operators.Dedup.healIndexSwap(spark, "ivf_vac")
    spark.catalog.tableExists("ivf_vac__old") shouldBe false
    spark.catalog.refreshTable("ivf_vac")
    rowSet(spark.table("ivf_vac")) shouldBe want // live data survived
  }

  test("healIndexSwap: crash between the final rename and its repair leaves a readable index") {
    // the window the dangling-__old test cannot see: the tmp->table
    // RENAME completed but its MSCK sync did not, so the LIVE name's
    // partition entries point at the moved __vacuum paths and the
    // index reads empty — and a naive next vacuum would semi-join that
    // empty read into a permanently empty index. Heal must re-sync the
    // live table, not just clean up the dangling generations.
    val all = tables.embeddings.select("vec_id", "embedding", "label")
    val kept = all.filter(col("vec_id") % 3 =!= 0)
    Similarity.buildIvfIndex(all, "ivf_heal2", "ivf_heal2_cents")
    // the vacuumed generation, fully written (what a real vacuum's
    // write closure produces)
    graft.sources.Sinks.saveTablePartitioned(
      spark.table("ivf_heal2")
        .join(kept.select("vec_id"), Seq("vec_id"), "left_semi"),
      "ivf_heal2__vacuum", partitionBy = Seq("cell"))
    val want = rowSet(spark.table("ivf_heal2__vacuum"))
    // replay swapIndexTable's catalog steps, crashing right after the
    // second RENAME — before repairIfPartitioned(table)/refreshTable
    spark.sql("ALTER TABLE ivf_heal2 RENAME TO ivf_heal2__old")
    spark.sql("MSCK REPAIR TABLE ivf_heal2__old SYNC PARTITIONS")
    spark.sql("ALTER TABLE ivf_heal2__vacuum RENAME TO ivf_heal2")
    graft.operators.Dedup.healIndexSwap(spark, "ivf_heal2")
    spark.catalog.tableExists("ivf_heal2__old") shouldBe false
    spark.catalog.tableExists("ivf_heal2__vacuum") shouldBe false
    rowSet(spark.table("ivf_heal2")) shouldBe want
    // and the NEXT vacuum operates on the healed read, not an empty one
    Similarity.compactIvfIndex(spark, "ivf_heal2", kept.select("vec_id"))
    rowSet(spark.table("ivf_heal2")) shouldBe want
  }

  test("quantizedLabelCentroids agrees with the decimal form to one quantization unit") {
    val dec = Similarity.labelCentroids(tables.embeddings).collect()
      .map(r => r.getAs[Int]("label") -> r.getSeq[Float](1)).toMap
    val qnt = Similarity.quantizedLabelCentroids(tables.embeddings)
      .collect().map(r => r.getAs[Int]("label") -> r.getSeq[Float](1)).toMap
    qnt.keySet shouldBe dec.keySet
    for ((lab, qs) <- qnt; (q, d) <- qs.zip(dec(lab)))
      math.abs(q - d) should be <= 2e-6f  // floor vs round + decimal cast
  }
}
