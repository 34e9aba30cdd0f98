package graft

import org.apache.spark.sql.functions._

import graft.core.{Buffers, CrashHook}
import graft.operators.{Dedup, Pipeline, Similarity}

/** Exhaustive crash-point sweep over the corpus maintenance loop
  * (VERDICT r14 #2): instead of hand-picked crash windows, the
  * [[graft.core.CrashHook]] write-interceptor kills the driver after
  * EVERY durable table write / rename / drop in
  * build → indexes → delta+commit → compact → vacuum → retrain → drop,
  * and each killed run is then HEALED by its leg's documented recovery
  * and asserted equal to the clean outcome:
  *
  *   - build / index builds / compact / vacuum: re-run the operation
  *     (each is documented re-entrant — overwrite or self-healing swap)
  *   - delta+commit: re-run the full [[Pipeline.corpusBuildWithState]]
  *     on the new crawl (the scaladoc's mixed-generation reconcile)
  *   - retrain: re-run (the generation flip is the commit marker, so a
  *     crashed retrain re-trains the SAME generation)
  *   - dropGeneration: re-run (documented idempotent heal)
  *
  * Legs whose heal converges to the leg's own post-state (build,
  * indexes, compact, vacuum) sweep all their crash points on one
  * state; legs that advance state (commit, retrain, drop) get a fresh
  * state per crash point. Crash ordinals are enumerated from a clean
  * reference run of the same leg, so the sweep is exhaustive by
  * construction — a new table write added to any leg is swept
  * automatically.
  *
  * The corpus is deliberately tiny (the sweep re-runs whole legs tens
  * of times) and the v2 crawl carries no near-dup structure, so the
  * rebuild heal and the delta-maintained state agree on the standing
  * set exactly (no suppressed-twin divergence).
  */
class CrashSweepSpec extends SparkSpec {

  private final class SimulatedCrash(site: String)
    extends RuntimeException(s"simulated crash after $site")

  private lazy val v1 =
    Buffers.once(tables.documents.filter(col("doc_id") < 150))
  // shrink + edit + add, no dup structure (fresh docs get unique tails)
  private lazy val v2 = Buffers.once(v1.filter(col("doc_id") % 7 =!= 0)
    .withColumn("text", when(col("doc_id") % 5 === 0,
      concat(col("text"), lit(" sweepedit"))).otherwise(col("text")))
    .unionByName(v1.filter(col("doc_id") % 11 === 0).select(
      (col("doc_id") + 500000L).as("doc_id"),
      concat(col("text"), lit(" sweepfresh"), col("doc_id")).as("text"),
      col("lang"), col("source"), col("n_chars"))))
  private lazy val embs = Buffers.once(tables.embeddings
    .filter(col("vec_id") < 150).select("vec_id", "embedding", "label"))

  /** Run `body` with the hook collecting site labels (no crash). */
  private def enumerateSites(body: => Unit): Seq[String] = {
    val sites = scala.collection.mutable.ArrayBuffer.empty[String]
    CrashHook.arm(s => { sites += s; () })
    try body finally CrashHook.disarm()
    sites.toSeq
  }

  /** Run `body` crashing after its `i`-th mutation (1-based); returns
    * the site label crashed at. Fails the test if `body` completes
    * without reaching `i` mutations.
    */
  private def crashAt(i: Int)(body: => Unit): String = {
    var n = 0
    var crashed: String = null
    CrashHook.arm { s =>
      n += 1
      if (n == i) { crashed = s; throw new SimulatedCrash(s) }
    }
    try {
      val e = intercept[SimulatedCrash](body)
      e.getMessage should include(crashed)
    } finally CrashHook.disarm()
    crashed
  }

  private def dropState(prefix: String): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def specRow(p: String) =
    graft.sources.IndexSpec.readRequired(spark, p)

  // ---------------------------------------------------------- build

  test("crash sweep: corpus build heals by re-run at every write") {
    val ref = s"sweep_bref_${System.nanoTime()}"
    val p = s"sweep_b_${System.nanoTime()}"
    var refSites: Seq[String] = null
    var refChunks: Set[Seq[Any]] = null
    refSites = enumerateSites {
      refChunks = rowSet(Pipeline.corpusBuildWithState(v1, ref)
        .drop("bin_id", "shard"))
    }
    refSites should not be empty
    val refSnap = rowSet(spark.table(s"${ref}_snapshot"))
    val refStand = rowSet(spark.table(s"${ref}_standing"))
    val refBand = rowSet(spark.table(s"${ref}_neardup"))
    info(s"build leg: ${refSites.size} crash points")
    refSites.indices.foreach { idx =>
      val site = crashAt(idx + 1)(Pipeline.corpusBuildWithState(v1, p))
      // heal: the build is documented re-entrant — re-run overwrites
      val healed = rowSet(Pipeline.corpusBuildWithState(v1, p)
        .drop("bin_id", "shard"))
      withClue(s"after crash at $site: ") {
        healed shouldBe refChunks
        rowSet(spark.table(s"${p}_snapshot")) shouldBe refSnap
        rowSet(spark.table(s"${p}_standing")) shouldBe refStand
        rowSet(spark.table(s"${p}_neardup")) shouldBe refBand
      }
    }
    // behavioral: the healed state serves deltas (unchanged crawl = ∅)
    Pipeline.corpusDelta(v1, v1, p).count() shouldBe 0L
    dropState(ref); dropState(p)
  }

  // --------------------------------------------------- index builds

  test("crash sweep: companion index builds heal by re-run at every write") {
    val ref = s"sweep_iref_${System.nanoTime()}"
    val p = s"sweep_i_${System.nanoTime()}"
    def buildAll(pre: String): Unit = {
      Dedup.buildFingerprintIndex(v1, s"${pre}_fp")
      Dedup.buildSimhashIndex(v1, s"${pre}_sh")
      Dedup.buildWinnowIndex(v1, s"${pre}_wn")
      Similarity.buildIvfIndex(embs, s"${pre}_ivf", s"${pre}_ivf_cents")
    }
    val refSites = enumerateSites(buildAll(ref))
    refSites should not be empty
    val families = Seq("fp", "sh", "wn", "ivf", "ivf_cents")
    val refSets = families.map(f =>
      f -> rowSet(spark.table(s"${ref}_$f"))).toMap
    info(s"index leg: ${refSites.size} crash points")
    refSites.indices.foreach { idx =>
      val site = crashAt(idx + 1)(buildAll(p))
      buildAll(p) // heal: overwrite builds are re-entrant
      withClue(s"after crash at $site: ") {
        families.foreach(f =>
          rowSet(spark.table(s"${p}_$f")) shouldBe refSets(f))
      }
    }
    dropState(ref); dropState(p)
  }

  // --------------------------------------------------- delta commit

  test("crash sweep: a crashed commit reconciles by full rebuild at every write") {
    // reference: the documented heal outcome — a fresh v2 state
    val ref = s"sweep_cref_${System.nanoTime()}"
    Pipeline.corpusBuildWithState(v2, ref).count()
    val refSnap = rowSet(spark.table(s"${ref}_snapshot"))
    val refStand = rowSet(spark.table(s"${ref}_standing"))
    val refBand = rowSet(spark.table(s"${ref}_neardup"))
    // enumerate the commit's own crash points on a throwaway state
    val en = s"sweep_cen_${System.nanoTime()}"
    Pipeline.corpusBuildWithState(v1, en).count()
    val sites = enumerateSites(
      Pipeline.corpusDelta(v2, v1, en, commit = true).count())
    sites should not be empty
    info(s"commit leg: ${sites.size} crash points")
    sites.indices.foreach { idx =>
      val p = s"sweep_c_${System.nanoTime()}"
      Pipeline.corpusBuildWithState(v1, p).count()
      val site = crashAt(idx + 1)(
        Pipeline.corpusDelta(v2, v1, p, commit = true).count())
      // heal: scaladoc's "re-run the full corpusBuildWithState to
      // reconcile" — the mixed-generation state is overwritten wholesale
      Pipeline.corpusBuildWithState(v2, p).count()
      withClue(s"after crash at $site: ") {
        rowSet(spark.table(s"${p}_snapshot")) shouldBe refSnap
        rowSet(spark.table(s"${p}_standing")) shouldBe refStand
        rowSet(spark.table(s"${p}_neardup")) shouldBe refBand
        Pipeline.corpusDelta(v2, v2, p).count() shouldBe 0L
      }
      dropState(p)
    }
    dropState(ref); dropState(en)
  }

  // -------------------------------------------------------- compact

  test("crash sweep: compaction heals by re-run at every write and rename") {
    val p = s"sweep_k_${System.nanoTime()}"
    val c1 = Buffers.once(Pipeline.corpusBuildWithState(v1, p))
    val refSites = enumerateSites(
      Pipeline.compactCorpus(c1, p, s"${p}_cmp").count())
    refSites should not be empty
    val refCmp = rowSet(spark.table(s"${p}_cmp"))
    val refBand = rowSet(spark.table(s"${p}_neardup"))
    val refMaxBin = specRow(p).getAs[Long]("max_bin")
    info(s"compact leg: ${refSites.size} crash points")
    refSites.indices.foreach { idx =>
      val site = crashAt(idx + 1)(
        Pipeline.compactCorpus(c1, p, s"${p}_cmp").count())
      // heal: documented re-entrant — re-running overwrites the output
      // table and rewrites the spec; the band swap self-heals on entry
      Pipeline.compactCorpus(c1, p, s"${p}_cmp").count()
      withClue(s"after crash at $site: ") {
        rowSet(spark.table(s"${p}_cmp")) shouldBe refCmp
        rowSet(spark.table(s"${p}_neardup")) shouldBe refBand
        specRow(p).getAs[Long]("max_bin") shouldBe refMaxBin
      }
    }
    dropState(p)
  }

  // --------------------------------------------------------- vacuum

  test("crash sweep: the index-vacuum policy heals by re-run at every write and rename") {
    val p = s"sweep_v_${System.nanoTime()}"
    Pipeline.corpusBuildWithState(v1, p).count()
    Dedup.buildFingerprintIndex(v1, s"${p}_fp")
    Dedup.buildSimhashIndex(v1, s"${p}_sh")
    Dedup.buildWinnowIndex(v1, s"${p}_wn")
    Similarity.buildIvfIndex(embs, s"${p}_ivf", s"${p}_ivf_cents")
    // committed shrink so every index holds departed-doc garbage
    val v2s = Buffers.once(v1.filter(col("doc_id") % 3 =!= 0))
    Pipeline.corpusDelta(v2s, v1, p, commit = true).count()
    def policy(): Unit = Pipeline.vacuumIndexes(spark, p,
      fingerprintIndex = Some(s"${p}_fp"),
      simhashIndex = Some(s"${p}_sh"),
      winnowIndex = Some(s"${p}_wn"),
      semanticIndex = Some(s"${p}_ivf"))
    val refSites = enumerateSites(policy())
    refSites should not be empty
    val families = Seq("fp", "sh", "wn", "ivf", "neardup")
    val refSets = families.map(f =>
      f -> rowSet(spark.table(s"${p}_$f"))).toMap
    info(s"vacuum leg: ${refSites.size} crash points")
    refSites.indices.foreach { idx =>
      val site = crashAt(idx + 1)(policy())
      policy() // heal: every leg idempotent, swaps self-heal on entry
      withClue(s"after crash at $site: ") {
        families.foreach(f =>
          rowSet(spark.table(s"${p}_$f")) shouldBe refSets(f))
      }
    }
    dropState(p)
  }

  // -------------------------------------------------------- retrain

  test("crash sweep: a crashed retrain re-runs into the same generation at every write") {
    val ref = s"sweep_rref_${System.nanoTime()}"
    Pipeline.corpusBuildWithState(v1, ref).count()
    var refChunks: Set[Seq[Any]] = null
    val refSites = enumerateSites {
      refChunks = rowSet(Pipeline.retrainState(v1, ref))
    }
    refSites should not be empty
    val refGen2 = Seq("mix_g2", "merges_g2", "vocab_g2").map(t =>
      t -> rowSet(spark.table(s"${ref}_$t"))).toMap
    info(s"retrain leg: ${refSites.size} crash points")
    refSites.indices.foreach { idx =>
      val p = s"sweep_r_${System.nanoTime()}"
      Pipeline.corpusBuildWithState(v1, p).count()
      val site = crashAt(idx + 1)(Pipeline.retrainState(v1, p).count())
      if (site == s"saveTable:${p}__spec") {
        // the spec flip IS the retrain's commit marker: a crash after
        // it is a COMPLETED retrain, not a window — gen 2 is live and
        // correct with no heal (a re-run would train gen 3, the
        // documented re-entrancy, deliberately not exercised here)
        withClue(s"after crash at $site (committed): ") {
          specRow(p).getAs[Int]("generation") shouldBe 2
          refGen2.foreach { case (t, rs) =>
            rowSet(spark.table(s"${p}_$t")) shouldBe rs
          }
        }
      } else {
        // crash BEFORE the flip leaves the OLD generation fully live
        specRow(p).getAs[Int]("generation") shouldBe 1
        Pipeline.corpusDelta(v1, v1, p).count() shouldBe 0L
        // heal: re-run — the marker never landed, so the re-run trains
        // the SAME generation, overwriting orphans
        val healed = rowSet(Pipeline.retrainState(v1, p))
        withClue(s"after crash at $site: ") {
          healed shouldBe refChunks
          specRow(p).getAs[Int]("generation") shouldBe 2
          refGen2.foreach { case (t, rs) =>
            rowSet(spark.table(s"${p}_$t")) shouldBe rs
          }
        }
      }
      dropState(p)
    }
    dropState(ref)
  }

  // ----------------------------------------------------------- drop

  test("crash sweep: a crashed generation drop heals by re-run at every drop") {
    val en = s"sweep_den_${System.nanoTime()}"
    Pipeline.corpusBuildWithState(v1, en).count()
    Pipeline.retrainState(v1, en).count()
    val sites = enumerateSites(Pipeline.dropGeneration(spark, en, 1))
    sites should not be empty
    info(s"drop leg: ${sites.size} crash points")
    sites.indices.foreach { idx =>
      val p = s"sweep_d_${System.nanoTime()}"
      Pipeline.corpusBuildWithState(v1, p).count()
      Pipeline.retrainState(v1, p).count()
      val site = crashAt(idx + 1)(Pipeline.dropGeneration(spark, p, 1))
      // heal: documented idempotent re-run (DROP IF EXISTS no-ops, the
      // min_generation advance commits)
      Pipeline.dropGeneration(spark, p, 1)
      withClue(s"after crash at $site: ") {
        specRow(p).getAs[Int]("min_generation") shouldBe 2
        Seq("mix", "merges", "vocab").foreach(t =>
          spark.catalog.tableExists(s"${p}_$t") shouldBe false)
        // the live generation still serves
        Pipeline.corpusDelta(v1, v1, p).count() shouldBe 0L
      }
      dropState(p)
    }
    dropState(en)
  }

  // ------------------------------------------------- streaming folds

  test("crash sweep: streaming store→index folds heal by re-run at every write") {
    import graft.streaming.Streams
    import spark.implicits._
    def tmp(tag: String): String = {
      // created-then-deleted: the ingest's store reads handle a MISSING
      // path (PATH_NOT_FOUND → empty), but an existing EMPTY dir fails
      // schema inference (the StreamingSpec fixture convention)
      val d = java.nio.file.Files
        .createTempDirectory(s"graft-sweep-$tag")
      java.nio.file.Files.delete(d)
      d.toString
    }

    // ---- band (minhash) fold: every durable fold mutation — the spec/
    // index writes through the Sinks funnels AND the store-partition
    // deletes (the one fold write previously outside the swept funnels,
    // VERDICT r15 #3) — killed, then healed by the documented re-run
    // (appendBandRows anti-joins on doc_id; leftover folded partitions
    // are rows the index already holds, removed by the re-run's GC).
    def bandCorpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    def bandSetup(): (String, String, String) = {
      val n = System.nanoTime()
      val idx = s"sweep_fold_band_$n"
      graft.operators.Dedup.ensureNearDupIndex(spark, idx)
      val (out, band) = (tmp("band-out"), tmp("band-store"))
      (0 until 3).foreach { i =>
        val docs = Seq((100L + i,
          (0 until 60).map(j => s"w${i}t$j").mkString(" ")))
          .toDF("doc_id", "text")
        Streams.minhashIngestBatch(docs, i.toLong, out, band,
          Some((idx, bandCorpus)))
      }
      (idx, out, band)
    }
    def bandPartitions(band: String): Seq[String] =
      new java.io.File(band).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
        .map(_.getName).sorted.toSeq
    locally {
      val (refIdx, _, refBand) = bandSetup()
      var refSites: Seq[String] = null
      refSites = enumerateSites {
        Streams.foldBandStore(spark, refBand, refIdx) shouldBe Seq(0L, 1L)
      }
      refSites should not be empty
      info(s"band-fold leg: ${refSites.size} crash points")
      val refRows = rowSet(spark.table(refIdx))
      val refParts = bandPartitions(refBand)
      refSites.indices.foreach { i =>
        val (idx, _, band) = bandSetup()
        val site = crashAt(i + 1)(Streams.foldBandStore(spark, band, idx))
        // heal: re-run the fold (append is a doc_id anti-join no-op for
        // rows that landed; GC deletes whatever the crash left)
        Streams.foldBandStore(spark, band, idx)
        withClue(s"after crash at $site: ") {
          rowSet(spark.table(idx)) shouldBe refRows
          bandPartitions(band) shouldBe refParts
        }
        dropState(idx)
      }
      dropState(refIdx)
    }

    // ---- vector (semantic/IVF) fold: same sweep over foldVectorStore
    // (appendIvfVectors anti-joins on vec_id — same heal argument).
    locally {
      val seed = embs.filter(col("vec_id") < 9)
      def vecSetup(): (String, String, String) = {
        val n = System.nanoTime()
        val (idx, cents) = (s"sweep_fold_ivf_$n", s"sweep_fold_cents_$n")
        graft.operators.Similarity.buildIvfIndex(seed, idx, cents)
        val (out, vec) = (tmp("vec-out"), tmp("vec-store"))
        (0 until 3).foreach { i =>
          val batch = embs
            .filter(col("vec_id") >= 20 + 10 * i &&
              col("vec_id") < 23 + 10 * i)
            .select("vec_id", "embedding")
          Streams.semanticIngestBatch(batch, i.toLong, out, vec, cents,
            threshold = 0.9999, nprobe = 1, indexTable = Some(idx))
        }
        (idx, cents, vec)
      }
      val (refIdx, refCents, refVec) = vecSetup()
      var refSites: Seq[String] = null
      refSites = enumerateSites {
        Streams.foldVectorStore(spark, refVec, refIdx, refCents)
          .shouldBe(Seq(0L, 1L))
      }
      refSites should not be empty
      info(s"vector-fold leg: ${refSites.size} crash points")
      val refRows = rowSet(spark.table(refIdx).select("vec_id", "cell"))
      refSites.indices.foreach { i =>
        val (idx, cents, vec) = vecSetup()
        val site = crashAt(i + 1)(
          Streams.foldVectorStore(spark, vec, idx, cents))
        Streams.foldVectorStore(spark, vec, idx, cents)
        withClue(s"after crash at $site: ") {
          rowSet(spark.table(idx).select("vec_id", "cell")) shouldBe refRows
        }
        dropState(idx); dropState(cents)
      }
      dropState(refIdx); dropState(refCents)
    }
  }
}
