package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Buffers
import graft.operators.Dedup

/** [[Buffers.once]]'s persist path — the form a session with dynamic
  * allocation or decommissioning takes. Runs in its own JVM (build.sbt
  * testGrouping) whose session starts with
  * `spark.dynamicAllocation.enabled=true`: a core conf, fixed when the
  * SparkContext starts, so the shared suite session cannot switch to it.
  *
  * The leak this pins: a `Dataset.persist` buffer stays in the
  * session's CacheManager for the session's life unless someone
  * unpersists it. The persist path must instead leave nothing behind
  * once its consumers are dropped, as a localCheckpoint does.
  */
class BuffersPersistSpec extends SparkSpec {

  private def sc = spark.sparkContext

  private def nothingBuffered: Boolean =
    sc.getPersistentRDDs.isEmpty && sc.getRDDStorageInfo.isEmpty &&
      spark.sharedState.cacheManager.isEmpty

  /** GC until the ContextCleaner has reclaimed every buffer (or 20 s). */
  private def drained(): Boolean = {
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (!nothingBuffered && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(100)
    }
    nothingBuffered
  }

  test("this JVM's session is on the persist path") {
    Buffers.keepsLineage(spark) shouldBe true
  }

  test("once: an eager RDD buffer with lineage, outside the CacheManager") {
    def run(): Long = {
      val src = tables.documents.filter(col("doc_id") % 3 === 0)
      val before = sc.getPersistentRDDs.size
      val buf = Buffers.once(src)
      sc.getPersistentRDDs.size shouldBe before + 1
      spark.sharedState.cacheManager.isEmpty shouldBe true
      sc.getPersistentRDDs.values.exists(_.isCheckpointed) shouldBe false
      buf.count() shouldBe src.count()
      buf.count()
    }
    run() should be > 0L
    drained() shouldBe true
  }

  test("dropOversizedBuckets and verifyCandidates leave no buffer behind") {
    def run(): (Long, Long) = {
      val buckets = tables.documents
        .select(col("doc_id"), (col("doc_id") % 7).as("bucket"))
      val want = buckets.join(buckets.groupBy("bucket").count()
        .filter(col("count") <= 100), "bucket").count()
      val guarded = Dedup.dropOversizedBuckets(buckets, maxBucket = 100,
        keyCols = Seq("bucket"), materializeInput = true)
      sc.getPersistentRDDs should not be empty // it did buffer
      // minhashDupPairs verifies through verifyCandidates' buffer
      val pairs: DataFrame = Dedup.minhashDupPairs(tables.documents,
        threshold = 0.7, k = 64, bands = 32)
      pairs.count() should be > 0L
      (guarded.count(), want)
    }
    val (kept, want) = run()
    kept shouldBe want
    withClue(s"left behind: rdds ${sc.getPersistentRDDs.keys}, " +
        s"cached ${!spark.sharedState.cacheManager.isEmpty}: ") {
      drained() shouldBe true
    }
  }
}
