package graft

import graft.plans.PartialAggPushdown

/** Guards for the one-session, one-buffer-owner layout: the suite runs
  * the production session, and no code path builds its own session or
  * buffers an intermediate behind `graft.core`'s back.
  */
class SessionsSpec extends SparkSpec {

  test("the shared session resolves graft's SQL functions unregistered") {
    val sig = spark.sql(
      "SELECT minhash_signature(array('a', 'b', 'c'), 8) AS s").head()
    sig.getSeq[Long](0).length shouldBe 8
  }

  test("the shared session's optimizer carries PartialAggPushdown") {
    // injected by GraftExtensions at session build, whatever the suite
    // order — no spec appends it
    spark.sessionState.optimizer.batches.flatMap(_.rules) should
      contain(PartialAggPushdown)
  }

  test("sessions and buffers are built only in graft/core") {
    val banned = Seq("SparkSession.builder", ".persist(", ".localCheckpoint(")
    // the scan must see the tree
    SparkSpec.sourceLines.map(_._1).distinct.size should be > 50
    val offenders = for {
      (path, n, line) <- SparkSpec.sourceLines
      if !path.contains("/graft/core/") && !path.endsWith("/SessionsSpec.scala")
      b <- banned if line.contains(b)
    } yield s"$path:$n: $b"
    offenders shouldBe empty
  }
}
