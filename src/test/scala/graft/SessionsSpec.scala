package graft

import java.io.File

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
    def files(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val sources = Seq("src/main/scala", "src/test/scala")
      .flatMap(d => files(new File(d)))
    sources.size should be > 50 // the scan must see the tree
    val offenders = for {
      f <- sources
      path = f.getPath.replace(File.separatorChar, '/')
      if !path.contains("/graft/core/") && f.getName != "SessionsSpec.scala"
      (line, n) <- scala.io.Source.fromFile(f, "UTF-8").getLines()
        .zipWithIndex.toSeq
      b <- banned if line.contains(b)
    } yield s"$path:${n + 1}: $b"
    offenders shouldBe empty
  }
}
