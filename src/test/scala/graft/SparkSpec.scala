package graft

import java.io.File

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core.Sessions
import graft.sources.Tables

/** Shared local session + sf0.001 tables for the whole suite. The
  * session is the production one ([[Sessions.local]]) at 4 cores, so
  * the suite checks the engine the harness mains run.
  */
object SparkSpec {
  lazy val spark: SparkSession =
    Sessions.local("graft-test", cores = 4, shufflePartitions = 4)
  val sfDir = "/root/testdata/sf0.001"
  lazy val tables: Tables = Tables(spark, sfDir)

  /** Every line of the Scala sources under `src/main/scala` and
    * `src/test/scala` as (path, 1-based line number, text), for the
    * source-scan guards. */
  lazy val sourceLines: Seq[(String, Int, String)] = {
    def files(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    for {
      f <- Seq("src/main/scala", "src/test/scala")
        .flatMap(d => files(new File(d)))
      path = f.getPath.replace(File.separatorChar, '/')
      (line, n) <- scala.io.Source.fromFile(f, "UTF-8").getLines()
        .zipWithIndex.toSeq
    } yield (path, n + 1, line)
  }
}

trait SparkSpec extends AnyFunSuite with Matchers {
  // Stable val (not def) so `import spark.implicits._` compiles in specs.
  lazy val spark: SparkSession = SparkSpec.spark
  def tables: Tables = SparkSpec.tables

  /** Physical-plan string for plan-shape assertions. */
  def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  /** Rows as a set of Seq[Any] — order-insensitive comparison. */
  def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** The properties of every Spark job `body` starts on this thread in
    * `session`, collected once the listener bus has delivered every
    * event. */
  def jobsOf(session: SparkSession)(body: => Unit): Seq[java.util.Properties] = {
    val sc = session.sparkContext
    val group = s"spark-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(jobs.add)
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, getClass.getSimpleName)
    try body
    finally {
      sc.clearJobGroup()
      TestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.toArray(Array.empty[java.util.Properties]).toSeq
  }
}
