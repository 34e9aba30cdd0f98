package graft

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
}
