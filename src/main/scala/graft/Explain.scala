package graft

import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of every SparkEntry query — the
  * artifact for plan review: check PushedFilters / ReadSchema on scans,
  * broadcast vs shuffle joins, TakeOrderedAndProject for top-N, and
  * WholeStageCodegen spans. Usage:
  *   runMain graft.Explain <sfDir> <outDir>
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.core.Sessions.local("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
      } catch {
        case e: Throwable =>
          Files.writeString(Paths.get(outDir, s"$name.txt"),
            s"EXPLAIN FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
