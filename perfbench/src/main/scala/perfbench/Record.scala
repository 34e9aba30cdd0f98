package perfbench

import java.io.File

/** Produces the expected output values of every query in queries.tsv on
  * one data directory: `query<TAB>rows<TAB>digest` lines on the expected
  * file, plus each query's output as parquet and the engine's DuckDB
  * twins in `oracle_sql.json` under `outDir`, so perfbench/xcheck.py can
  * confirm the recorded outputs against DuckDB before they are trusted.
  *
  * Usage: perfbench.Record <sfDir> <expected.tsv> <outDir> <queries.tsv>
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, expectedFile, outDir, queriesFile) = args
    val spark = graft.core.Sessions.local(appName = "perfbench-record",
      cores = Runtime.getRuntime.availableProcessors(),
      shufflePartitions = Runtime.getRuntime.availableProcessors())
    val names = Seq("floor_mix", "heavy_exec")
      .flatMap(w => QueryMix.load(new File(queriesFile), w))
    val lines = names.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val (rows, digest) = QueryMix.observe(df)
      graft.SparkEntry.queries(q)(spark, sfDir).write.mode("overwrite").parquet(s"$outDir/$q")
      println(s"$q\t$rows\t$digest")
      s"$q\t$rows\t$digest"
    }
    val header = s"# query\trows\tdigest on ${new File(sfDir).getName}; written by perfbench.Record\n"
    java.nio.file.Files.write(new File(expectedFile).toPath,
      (header + lines.mkString("", "\n", "\n")).getBytes("UTF-8"))
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.write(new File(s"$outDir/oracle_sql.json").toPath,
      Json.write(oracle).getBytes("UTF-8"))
    spark.stop()
  }
}
