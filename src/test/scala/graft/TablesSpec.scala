package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampType}

import graft.sources.Tables

/** `Tables` opens each table file with a schema inferred once per session
  * and file version, and is the only code that opens a table file. */
class TablesSpec extends SparkSpec {

  private def open(t: Tables, name: String): DataFrame = name match {
    case "region" => t.region
    case "nation" => t.nation
    case "customer" => t.customer
    case "supplier" => t.supplier
    case "part" => t.part
    case "orders" => t.orders
    case "lineitem" => t.lineitem
    case "events" => t.events
    case "documents" => t.documents
    case "embeddings" => t.embeddings
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("every accessor gives the schema and rows of a plain parquet read") {
    Tables.names.size shouldBe 10
    Tables.names.foreach { name =>
      val plain = spark.read.parquet(s"${SparkSpec.sfDir}/$name.parquet")
      val expected =
        if (name != "events") plain
        else {
          // nanos as long, or timestamp[us] read as TIMESTAMP_NTZ
          val micros =
            if (plain.schema("ts").dataType == LongType)
              plain.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
            else plain
          micros.withColumn("ts", col("ts").cast("timestamp"))
        }
      val got = open(tables, name)
      withClue(name) {
        got.schema shouldBe expected.schema
        if (name == "events") got.schema("ts").dataType shouldBe TimestampType
        val cols = got.columns.take(3).toSeq ++
          (if (name == "events") Seq("ts") else Nil)
        val rows = sortedRows(got.select(cols.distinct.map(got.col): _*))
        rows should not be empty
        rows shouldBe sortedRows(
          expected.select(cols.distinct.map(expected.col): _*))
      }
    }
  }

  test("a second open of a table in one session starts no Spark job") {
    Tables.names.foreach(open(tables, _))
    jobsOf(spark) {
      Tables.names.foreach(n => open(Tables(spark, SparkSpec.sfDir), n).schema)
    } shouldBe empty
  }

  test("a rewritten table file is inferred again") {
    val dir = Files.createTempDirectory("graft-tables-spec")
    val target = dir.resolve("region.parquet")
    def writeAs(df: DataFrame, tag: String): Unit = {
      val out = dir.resolve(tag).toString
      df.coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
    }
    val t = Tables(spark, dir.toString)
    writeAs(spark.range(3).selectExpr("id AS a"), "v1")
    t.region.columns.toSeq shouldBe Seq("a")
    t.region.count() shouldBe 3L
    writeAs(spark.range(5).selectExpr("CAST(id AS STRING) AS b",
      "id * 2 AS c"), "v2")
    t.region.schema shouldBe StructType(Seq(
      StructField("b", org.apache.spark.sql.types.StringType),
      StructField("c", LongType)))
    sortedRows(t.region) shouldBe (0 until 5).map(i => s"$i|${i * 2}").sorted
  }

  test("another session infers for itself") {
    open(tables, "region")
    val other = spark.newSession()
    jobsOf(other)(Tables(other, SparkSpec.sfDir).region.schema) should not be empty
    jobsOf(other)(Tables(other, SparkSpec.sfDir).region.schema) shouldBe empty
    Tables(other, SparkSpec.sfDir).region.schema shouldBe tables.region.schema
  }

  test("table files are opened only through Tables") {
    // a `.parquet(` on a line naming a table file: a read (or write) of
    // the testdata that bypasses the session's schema memo
    val tableFile =
      ("""\.parquet\(.*/(""" + Tables.names.mkString("|") + """)\.parquet""").r
    SparkSpec.sourceLines.map(_._1).distinct.size should be > 50
    val offenders = for {
      (path, n, line) <- SparkSpec.sourceLines
      if !path.endsWith("/graft/sources/Tables.scala") &&
        !path.endsWith("/TablesSpec.scala")
      if tableFile.findFirstIn(line).nonEmpty
    } yield s"$path:$n: ${line.trim}"
    offenders shouldBe empty
  }
}
