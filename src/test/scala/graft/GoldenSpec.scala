package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{Relational, TextOps}
import graft.sources.Ingest

/** Golden parity tests on the reference corpus's OWN bundled datasets
  * (`/root/reference/101-hadoop-hdfs/datasets`):
  *
  *   - capra: the literal expected tuples documented in
  *     `301-spark-basics/README.md:68-76` — (sopra,1), (la,4), (2,4),
  *     (5,8), (s,5), (l,2), (sopra,(0)), (la,(0,1)). The 2-line file is
  *     committed verbatim as the test resource `golden/capra/capra.txt`
  *     and read from the test classpath, so these four tests run
  *     everywhere; where the reference corpus is present, the committed
  *     copy must be byte-identical to its `capra/capra.txt`;
  *   - divinacommedia: word counts vs an independent driver-side count
  *     of the same file (ASCII words only — the file is Latin-1 and the
  *     two readers may decode malformed bytes differently);
  *   - weather-sample: `parseWeather` avg-temperature-by-month vs an
  *     independent positional parse (`ExampleWeather2.scala:15-37`
  *     semantics, modernized: sentinel 9999 → excluded, real division).
  *
  * The divinacommedia and weather tests read the reference's own large
  * files, which no committed fixture stands in for: where a file is
  * absent they are cancelled with a message naming the missing path.
  */
class GoldenSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private val ds = "/root/reference/101-hadoop-hdfs/datasets"

  /** A text file as a documents-shaped frame: doc_id = line index (the
    * reference's inverted-index doc ids are line numbers).
    */
  private def asDocuments(path: String) =
    Relational.withRowIndex(Ingest.readText(spark, path), "doc_id")
      .select(col("doc_id"), col("value").as("text"))

  /** Cancels the calling test unless the reference file `path` exists. */
  private def assumeReference(path: String): Unit =
    assume(Files.isRegularFile(Paths.get(path)),
      s"reference dataset $path is absent")

  private lazy val capra = {
    val committed =
      Paths.get(getClass.getResource("/golden/capra/capra.txt").toURI)
    val reference = Paths.get(s"$ds/capra/capra.txt")
    if (Files.isRegularFile(reference))
      assert(java.util.Arrays.equals(
        Files.readAllBytes(committed), Files.readAllBytes(reference)),
        s"committed $committed has drifted from $reference")
    asDocuments(committed.toString)
  }

  test("golden capra: word count matches README (sopra,1) (la,4) ...") {
    val counts = TextOps.wordCount(capra)
      .as[(String, Long)].collect().toMap
    counts shouldBe Map(
      "sopra" -> 1L, "sotto" -> 1L, "la" -> 4L, "panca" -> 2L,
      "capra" -> 2L, "campa" -> 1L, "crepa" -> 1L)
  }

  test("golden capra: word-length count matches README (2,4) (5,8)") {
    val counts = TextOps.wordLengthCount(capra)
      .as[(Long, Long)].collect().toMap
    counts shouldBe Map(2L -> 4L, 5L -> 8L)
  }

  test("golden capra: avg word length by initial matches README (s,5) (l,2)") {
    val avgs = TextOps.avgWordLengthByInitial(capra)
      .select("initial", "avg_len").as[(String, Double)].collect().toMap
    avgs shouldBe Map("s" -> 5.0, "l" -> 2.0, "p" -> 5.0, "c" -> 5.0)
  }

  test("golden capra: inverted index matches README (sopra,(0)) (la,(0,1))") {
    val idx = TextOps.invertedIndex(capra)
      .select("word", "postings").as[(String, String)].collect().toMap
    idx shouldBe Map(
      "sopra" -> "0", "sotto" -> "1", "la" -> "0,1", "panca" -> "0,1",
      "capra" -> "0,1", "campa" -> "0", "crepa" -> "1")
  }

  test("golden divinacommedia: word counts agree with an independent count") {
    val path = s"$ds/divinacommedia/divinacommedia.txt"
    assumeReference(path)
    val src = scala.io.Source.fromFile(path)(
      scala.io.Codec.UTF8.onMalformedInput(
        java.nio.charset.CodingErrorAction.REPLACE))
    val lines = try src.getLines().toList finally src.close()
    val words = lines.flatMap(_.split("\\s+")).filter(_.nonEmpty)
    val isAscii = (w: String) => w.forall(_ < 128)
    val expected = words.filter(isAscii)
      .groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }

    val dc = asDocuments(path)
    dc.count() shouldBe lines.length.toLong
    val counts = TextOps.wordCount(dc).as[(String, Long)].collect()
    // total token count is decoding-independent (\s+ never matches a
    // replacement char), ASCII word counts must agree exactly
    counts.map(_._2).sum shouldBe words.length.toLong
    counts.filter(c => isAscii(c._1)).toMap shouldBe expected
  }

  test("golden weather: avg temp by month agrees with an independent parse") {
    val path = s"$ds/weather-sample/part-00000"
    assumeReference(path)
    val result = Ingest.parseWeather(Ingest.readText(spark, path))
      .filter(col("valid"))
      .groupBy("month")
      .agg(
        (sum(col("temperature").cast("decimal(18,1)")).cast("double") /
          count(lit(1))).as("avg_temp"),
        count(lit(1)).as("cnt"))
      .as[(String, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    val src = scala.io.Source.fromFile(path)
    val lines = try src.getLines().toList finally src.close()
    val valid = lines.flatMap { l =>
      val raw = l.substring(87, 92).toInt
      if (l.substring(92, 93) == "1" && math.abs(raw) < 9999)
        Some(l.substring(19, 21) -> raw) else None
    }
    val expected = valid.groupBy(_._1).map { case (m, vs) =>
      // exact integer-tenths sum, divided once — same arithmetic shape
      // as the decimal-sum aggregate above
      m -> ((vs.map(_._2).sum / 10.0 / vs.size, vs.size.toLong))
    }
    result.keySet shouldBe expected.keySet
    result.foreach { case (m, (avg, cnt)) =>
      cnt shouldBe expected(m)._2
      avg shouldBe expected(m)._1 +- 1e-9
    }
  }
}
