package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-layer probes of the traced run that no op isolates: the cost of
  * opening a table through `graft.sources.Tables`, and the per-row cost
  * of each native expression registered for SQL.
  */
object Probes {
  val functionNames = Seq("minhash_signature", "simhash_signature", "word_ngrams",
    "sign_lsh_signatures", "cosine_similarity")

  private def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Median wall time of one `Tables(spark, dir).<table>` call, in ms. */
  def openMs(spark: SparkSession, dir: String): Double = {
    val t = graft.sources.Tables(spark, dir)
    val opens: Seq[() => DataFrame] = Seq(() => t.region, () => t.nation, () => t.customer,
      () => t.supplier, () => t.part, () => t.orders, () => t.lineitem, () => t.events,
      () => t.documents, () => t.embeddings)
    Stats.median((1 to 3).flatMap(_ => opens.map(o => timeS(o()) * 1e3)))
  }

  /** ns per row of each expression: the median time of writing the
    * expression's output to the `noop` sink, minus the median time of
    * writing its bare input the same way, over the input rows. Inputs are
    * `documents` and `embeddings` replicated by the benchmark until
    * per-row work outweighs the fixed cost of a job (20k documents, 200k
    * embeddings; a row of each costs about the same to read).
    */
  def functions(spark: SparkSession, dir: String): Map[String, Double] = {
    def replicated(table: String, rows: Double): DataFrame = {
      val df = spark.read.parquet(s"$dir/$table.parquet")
      df.crossJoin(spark.range(math.ceil(rows / df.count()).toLong).toDF("rep"))
    }
    val text = replicated("documents", 2e4).select(split(col("text"), "\\s+").as("toks"))
    val emb = replicated("embeddings", 2e5).select(col("embedding").as("a"),
      transform(col("embedding"), x => x * lit(0.5f) + lit(0.1f)).as("b"))
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def median3(df: DataFrame): Double = Stats.median((1 to 3).map(_ => timeS(noop(df))))
    def perRow(input: DataFrame, exprs: Seq[(String, String)]): Seq[(String, Double)] = {
      val rows = input.count().toDouble
      val base = median3(input)
      exprs.map { case (name, e) =>
        s"functions.$name" -> math.max(0.0, median3(input.selectExpr(e)) - base) * 1e9 / rows
      }
    }
    (perRow(text, Seq(
      "minhash_signature" -> "minhash_signature(toks, 64)",
      "simhash_signature" -> "simhash_signature(toks)",
      "word_ngrams" -> "word_ngrams(toks, 3)")) ++
    perRow(emb, Seq(
      "sign_lsh_signatures" -> "sign_lsh_signatures(a, 8, 32)",
      "cosine_similarity" -> "cosine_similarity(a, b)"))).toMap
  }
}
