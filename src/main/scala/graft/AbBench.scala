package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Buffers

/** Same-JVM interleaved A/B of the DECIMAL(30,12)-fold vs the
  * quantized-BIGINT-fold aggregation forms — the measurement behind the
  * round-14 port of the k-means Lloyd sums ([[operators.Similarity.kMeansFit]])
  * and the LM nll chains ([[operators.TextAnalysis]] scoreAgainstLm) to
  * the 10⁻⁶/10⁻⁹-quantized-LONG discipline.
  *
  * Methodology: separate-JVM back-to-back runs of the full queries were
  * inconclusive (the fold is a fraction of each query's total, and
  * run-to-run noise on this box is ~±15%), so this isolates exactly the
  * expression that changed: the SAME cached exploded input aggregated
  * under both fold forms, alternated A/B/A/B in one JVM so JIT/GC state
  * cannot favor an arm, reporting per-arm min-of-reps. Two input shapes
  * mirror the two ported call sites:
  *   - kmeans-shaped: embeddings posexploded per dimension,
  *     k×dim groups (the [[operators.Similarity.kMeansFit]] update);
  *   - lm-shaped: documents exploded per token with a per-row double
  *     log term, per-doc groups (the scoreAgainstLm rollup).
  *
  * Prints one JSON line with min seconds per arm; not part of the
  * driver contract (the driver runs Verify/Bench), committed so the
  * BASELINE.md numbers stay reproducible.
  */
object AbBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_AB_REPS", "6").toInt
    val spark = graft.core.Sessions.local("graft-ab")
    val tables = graft.sources.Tables(spark, sfDir)

    // ---- kmeans-shaped input: (cluster, dist2, embedding), cached ----
    val kinPlan = tables.embeddings
      .select((col("vec_id") % 8).cast("int").as("cluster"),
        ((col("vec_id") % 1000).cast("double") / 7.0).as("dist2"),
        col("embedding"))

    // ---- lm-shaped input: (doc_id, term) per token, cached ----
    // the log term is computed BEFORE the cache so both arms fold the
    // identical double column — the arms differ only in the aggregate
    val linPlan = tables.documents
      .select(col("doc_id"),
        explode(filter(split(col("text"), "\\s+"), t => t =!= ""))
          .as("w"))
      .select(col("doc_id"),
        log((abs(hash(col("w"))).cast("double") % 100d + 1d) / 1000d)
          .as("term"))

    // ---- classifier-shaped input: 5 bounded gradient terms per row,
    // one global group (the logisticFit round shape), cached ----
    val cinPlan = tables.documents
      .select(col("doc_id"),
        (hash(col("doc_id")).cast("double") / 2147483647d).as("r"),
        (abs(hash(col("text"))).cast("double") % 1000d / 1000d).as("x1"),
        (abs(hash(col("lang"))).cast("double") % 1000d / 1000d).as("x2"),
        (abs(hash(col("source"))).cast("double") % 1000d / 1000d).as("x3"),
        ((col("n_chars") % 100).cast("double") / 100d).as("x4"))

    // each input is cached (and filled) before any arm is timed, and
    // released when the arms are done
    Buffers.scoped(kinPlan) { kin =>
      Buffers.scoped(linPlan) { lin =>
        Buffers.scoped(cinPlan) { cin =>
          Seq(kin, lin, cin).foreach(_.count())
          measure(reps, kin, lin, cin)
        }
      }
    }
    spark.stop()
  }

  private def measure(reps: Int, kin: DataFrame, lin: DataFrame,
      cin: DataFrame): Unit = {
    // the round-13 (decimal) Lloyd update fold, verbatim shape
    def kmeansDec(): DataFrame = kin
      .select(col("cluster"), col("dist2"),
        posexplode(transform(col("embedding"), _.cast("double")))
          .as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(sum(col("v").cast("decimal(30,12)")).as("s"),
        count(lit(1)).as("n"),
        sum(col("dist2").cast("decimal(30,12)")).as("sd"))

    // the round-14 (quantized-LONG) form, verbatim shape. Exact-mean
    // bound: floor(sum.cast(double)/count) is exact below 2^53 total
    // quantized mass (~9e9 rows/group at unit-scale embeddings) — the
    // binding bound, tighter than the LONG sum's ~9e12-row wrap; past
    // it the mean is 1-ulp-relative but cross-engine deterministic
    // (both engines cast the identical LONG).
    def kmeansLng(): DataFrame = kin
      .select(col("cluster"), col("dist2"),
        posexplode(transform(col("embedding"),
          x => round(x.cast("double") * 1000000d).cast("long")))
          .as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(floor(sum(col("v")).cast("double") / count(lit(1)))
          .cast("long").as("m"),
        sum(round(col("dist2") * 1000000d).cast("long")).as("sd"))

    def lmDec(): DataFrame = lin.groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        sum(col("term").cast("decimal(30,12)")).as("s"))

    def lmLng(): DataFrame = lin.groupBy("doc_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("term") * 1000000000d).cast("long")).as("s"))

    def gdDec(): DataFrame = cin.agg(
      sum(col("r").cast("decimal(20,8)")).as("g0"),
      sum((col("r") * col("x1")).cast("decimal(20,8)")).as("g1"),
      sum((col("r") * col("x2")).cast("decimal(20,8)")).as("g2"),
      sum((col("r") * col("x3")).cast("decimal(20,8)")).as("g3"),
      sum((col("r") * col("x4")).cast("decimal(20,8)")).as("g4"),
      count(lit(1)).as("n"))

    def gdLng(): DataFrame = cin.agg(
      sum(round(col("r") * 1000000d).cast("long")).as("g0"),
      sum(round(col("r") * col("x1") * 1000000d).cast("long")).as("g1"),
      sum(round(col("r") * col("x2") * 1000000d).cast("long")).as("g2"),
      sum(round(col("r") * col("x3") * 1000000d).cast("long")).as("g3"),
      sum(round(col("r") * col("x4") * 1000000d).cast("long")).as("g4"),
      count(lit(1)).as("n"))

    def time(f: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      f().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // one untimed warmup per arm (codegen compile), then interleaved reps
    Seq(kmeansDec _, kmeansLng _, lmDec _, lmLng _, gdDec _, gdLng _)
      .foreach(f => time(f))
    val arms = Seq("kmeans_decimal" -> kmeansDec _,
      "kmeans_long" -> kmeansLng _,
      "lm_decimal" -> lmDec _, "lm_long" -> lmLng _,
      "gd_decimal" -> gdDec _, "gd_long" -> gdLng _)
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    (1 to reps).foreach { _ =>
      arms.foreach { case (name, f) =>
        val t = time(f)
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
      }
    }
    val js = best.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
      .mkString(",")
    println(s"""{"metric":"ab_decimal_vs_long","reps":$reps,$js}""")
  }
}
