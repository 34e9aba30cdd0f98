package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Buffers

/** In-engine trainable quality classifier: logistic regression fit by
  * full-batch gradient descent, expressed entirely as per-round Spark
  * aggregates — the fastText-style "train a filter on labeled examples"
  * step of an LLM data pipeline (cf. GPT-3/LLaMA quality filtering;
  * public knowledge), without leaving the engine or collecting the
  * corpus.
  *
  * Determinism contract (the [[Similarity.kMeansFit]] /
  * [[Graph.pageRank]] scheme, so the whole training trajectory replays
  * cross-engine as chained SQL CTEs):
  *   - features arrive 4-dp rounded (the [[TextAnalysis.qualityFeatures]]
  *     convention), so the model inputs are exact decimals in disguise;
  *   - each round's gradient components are quantized per row to
  *     10⁻⁶-unit LONGs and summed EXACTLY (order-free integer math —
  *     the kMeansFit/scoreAgainstLm convention), coarse enough that a
  *     platform's last-ulp sigmoid difference cannot flip a rounding
  *     (1e-6 grid vs ~1e-16 libm noise in exp);
  *   - the weight update w ← w − lr·(Σg/10⁶)/n happens on the driver
  *     in double, from those exact sums — bounded state, one row per
  *     round;
  *   - the margin is evaluated strictly left-to-right
  *     (((b + x₁w₁) + x₂w₂) + …), matching the SQL spelling.
  *
  * Scale shape: each round is ONE aggregate over the training frame
  * (k+1 decimal sums + a count) — map-side partial aggregation, no
  * shuffle of rows, no driver collect of data. The frame is persisted
  * MEMORY_AND_DISK for the fit's duration exactly like the k-means fit
  * input. Full-batch GD over bounded 4-dp features converges fine for
  * the few-feature quality-filter setting this targets; a billion-row
  * corpus pays `iters` scans of a 5-column projection.
  */
object Classifier {

  /** The linear margin b + Σ wᵢ·xᵢ, folded strictly left-to-right so
    * the SQL replay's spelling produces bit-identical doubles.
    */
  private def margin(w: Seq[Double], xs: Seq[Column]): Column =
    xs.zip(w.tail).foldLeft(lit(w.head): Column) {
      case (acc, (x, wi)) => acc + x * lit(wi)
    }

  private def sigmoid(m: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-m))

  /** Fit logistic weights on `data` (featureCols numeric, labelCol
    * 0/1). Returns bias :: per-feature weights.
    */
  def logisticFit(data: DataFrame, featureCols: Seq[String],
      labelCol: String, iters: Int = 8, lr: Double = 1.0): Seq[Double] = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    Buffers.scoped(data
      .select((col(labelCol).cast("double").as("__y") +:
        featureCols.map(c => col(c).cast("double").as(c))): _*)) { fit =>
      var w: Seq[Double] = Seq.fill(featureCols.size + 1)(0.0)
      (1 to iters).foreach { _ =>
        val r = sigmoid(margin(w, featureCols.map(col))) - col("__y")
        // gradient terms 10⁻⁶-quantized to LONG and summed order-free
        // (the kMeansFit/scoreAgainstLm discipline — exact 64-bit
        // integer math both engines replay, and a codegen'd long sum
        // in place of the DECIMAL(20,8) fold). Terms are bounded by 1
        // (features capped [0,1], |residual| ≤ 1), so the sum holds
        // ~9·10¹² rows of headroom at this grid; 10⁻⁶ gradient noise
        // against 4-dp features and lr 1.0 is far below anything the
        // 6-dp score rounding can see.
        val gs = (r +: featureCols.map(c => r * col(c))).zipWithIndex.map {
          case (g, i) => sum(round(g * 1000000d).cast("long")).as(s"g$i")
        }
        val row = fit.agg(gs.head, (gs.tail :+ count(lit(1)).as("n")): _*)
          .head()
        val n = row.getLong(w.size).toDouble
        w = w.zipWithIndex.map { case (wi, i) =>
          wi - lr * (row.getLong(i).toDouble / 1e6) / n
        }
      }
      w
    }
  }

  /** Append the fitted model's 6-dp score (P(label=1)) to `df`. */
  def logisticScore(df: DataFrame, featureCols: Seq[String],
      weights: Seq[Double], scoreCol: String = "score"): DataFrame = {
    require(weights.size == featureCols.size + 1,
      s"expected ${featureCols.size + 1} weights (bias first), " +
        s"got ${weights.size}")
    df.withColumn(scoreCol,
      round(sigmoid(margin(weights, featureCols.map(col))), 6))
  }

  /** The composed document-quality classifier: bounded features from
    * [[TextAnalysis.qualityFeatures]] (null-safe, length capped into
    * [0,1]), a deterministic reference label (the heuristic rule a
    * curation team would hand-label by), one in-engine fit, and the
    * scored corpus — (doc_id, label, score, keep). `keep` is the 0.5
    * decision; the score column is the soft signal downstream mixing/
    * budget operators consume.
    */
  /** The bounded feature frame + deterministic reference label shared
    * by the inline classifier and the persisted-weights path.
    */
  private def qualityFeats(documents: DataFrame): DataFrame =
    TextAnalysis.qualityFeatures(documents)
      .select(col("doc_id"),
        coalesce(col("stopword_ratio"), lit(0.0)).as("x_stop"),
        coalesce(col("upper_ratio"), lit(0.0)).as("x_upper"),
        least(col("n_tokens").cast("double") / lit(100.0), lit(1.0))
          .as("x_len"),
        least(coalesce(col("avg_token_len"), lit(0.0)) / lit(10.0),
          lit(1.0)).as("x_tlen"),
        (coalesce(col("stopword_ratio"), lit(0.0)) >= 0.06 &&
          col("n_tokens") >= 40).cast("int").as("label"))

  private val QualityXs = Seq("x_stop", "x_upper", "x_len", "x_tlen")

  private def scored(feats: DataFrame, w: Seq[Double]): DataFrame =
    logisticScore(feats, QualityXs, w)
      .select(col("doc_id"), col("label").cast("long").as("label"),
        col("score"), (col("score") >= 0.5).as("keep"))

  def qualityClassifier(documents: DataFrame, iters: Int = 8,
      lr: Double = 1.0): DataFrame =
    scored(qualityFeats(documents),
      logisticFit(qualityFeats(documents), QualityXs, "label", iters, lr))

  /** Persist trained quality-classifier weights as a managed table
    * (idx, weight; idx 0 = bias) with the family-wide
    * [[graft.sources.IndexSpec]] guard — train ONCE on the corpus, then
    * [[scoreWithTable]] any number of crawl batches without re-paying
    * the `iters` training scans. The spec records (iters, lr,
    * n_weights) so a partial write or a differently-shaped model fails
    * loudly at read time.
    */
  def buildClassifierTable(documents: DataFrame, table: String,
      iters: Int = 8, lr: Double = 1.0): Seq[Double] = {
    val spark = documents.sparkSession
    import spark.implicits._
    val w = logisticFit(qualityFeats(documents), QualityXs, "label",
      iters, lr)
    graft.sources.IndexSpec.write(
      Seq((iters, lr, w.size)).toDF("iters", "lr", "n_weights"), table)
    graft.sources.Sinks.saveTable(
      w.zipWithIndex.map { case (wt, i) => (i, wt) }.toDF("idx", "weight"),
      table)
    w
  }

  /** Score a corpus with persisted weights — result-identical to
    * [[qualityClassifier]] run with the same training corpus and
    * parameters (the build-once/probe-many contract every index family
    * carries; q149's oracle gate). Weights are a bounded driver read
    * (k+1 doubles).
    */
  def scoreWithTable(documents: DataFrame, table: String): DataFrame = {
    val spark = documents.sparkSession
    val spec = graft.sources.IndexSpec.readRequired(spark, table)
    val rows = spark.table(table).orderBy("idx").collect()
    require(rows.length == spec.getAs[Int]("n_weights"),
      s"scoreWithTable: $table holds ${rows.length} weights but its " +
        s"spec says ${spec.getAs[Int]("n_weights")} — partial write; " +
        "rebuild with buildClassifierTable")
    scored(qualityFeats(documents), rows.map(_.getDouble(1)).toSeq)
  }
}
