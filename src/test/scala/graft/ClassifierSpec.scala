package graft

import org.apache.spark.sql.functions._
import graft.core.Buffers
import graft.operators.Classifier

class ClassifierSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("logisticFit separates a 1-D threshold rule") {
    // y = (x >= 0.6): linearly separable; enough rounds at a healthy
    // rate must classify the training set (almost) perfectly
    val data = (0 to 100).map { i =>
      val x = i / 100.0
      (x, if (x >= 0.6) 1 else 0)
    }.toDF("x", "y")
    val w = Classifier.logisticFit(data, Seq("x"), "y",
      iters = 200, lr = 5.0)
    val scored = Classifier.logisticScore(data, Seq("x"), w)
    val acc = scored
      .filter((col("score") >= 0.5).cast("int") === col("y"))
      .count() / 101.0
    acc should be >= 0.95
    // the boundary must sit near 0.6: weights are (bias, slope) with
    // slope positive and -bias/slope in (0.5, 0.7)
    w(1) should be > 0.0
    (-w(0) / w(1)) should (be >= 0.5 and be <= 0.7)
  }

  test("logisticFit: weights independent of input partitioning") {
    val data = tables.documents
      .select(col("doc_id"),
        (col("n_chars") % 97).cast("double").as("x1"),
        (col("n_chars") % 31).cast("double").as("x2"),
        (col("doc_id") % 2).cast("int").as("y"))
    val w1 = Classifier.logisticFit(data, Seq("x1", "x2"), "y", iters = 5)
    val w2 = Classifier.logisticFit(data.repartition(13),
      Seq("x1", "x2"), "y", iters = 5)
    w1 shouldBe w2
  }

  test("qualityClassifier: deterministic, calibrated-ish, learns the rule") {
    val out = Classifier.qualityClassifier(tables.documents)
    val rows = out.collect()
    rows.length.toLong shouldBe tables.documents.count()
    all(rows.map(_.getDouble(2))) should (be >= 0.0 and be <= 1.0)
    // better than majority-class guessing on its own training rule
    val acc = out.filter(col("keep").cast("int") === col("label"))
      .count().toDouble / rows.length
    val majority = math.max(
      out.filter(col("label") === 1).count(),
      out.filter(col("label") === 0).count()).toDouble / rows.length
    acc should be >= majority
    // exact determinism across runs (the cross-engine replay contract)
    rowSet(Classifier.qualityClassifier(tables.documents)) shouldBe
      rowSet(out.sparkSession.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(rows: _*)),
        out.schema))
  }

  test("persisted weights: scoreWithTable equals inline train+score; partial write is loud") {
    val spark = SparkSpec.spark
    Seq("clf_w", "clf_w__spec")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Classifier.buildClassifierTable(tables.documents, "clf_w", iters = 8)
    rowSet(Classifier.scoreWithTable(tables.documents, "clf_w")) shouldBe
      rowSet(Classifier.qualityClassifier(tables.documents, iters = 8))
    // train-once/score-many: a DIFFERENT batch scores under the stored
    // model without retraining (shape + range sanity)
    val batch = tables.documents.filter(col("doc_id") % 7 === 0)
    val scored = Classifier.scoreWithTable(batch, "clf_w").collect()
    scored.length.toLong shouldBe batch.count()
    all(scored.map(_.getDouble(2))) should (be >= 0.0 and be <= 1.0)
    // a weights table that lost rows must throw, never score skewed
    // (parquet tables don't DELETE — overwrite with a truncated copy)
    graft.sources.Sinks.saveTable(
      Buffers.once(spark.table("clf_w").filter(col("idx") =!= 2)),
      "clf_w")
    an[IllegalArgumentException] should be thrownBy
      Classifier.scoreWithTable(tables.documents, "clf_w")
  }
}
