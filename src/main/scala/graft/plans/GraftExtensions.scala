package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSimilarity, MinHashSignature, SignLshSignatures, SimHashSignature, WordNgrams}

/** Session extensions for the graft engine — the
  * `SparkSessionExtensions` registration point. Activate with either
  *   `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * on a builder, or `.withExtensions(new GraftExtensions)`.
  *
  * Injects every native graft expression into the SQL function registry —
  * `cosine_similarity(array<float>, array<float>)`,
  * `minhash_signature(array<string>, k)`,
  * `simhash_signature(array<string>)`,
  * `word_ngrams(array<string>, n)` —
  * so the pure-SQL surface gets the same fused loops as the Column API
  * (engine-complete: `spark.sql` and DataFrame are one engine). Integer
  * parameters (k, n) must be literals, as in Spark's own parameterized
  * functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, clazz, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name),
        builder))
    }
    // partial-aggregation pushdown through shuffle joins — the rewrite
    // the reference hand-teaches (303-solutions.scala:45-48), as a rule
    ext.injectOptimizerRule(_ => PartialAggPushdown)
  }
}

object GraftExtensions {

  private def litInt(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn: parameter must be an integer literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  /** Wrong argument COUNT must be a clear error at resolution, not an
    * IndexOutOfBoundsException from the builder.
    */
  private def arity(fn: String, n: Int)(
      builder: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      require(es.length == n,
        s"$fn expects $n arguments, got ${es.length}")
      builder(es)
    }

  private[plans] val functions
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity", classOf[CosineSimilarity],
      arity("cosine_similarity", 2)(es => CosineSimilarity(es(0), es(1)))),
    ("minhash_signature", classOf[MinHashSignature],
      arity("minhash_signature", 2)(
        es => MinHashSignature(es(0), litInt(es(1), "minhash_signature")))),
    ("simhash_signature", classOf[SimHashSignature],
      arity("simhash_signature", 1)(es => SimHashSignature(es(0)))),
    ("word_ngrams", classOf[WordNgrams],
      arity("word_ngrams", 2)(
        es => WordNgrams(es(0), litInt(es(1), "word_ngrams")))),
    ("sign_lsh_signatures", classOf[SignLshSignatures],
      arity("sign_lsh_signatures", 3)(
        es => SignLshSignatures(es(0), litInt(es(1), "sign_lsh_signatures"),
          litInt(es(2), "sign_lsh_signatures")))))

}
