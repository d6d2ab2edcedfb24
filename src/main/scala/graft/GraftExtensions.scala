package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions so the engine's SQL surface (the
  * Athena-analog interface of the reference) can call them directly:
  *
  * {{{
  * spark.sql("SELECT vec_cosine(a.embedding, b.embedding) FROM ...")
  * spark.sql("SELECT word_shingles(text, 3), simhash64(split(text,' ')) ...")
  * }}}
  *
  * Activate with
  * `.withExtensions(new GraftExtensions)` on the session builder, or
  * `spark.sql.extensions=graft.GraftExtensions`, or post-hoc via
  * `GraftExtensions.register(spark)` (used by the catalog queries so the
  * driver's session needs no special config).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // whole-operator extension: plans the CosineTopKPlan logical node
    e.injectPlannerStrategy(_ => graft.plans.CosineTopKStrategy)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("vec_cosine",
      info("vec_cosine", "vec_cosine(a, b) - cosine similarity of two float arrays"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))),
    ("vec_dot",
      info("vec_dot", "vec_dot(a, b) - dot product of two float arrays"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    ("word_shingles",
      info("word_shingles", "word_shingles(text, k) - distinct k-word shingles"),
      (es: Seq[Expression]) => WordShingles(es(0),
        es(1).eval().asInstanceOf[Int])),
    ("minhash_sig",
      info("minhash_sig", "minhash_sig(shingles, n) - n-permutation MinHash signature"),
      (es: Seq[Expression]) => MinHashSignature(es(0),
        es(1).eval().asInstanceOf[Int])),
    ("simhash64",
      info("simhash64", "simhash64(tokens) - 64-bit SimHash"),
      (es: Seq[Expression]) => SimHash64(es(0))),
    ("winnow_fp",
      info("winnow_fp", "winnow_fp(text) - winnowing fingerprint set"),
      (es: Seq[Expression]) => WinnowFingerprint(es(0),
        HashOps.WinnowK, HashOps.WinnowWindow)))

  /** Idempotent post-hoc registration on an existing session. */
  def register(spark: SparkSession): Unit = {
    val reg: FunctionRegistry = spark.sessionState.functionRegistry
    all.foreach { case (name, inf, builder) =>
      reg.registerFunction(FunctionIdentifier(name), inf, builder)
    }
  }
}
