package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Standard `SparkSessionExtensions` injector for graft's native
  * Catalyst expressions — the supported way to ship library functions
  * into ANY session, including ones the library doesn't construct:
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  * Equivalent to calling `ShapeFunctions.register` /
  * `VecFunctions.register` on an existing session, but catalog-level
  * (survives `newSession()`, visible to pure-SQL clients).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // builders shared with ShapeFunctions/VecFunctions.register so both
    // paths raise the same WRONG_NUM_ARGS analysis error
    ext.injectFunction((
      FunctionIdentifier("ner_shape"),
      info("ner_shape", "_FUNC_(str) - character shape: upper->X lower->x digit->d other->o"),
      graft.functions.FnBuilders.nerShape))
    ext.injectFunction((
      FunctionIdentifier("ner_packed_shape"),
      info("ner_packed_shape", "_FUNC_(str) - run-length-collapsed character shape"),
      graft.functions.FnBuilders.nerPackedShape))
    ext.injectFunction((
      FunctionIdentifier("ner_cosine"),
      info("ner_cosine", "_FUNC_(a, b) - cosine similarity of two float arrays"),
      graft.functions.FnBuilders.nerCosine))
    ext.injectFunction((
      FunctionIdentifier("ner_shingles"),
      info("ner_shingles",
        "_FUNC_(text, n) - all n-token shingles of the space-split text"),
      graft.functions.FnBuilders.nerShingles))
  }
}
