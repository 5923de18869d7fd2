package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native n-token shingle generation: `ner_shingles(text, n)` — all
  * n-token windows of the space-split text, space-rejoined; the
  * workhorse under MinHash near-dup detection (q44/q59/q60 and the
  * curate near-dup stage), substring dedup (q51/q52/q55 and the curate
  * boilerplate stage), decontamination (q67), repetition stats (q68),
  * and the hashed-n-gram featurizers (q74/q75).
  *
  * Why a native expression and not the `transform(sequence(...),
  * slice+array_join)` composition it replaces: Catalyst higher-order
  * functions evaluate their lambda INTERPRETED (CodegenFallback), and
  * in interpreted mode each `slice(split(text), ...)` re-evaluates the
  * `split` child PER ELEMENT — O(tokens × chars) per document. The
  * round-6 bench caught it: shingle-heavy queries dominated the board
  * (q67 6.7 s, q68 5.2 s, q74 14 s at sf0.1). This expression is one
  * O(chars) kernel call that participates in whole-stage codegen.
  *
  * Semantics (split on " " keeping empty tokens, fewer than n tokens →
  * empty array, windows joined with " ") are the old column
  * composition's: NULL text yields an EMPTY ARRAY, not NULL —
  * `size(...) > 0` filters must keep behaving identically. The JVM
  * featurizers ([[graft.pipeline.Decontam.shinglesOf]]) run the same
  * [[ShingleKernel.windows]] loop; DecontamSpec pins the two entry
  * points equal.
  */
object ShingleKernel {
  private val NoWindows = new Array[String](0)

  /** The n-token windows of `text`, in order: the one tokenize-and-
    * window routine behind both the column expression and the JVM
    * featurizers. Empty for NULL or fewer than n tokens.
    */
  def windows(text: String, n: Int): Array[String] = {
    if (text == null) return NoWindows
    val toks = text.split(" ", -1)
    if (toks.length < n) return NoWindows
    val out = new Array[String](toks.length - n + 1)
    var i = 0
    while (i < out.length) {
      if (n == 1) out(i) = toks(i)
      else {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out(i) = sb.toString
      }
      i += 1
    }
    out
  }

  def shingles(s: UTF8String, n: Int): ArrayData =
    new GenericArrayData(windows(if (s == null) null else s.toString, n)
      .map[Any](UTF8String.fromString))
}

case class NerShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1: $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  // NULL text yields an empty array (the contract every consumer's
  // `size(...) > 0` filter was written against), so the result itself
  // is never null
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${child.dataType.simpleString}")

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    ShingleKernel.shingles(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val kernel = "graft.functions.ShingleKernel"
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          $kernel.shingles(${childGen.isNull} ? null : ${childGen.value}, $n);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): NerShingles =
    copy(child = c)
  override def prettyName: String = "ner_shingles"
}

object ShingleFunctions {
  import org.apache.spark.sql.graft.Bridge

  def ner_shingles(text: Column, n: Int): Column =
    Bridge.column(NerShingles(Bridge.expression(text), n))
}
