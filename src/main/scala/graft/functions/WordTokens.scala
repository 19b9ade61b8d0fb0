package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, Lower, StringSplit, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, CollationFactory, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd word tokenizer: the canonical token rule of
  * [[graft.ops.TextAnalysis.tokensCol]], `lower(text)` split on
  * `[^a-z0-9]+` with empty tokens dropped.
  *
  * Why an Expression (the [[ShingleHashes]] rationale): the
  * `filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)` form
  * copies the string for `lower`, runs a regex split, and evaluates the
  * `filter` lambda per token in the interpreter (CodegenFallback), which
  * also takes the whole projection out of whole-stage codegen. Every
  * dedup, text and quality operator starts with it.
  *
  * Two paths, one result:
  *  - a default-collation (UTF8_BINARY) row whose bytes are all ASCII
  *    takes one byte loop: `A-Z` map to `a-z`, and each maximal
  *    `[a-z0-9]` run becomes a `UTF8String` slice of one lower-cased
  *    copy of the row;
  *  - every other row (any non-ASCII byte, or a collated input type) is
  *    evaluated by Spark's own `Lower` and `StringSplit` on the same
  *    input type, and empty tokens are dropped. Lower-casing can create
  *    ASCII letters (U+212A KELVIN SIGN becomes `k`; U+0130 becomes `i`
  *    + U+0307), so only Spark's case mapping, under the session's
  *    `spark.sql.icu.caseMappings.enabled`, is right there.
  * On an ASCII row `Lower` is exactly `A-Z → a-z` under both case
  * mappings, and the regex split's non-empty pieces are exactly the
  * maximal `[a-z0-9]` runs, so the two paths agree (property-pinned
  * against the HOF form in TextAnalysisSpec).
  *
  * Null text gives null. The result type is the reference's,
  * `array<string>` (the input's string type) with `containsNull =
  * false`, so exploded token columns keep their nullability. */
case class WordTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string, got ${dt.simpleString}")
  }
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def prettyName: String = "word_tokens"

  private def binaryCollation: Boolean =
    child.dataType.asInstanceOf[StringType].collationId ==
      CollationFactory.UTF8_BINARY_COLLATION_ID

  /** `split(lower(text), "[^a-z0-9]+")` over the same input type, built
    * per deserialized copy so `Lower` reads the case-mapping setting of
    * the session that runs it. */
  @transient private lazy val reference: Expression =
    StringSplit(Lower(BoundReference(0, child.dataType, nullable = false)),
      Literal.create(WordTokens.Separators, child.dataType), Literal(-1))

  /** The slow path: Spark's lower + split, empty tokens dropped. */
  def referenceTokens(s: UTF8String): ArrayData = {
    val parts = reference.eval(InternalRow(s)).asInstanceOf[ArrayData]
    val n = parts.numElements()
    val kept = new Array[Any](n)
    var k = 0
    var i = 0
    while (i < n) {
      val t = parts.getUTF8String(i)
      if (t.numBytes() > 0) { kept(k) = t; k += 1 }
      i += 1
    }
    new GenericArrayData(if (k == n) kept else kept.take(k))
  }

  def tokens(s: UTF8String): ArrayData = {
    val fast = if (binaryCollation) WordTokens.asciiTokens(s) else null
    if (fast != null) fast else referenceTokens(s)
  }

  override protected def nullSafeEval(input: Any): Any = tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("wordTokens", this)
    if (binaryCollation)
      nullSafeCodeGen(ctx, ev, s =>
        s"""${ev.value} = graft.functions.WordTokens.asciiTokens($s);
           |if (${ev.value} == null) ${ev.value} = $self.referenceTokens($s);""".stripMargin)
    else
      nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $self.referenceTokens($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordTokens {

  /** The separator regex of the token rule. */
  val Separators = "[^a-z0-9]+"

  /** The ASCII fast path: the tokens of `s`, or null when `s` holds a
    * byte outside ASCII (the caller then takes the reference path). */
  def asciiTokens(s: UTF8String): ArrayData = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // pass 1: lower-cased copy, token count, bail out on non-ASCII
    val buf = new Array[Byte](n)
    var count = 0
    var inToken = false
    var i = 0
    while (i < n) {
      var b = Platform.getByte(base, off + i)
      if (b < 0) return null
      if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
      buf(i) = b
      val word = (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
      if (word && !inToken) count += 1
      inToken = word
      i += 1
    }
    // pass 2: each maximal [a-z0-9] run as a slice of the copy
    val out = new Array[Any](count)
    var t = 0
    var start = -1
    i = 0
    while (i <= n) {
      val word = i < n && {
        val b = buf(i)
        (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
      }
      if (word) { if (start < 0) start = i }
      else if (start >= 0) {
        out(t) = UTF8String.fromBytes(buf, start, i - start)
        t += 1
        start = -1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
