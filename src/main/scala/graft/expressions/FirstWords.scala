package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationSupport, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-document word stats kernel of [[graft.operators.WordStats]]:
  * `text` → `struct<words_count: bigint, words: array<string>>` in one
  * pass over the UTF-8 bytes.
  *
  *   words_count  number of non-blank tokens of `split(text, "\\s+")`
  *   words        the FIRST original form of each distinct
  *                `lower(trim(token))`, in first-seen order
  *
  * Replaces tokenize → posexplode → hash-aggregate on (doc, normalized
  * word) → second split for the count: a document is one row, so its
  * first-seen dedup needs no shuffle. Like [[DistinctShingles]] the
  * codegen is one static call, so the whole-stage codegen span stays
  * intact.
  *
  * Exactness against the composed form:
  *   - tokens are maximal runs of bytes outside Java's `\s` class
  *     (space, \t, \n, \x0B, \f, \r — all ASCII, so a byte scan never
  *     cuts a multi-byte character); blank tokens are never produced;
  *   - the key calls what Catalyst's `lower(trim(·))` calls:
  *     `CollationSupport.StringTrim.exec`, then
  *     `CollationSupport.Lower.exec(·, collationId, useICU)` with
  *     `useICU` read from `spark.sql.icu.caseMappings.enabled` when the
  *     expression is first evaluated or compiled, as `Lower` reads it;
  *   - `split` decodes the text to a `java.lang.String` and re-encodes
  *     each token, which replaces malformed UTF-8 with U+FFFD. Invalid
  *     input takes that same round trip before the scan; valid input
  *     is unchanged by it, so the fast path skips it.
  *
  * Null text → null struct (explode then emits nothing, as posexplode
  * of a null split did). */
case class FirstWords(child: Expression) extends UnaryExpression {

  private lazy val collationId: Int = child.dataType.asInstanceOf[StringType].collationId

  private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def dataType: DataType = StructType(Seq(
    StructField("words_count", LongType, nullable = false),
    StructField("words", ArrayType(child.dataType, containsNull = false), nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"first_words expects a string column, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    FirstWords.compute(input.asInstanceOf[UTF8String], collationId, useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.FirstWords.compute($c, $collationId, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): FirstWords =
    copy(child = newChild)

  override def prettyName: String = "first_words"
}

object FirstWords {

  @inline private def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** The kernel. Public and static-shaped because generated code calls
    * it directly. */
  def compute(text: UTF8String, collationId: Int, useICU: Boolean): InternalRow = {
    val t = if (text.isValid) text else UTF8String.fromString(text.toString)
    val base = t.getBaseObject
    val off = t.getBaseOffset
    val n = t.numBytes
    val seen = new java.util.HashSet[UTF8String]()
    val words = new java.util.ArrayList[UTF8String]()
    var count = 0L
    var i = 0
    while (i < n) {
      while (i < n && isSpace(Platform.getByte(base, off + i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isSpace(Platform.getByte(base, off + i))) i += 1
        count += 1
        // a view into `t`: the key may alias it (it never outlives this
        // call), the emitted word is copied
        val tok = UTF8String.fromAddress(base, off + start, i - start)
        val key = CollationSupport.Lower.exec(
          CollationSupport.StringTrim.exec(tok), collationId, useICU)
        if (seen.add(key)) words.add(tok.copy())
      }
    }
    new GenericInternalRow(Array[Any](count, new GenericArrayData(words.toArray)))
  }
}
