package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftglue.ColumnGlue.{col => toCol, expr => toExpr}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC (canonical composition) normalization — the standard first
  * step of text cleaning for training corpora: visually identical strings
  * with different codepoint sequences (e + COMBINING ACUTE vs é) collapse
  * to one byte representation, so hashes, dedup and tokenization see one
  * form. Spark has no built-in normalizer; this wraps
  * java.text.Normalizer in a codegen-participating expression (same
  * pattern as the sketch expressions). Fast path: java.text.Normalizer
  * .isNormalized is O(n) with no allocation, and real-world corpora are
  * overwhelmingly already NFC. */
case class NfcNormalizeExpr(child: Expression)
    extends UnaryExpression with EvalCallCodegen {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) v
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
  override protected def withNewChildInternal(c: Expression)
      : NfcNormalizeExpr = copy(child = c)
}

object NfcNormalizeExpr {
  def nfc(c: Column): Column = toCol(NfcNormalizeExpr(toExpr(c)))
}

/** Count of array elements that are members of a small literal string
  * set — the hot inner loop of stopword ratios, language-marker scoring
  * and term-frequency relevance. The declarative
  * `size(filter(toks, x -> x IN set))` evaluates its lambda INTERPRETED
  * per element (boxing every token); with 5 languages × 5 markers that
  * is 25 interpreted passes over every document. This expression makes
  * each count one tight JVM loop over the unsafe array with a
  * precomputed UTF8String hash set, and participates in whole-stage
  * codegen. Null elements don't match (same as the lambda's
  * null-propagating IN). Counts WITH multiplicity. */
case class CountInSetExpr(child: Expression, set: Seq[String])
    extends UnaryExpression with EvalCallCodegen {
  override def dataType: DataType =
    org.apache.spark.sql.types.LongType
  @transient private lazy val members: java.util.HashSet[UTF8String] = {
    val m = new java.util.HashSet[UTF8String](set.size * 2)
    set.foreach(s => m.add(UTF8String.fromString(s)))
    m
  }
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    var c = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) && members.contains(arr.getUTF8String(i))) c += 1
      i += 1
    }
    java.lang.Long.valueOf(c)
  }
  override protected def withNewChildInternal(c: Expression)
      : CountInSetExpr = copy(child = c)
}

object CountInSetExpr {
  def countInSet(toks: Column, set: Seq[String]): Column =
    toCol(CountInSetExpr(toExpr(toks), set))
}
