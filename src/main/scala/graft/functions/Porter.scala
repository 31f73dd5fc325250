package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Porter stemmer (M.F. Porter, "An algorithm for suffix stripping",
  * Program 14(3), 1980 — the public algorithm) — supplies the english
  * stemming half of the reference's to_tsvector('english', …) semantics
  * (SURVEY.md §2.8 T1). Implemented once as plain Scala, exposed both as
  * a per-token function and as an array expression that stems a whole
  * token array in one JVM pass per row. */
object Porter {

  private def isV(w: CharSequence, i: Int): Boolean = w.charAt(i) match {
    case 'a' | 'e' | 'i' | 'o' | 'u' => true
    case 'y' => i > 0 && !isV(w, i - 1)
    case _ => false
  }

  /** m = number of VC sequences in the stem. */
  private def m(w: CharSequence): Int = {
    var cnt = 0; var i = 0; val n = w.length
    while (i < n && !isV(w, i)) i += 1
    while (i < n) {
      while (i < n && isV(w, i)) i += 1
      if (i < n) { cnt += 1; while (i < n && !isV(w, i)) i += 1 }
    }
    cnt
  }

  private def hasVowel(w: CharSequence): Boolean =
    (0 until w.length).exists(isV(w, _))

  private def doubleC(w: String): Boolean =
    w.length >= 2 && w(w.length - 1) == w(w.length - 2) &&
      !isV(w, w.length - 1)

  /** *o: stem ends cvc where the final c is not w, x or y. */
  private def cvc(w: String): Boolean =
    w.length >= 3 && !isV(w, w.length - 3) && isV(w, w.length - 2) &&
      !isV(w, w.length - 1) && !"wxy".contains(w.last)

  private def tryRules(w: String, rules: Seq[(String, String)], minM: Int)
      : String =
    rules.collectFirst {
      case (suf, to) if w.endsWith(suf) =>
        val stem = w.dropRight(suf.length)
        if (m(stem) >= minM) stem + to else w
    }.getOrElse(w)

  def stem(word: String): String = {
    if (word == null || word.length <= 2) return word
    var w = word.toLowerCase

    // Step 1a
    if (w.endsWith("sses")) w = w.dropRight(2)
    else if (w.endsWith("ies")) w = w.dropRight(2)
    else if (!w.endsWith("ss") && w.endsWith("s")) w = w.dropRight(1)

    // Step 1b
    var step1bFlag = false
    if (w.endsWith("eed")) {
      if (m(w.dropRight(3)) > 0) w = w.dropRight(1)
    } else if (w.endsWith("ed") && hasVowel(w.dropRight(2))) {
      w = w.dropRight(2); step1bFlag = true
    } else if (w.endsWith("ing") && hasVowel(w.dropRight(3))) {
      w = w.dropRight(3); step1bFlag = true
    }
    if (step1bFlag) {
      if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz")) w += "e"
      else if (doubleC(w) && !"lsz".contains(w.last)) w = w.dropRight(1)
      else if (m(w) == 1 && cvc(w)) w += "e"
    }

    // Step 1c
    if (w.endsWith("y") && hasVowel(w.dropRight(1)))
      w = w.dropRight(1) + "i"

    // Step 2 (m > 0)
    w = tryRules(w, Seq(
      "ational" -> "ate", "tional" -> "tion", "enci" -> "ence",
      "anci" -> "ance", "izer" -> "ize", "abli" -> "able", "alli" -> "al",
      "entli" -> "ent", "eli" -> "e", "ousli" -> "ous", "ization" -> "ize",
      "ation" -> "ate", "ator" -> "ate", "alism" -> "al",
      "iveness" -> "ive", "fulness" -> "ful", "ousness" -> "ous",
      "aliti" -> "al", "iviti" -> "ive", "biliti" -> "ble"), 1)

    // Step 3 (m > 0)
    w = tryRules(w, Seq(
      "icate" -> "ic", "ative" -> "", "alize" -> "al", "iciti" -> "ic",
      "ical" -> "ic", "ful" -> "", "ness" -> ""), 1)

    // Step 4 (m > 1); (s|t)ion handled via both spellings
    val before4 = w
    w = tryRules(w, Seq(
      "al" -> "", "ance" -> "", "ence" -> "", "er" -> "", "ic" -> "",
      "able" -> "", "ible" -> "", "ant" -> "", "ement" -> "",
      "ment" -> "", "ent" -> "", "ou" -> "", "ism" -> "", "ate" -> "", "iti" -> "", "ous" -> "",
      "ive" -> "", "ize" -> ""), 2)
    // (s|t)ion: Porter measures the stem left after removing "ion" only
    if (before4 == w && w.endsWith("ion") && w.length > 4) {
      val stem = w.dropRight(3)
      if ((stem.endsWith("s") || stem.endsWith("t")) && m(stem) > 1)
        w = stem
    }

    // Step 5a
    if (w.endsWith("e")) {
      val stem = w.dropRight(1)
      if (m(stem) > 1 || (m(stem) == 1 && !cvc(stem))) w = stem
    }
    // Step 5b
    if (m(w) > 1 && doubleC(w) && w.endsWith("l")) w = w.dropRight(1)
    w
  }

  /** Zipf cache for the expression hot loop: token TYPES are few while
    * token INSTANCES are the corpus, so per-executor memoization turns
    * almost every stem into a hash probe. On the (Zipf-dominant) hit
    * path there is NO decode and NO allocation: the probe uses the
    * BORROWED key straight off the unsafe row (UTF8String.hashCode/
    * equals read the bytes in place) and returns the shared immutable
    * result. Keys are cloned only on insert, because the probe key
    * aliases the scan's reused buffer; values are fresh UTF8Strings and
    * safe to share across rows. Bounded (beyond the cap we compute
    * without caching) so an adversarial unbounded vocabulary degrades
    * to the uncached cost instead of an executor OOM; stem() is pure,
    * so last-write-wins races are benign, and the non-atomic size
    * check means the cap can overshoot by up to the executor thread
    * count — bounded and benign, not a hard cap. */
  private val cacheCap = 1 << 17
  private val u8Cache =
    new java.util.concurrent.ConcurrentHashMap[UTF8String, UTF8String]()
  def stemU8(s: UTF8String): UTF8String = {
    val hit = u8Cache.get(s)
    if (hit != null) hit
    else {
      val r = UTF8String.fromString(stem(s.toString))
      if (u8Cache.size < cacheCap) u8Cache.put(s.clone(), r)
      r
    }
  }

  /** Array-of-tokens expression: stems every element in one pass. */
  def stemTokens(toks: Column): Column = {
    import org.apache.spark.sql.graftglue.ColumnGlue.{col => toCol, expr => toExpr}
    toCol(StemTokensExpr(toExpr(toks)))
  }
}

case class StemTokensExpr(child: Expression)
    extends UnaryExpression with graft.functions.EvalCallCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      out(i) = if (s == null) null else Porter.stemU8(s)
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): StemTokensExpr =
    copy(child = c)
}
