package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftglue.ColumnGlue.{col => toCol, expr => toExpr}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (the FastCDC/LBFS family, Muthitacharoen et
  * al. SOSP'01): split a document where a hash of the trailing W-char
  * window hits a mask, so chunk boundaries follow CONTENT, not offsets —
  * an insertion early in a document shifts every fixed-size block but
  * leaves all later content-defined chunks (and their hashes) intact.
  * That re-alignment property is why CDC, not fixed blocks, is the
  * storage/transfer dedup standard, and in a training corpus it surfaces
  * shared boilerplate as repeated chunk hashes regardless of position.
  *
  * The boundary predicate is engine-neutral by construction: cut after
  * codepoint i (1-based, i ≥ W) iff the LAST HEX CHAR of
  * md5(substr(text, i−W+1, W)) is '0' — both engines own an md5 builtin
  * over the window's UTF-8 bytes and 1-based character substrings, so a
  * DuckDB oracle replays the identical cut set position by position
  * (probability 1/16 per position ⇒ ~16-char expected chunks). A real
  * rolling Rabin/gear hash would be cheaper per position but has no
  * cross-engine builtin to certify against; the md5 window keeps the
  * oracle exact and the cost is one digest per character, evaluated in
  * ONE tight per-row loop here (no position explode on the Spark side —
  * the oracle pays the explode, the engine never does).
  *
  * Returns the chunk STRINGS in order (they concatenate back to the
  * input — property-tested); hashing/length profiling of chunks stays
  * declarative on top. Empty input → empty array; input shorter than W
  * → one chunk (no window ever completes). Codepoint-indexed, so
  * supplementary-plane text agrees with both engines' character
  * semantics rather than Java's UTF-16 units.
  */
case class CdcChunksExpr(child: Expression, w: Int)
    extends UnaryExpression with EvalCallCodegen {
  require(w >= 2, "window must be at least 2 chars")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString
    val md = CdcChunksExpr.digest.get()
    // Codepoint index → String offset map, built once per row.
    val n = s.codePointCount(0, s.length)
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val off = new Array[Int](n + 1) // off(k) = UTF-16 offset of codepoint k
    var k = 0
    var o = 0
    while (k < n) { off(k) = o; o = s.offsetByCodePoints(o, 1); k += 1 }
    off(n) = s.length
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Any]
    var prev = 0 // codepoints consumed so far (last cut position)
    var i = w // 1-based codepoint position of the window END
    while (i <= n) {
      md.reset()
      md.update(
        s.substring(off(i - w), off(i)).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val dig = md.digest()
      // last hex char of the digest = low nibble of the last byte
      if ((dig(15) & 0x0f) == 0) {
        chunks += UTF8String.fromString(s.substring(off(prev), off(i)))
        prev = i
      }
      i += 1
    }
    if (prev < n) chunks += UTF8String.fromString(s.substring(off(prev), off(n)))
    new GenericArrayData(chunks.toArray)
  }

  override protected def withNewChildInternal(c: Expression): CdcChunksExpr =
    copy(child = c)
}

object CdcChunksExpr {
  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  /** Content-defined chunks of `c` with a W-char boundary window. */
  def cdcChunks(c: Column, w: Int = 8): Column = toCol(CdcChunksExpr(toExpr(c), w))
}
