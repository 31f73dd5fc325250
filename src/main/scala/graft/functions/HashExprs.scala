package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftglue.ColumnGlue.{col => toCol, expr => toExpr}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen support for the custom one-pass expressions: emit a call back
  * into the expression's own nullSafeEval via a captured reference. The
  * per-row work is the JVM loop either way, but participating in codegen
  * keeps the surrounding stage in WholeStageCodegen (no interpreted
  * projection fallback) and makes the call eligible for subexpression
  * elimination when the optimizer duplicates it (e.g. the inferred
  * `size(shingles(...)) > 0` filter next to the explode projection). */
trait EvalCallCodegen extends UnaryExpression {
  /** public bridge so generated Java can reach the protected eval */
  def evalOne(v: Any): Any = nullSafeEval(v)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this,
      classOf[EvalCallCodegen].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (${CodeGenerator.boxedType(dataType)}) $ref.evalOne($c);")
  }
}

/** Custom Catalyst expressions for sketch signatures.
  *
  * The declarative formulation (transform/filter/aggregate higher-order
  * functions) evaluates interpreted per array element — O(tokens × hashes)
  * boxed evaluations per row made MinHash/SimHash the bench bottleneck.
  * These expressions compute the whole signature in one tight JVM loop per
  * row: hash each element once, update all accumulators. Still a narrow
  * per-row map — no change to the distribution/shuffle story.
  */
object HashExprs {
  /** Per-thread MD5 instance for the md5-family expressions —
    * getInstance does a provider lookup + allocation, and the fused
    * expressions call it once per ROW (the r9-ADVICE per-row-setup
    * class, same as the hoisted regex compiles). reset() before use. */
  private[functions] val Md5 =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Deterministic "random" hyperplane component (plane p, dimension d)
    * from a splitmix-style sequence — the single source for both the
    * declarative SimilarityOps.hyperplaneSig and HyperplaneSigsExpr, so
    * the two formulations bucket identically. */
  def planeComp(p: Int, d: Int): Double = {
    var z = (p.toLong * 7919 + d.toLong * 104729 + 12345) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    ((z ^ (z >>> 31)).toDouble / Long.MaxValue)
  }

  /** All banded hyperplane-LSH signatures of a numeric vector in one JVM
    * pass: array[bands] of planesPerBand-bit signatures. */
  def hyperplane_sigs(vec: Column, dim: Int, planesPerBand: Int,
      bands: Int): Column =
    toCol(HyperplaneSigsExpr(toExpr(vec), dim, planesPerBand, bands))

  /** All banded md5-sign lattice-LSH signatures of a LONG lattice vector
    * in one JVM pass — the oracle-replayable sibling of hyperplane_sigs
    * (signs from SimilarityOps.md5PlaneSign at global plane index
    * band·planesPerBand + j, so DuckDB re-derives every sign). */
  def lattice_sigs(latVec: Column, dim: Int, planesPerBand: Int,
      bands: Int): Column =
    toCol(LatticeSigsExpr(toExpr(latVec), dim, planesPerBand, bands))
}

/** Cosine similarity of two numeric arrays in one JVM pass per row —
  * accumulates dot and both norms left-to-right in doubles like the
  * declarative zip_with/aggregate fold, but without the per-element
  * interpreted-lambda overhead that dominates pairwise similarity joins.
  *
  * Malformed inputs yield null, never a silent wrong value: mismatched
  * lengths (the zip_with twin null-pads, so its fold is null too) and
  * zero-norm vectors (where IEEE would give 0/0 = NaN) both return null,
  * so bad embeddings surface as missing similarities downstream. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  /** public bridge for generated code */
  def evalTwo(l: Any, r: Any): Any = nullSafeEval(l, r)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("cosExpr", this,
      classOf[CosineSimExpr].getName)
    val r = ctx.freshName("graftCos")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |Object $r = $ref.evalTwo($a, $b);
      |if ($r == null) {
      |  ${ev.isNull} = true;
      |} else {
      |  ${ev.value} = ((java.lang.Double) $r).doubleValue();
      |}""".stripMargin)
  }
  private def elem(arr: ArrayData, i: Int, et: DataType): Double = et match {
    case org.apache.spark.sql.types.FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val et1 = left.dataType.asInstanceOf[ArrayType].elementType
    val et2 = right.dataType.asInstanceOf[ArrayType].elementType
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, i, et1); val y = elem(b, i, et2)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : CosineSimExpr = copy(left = l, right = r)
}

object CosineSimExpr {
  import org.apache.spark.sql.graftglue.ColumnGlue.{col => toCol, expr => toExpr}
  def cosine(a: Column, b: Column): Column =
    toCol(CosineSimExpr(toExpr(a), toExpr(b)))
}

/** Banded random-hyperplane LSH signatures in one pass per row: for band
  * b and in-band plane j, bit j of signature b is sign(v · h(b·ppb + j)),
  * with plane components from [[HashExprs.planeComp]] — bit-identical to
  * `bands` calls of the declarative SimilarityOps.hyperplaneSig at plane
  * offsets b·ppb. The declarative form evaluates an interpreted
  * zip_with/aggregate fold per plane (bands × planes × dim boxed lambda
  * steps per row); this computes every dot product in one tight loop over
  * a precomputed plane matrix. A vector of the wrong length yields null
  * (malformed embeddings surface as missing, never mis-bucketed). */
case class HyperplaneSigsExpr(child: Expression, dim: Int,
    planesPerBand: Int, bands: Int)
    extends UnaryExpression with EvalCallCodegen {
  require(dim >= 1 && planesPerBand >= 1 && planesPerBand <= 64 && bands >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  @transient private lazy val planes: Array[Double] = {
    val total = bands * planesPerBand
    val a = new Array[Double](total * dim)
    var p = 0
    while (p < total) {
      var d = 0
      while (d < dim) { a(p * dim + d) = HashExprs.planeComp(p, d); d += 1 }
      p += 1
    }
    a
  }
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) return null
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var j = 0
      while (j < planesPerBand) {
        val base = (b * planesPerBand + j) * dim
        var dot = 0.0
        var d = 0
        while (d < dim) {
          val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
          dot += x * planes(base + d)
          d += 1
        }
        if (dot >= 0) sig |= (1L << j)
        j += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression)
      : HyperplaneSigsExpr = copy(child = c)
}

/** Banded sign-random-projection signatures over an INTEGER lattice
  * vector (ARRAY<BIGINT>, the floor(x·1000) convention) in one pass per
  * row: for band b and in-band plane j, bit j of signature b is
  * [Σ_d sign(b·ppb + j, d) · v[d] ≥ 0] with ±1 signs from
  * [[graft.ops.SimilarityOps.md5PlaneSign]] — the md5 parity rule a SQL
  * oracle re-derives exactly (q74's conversion to oracle-exact, r11;
  * same single-source discipline as planeComp for the float twin).
  * Bit-identical to `bands` declarative latticeSig calls at plane
  * offsets b·ppb (asserted in AnnContainmentSpec). Wrong-length vectors
  * yield null — malformed embeddings surface as missing, never
  * mis-bucketed. */
case class LatticeSigsExpr(child: Expression, dim: Int,
    planesPerBand: Int, bands: Int)
    extends UnaryExpression with EvalCallCodegen {
  require(dim >= 1 && planesPerBand >= 1 && planesPerBand <= 64 && bands >= 1)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  @transient private lazy val signs: Array[Long] = {
    val total = bands * planesPerBand
    val a = new Array[Long](total * dim)
    var p = 0
    while (p < total) {
      var d = 0
      while (d < dim) {
        a(p * dim + d) = graft.ops.SimilarityOps.md5PlaneSign(p, d)
        d += 1
      }
      p += 1
    }
    a
  }
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) return null
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var j = 0
      while (j < planesPerBand) {
        val base = (b * planesPerBand + j) * dim
        var dot = 0L
        var d = 0
        while (d < dim) {
          dot += arr.getLong(d) * signs(base + d)
          d += 1
        }
        if (dot >= 0) sig |= (1L << j)
        j += 1
      }
      out(b) = sig
      b += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression)
      : LatticeSigsExpr = copy(child = c)
}

/** Word k-grams in one pass (the HOF sequence/transform/concat version is
  * interpreted per element): order-preserving, distinct when `distinct`
  * (shingles for MinHash/Jaccard), with multiplicity otherwise (n-gram
  * counting). A row with fewer than k tokens yields an empty array
  * (standard shingling — same semantics as the declarative
  * TextOps.shingles/ngrams twins and the oracle range formulations, which
  * all emit nothing below k). */
case class ShinglesExpr(child: Expression, k: Int, distinct: Boolean = true)
    extends UnaryExpression with EvalCallCodegen {
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out: java.util.Collection[UTF8String] =
      if (distinct) new java.util.LinkedHashSet[UTF8String]()
      else new java.util.ArrayList[UTF8String](math.max(n - k + 1, 0))
    var i = 0
    while (i + k <= n) {
      out.add(UTF8String.concatWs(UTF8String.fromString(" "),
        Array.tabulate(k)(j => arr.getUTF8String(i + j)): _*))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[AnyRef]])
  }
  override protected def withNewChildInternal(c: Expression): ShinglesExpr =
    copy(child = c)
}

object ShinglesExpr {
  import org.apache.spark.sql.graftglue.ColumnGlue.{col => toCol, expr => toExpr}
  def shingles(toks: Column, k: Int): Column =
    toCol(ShinglesExpr(toExpr(toks), k))
  /** n-grams with multiplicity — the counting form. */
  def ngrams(toks: Column, k: Int): Column =
    toCol(ShinglesExpr(toExpr(toks), k, distinct = false))
}

/** All i<j element pairs of a BIGINT array as array<struct<p1, p2>> in
  * one tight loop — the in-row basket pair explode (q128/q241), where
  * the nested transform/slice/struct HOF chain evaluated interpreted
  * per element. Pair order matches the HOF formulation exactly
  * ((a(i), a(j)) for i < j, row-major). Bounded-small arrays by the
  * callers' contract; n(n−1)/2 output rows either way. */
case class ArrayPairsExpr(child: Expression)
    extends UnaryExpression with EvalCallCodegen {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("p1", LongType, nullable = false),
    StructField("p2", LongType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(LongType, false) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case ArrayType(LongType, true) =>
        // nullSafeEval reads elements with arr.getLong, which would
        // silently turn a null element into 0 — refuse at analysis so
        // the divergence can never happen (current callers pass
        // sort_array(collect_set(...)), which is containsNull=false)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "array_pairs needs ARRAY<BIGINT> with non-nullable elements")
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"array_pairs needs ARRAY<BIGINT>, got ${other.sql}")
    }
  }
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[AnyRef](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val x = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = InternalRow(x, arr.getLong(j))
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): ArrayPairsExpr =
    copy(child = c)
}

object ArrayPairsExpr {
  import org.apache.spark.sql.graftglue.ColumnGlue.{col => toCol, expr => toExpr}
  def pairs(arr: Column): Column = toCol(ArrayPairsExpr(toExpr(arr)))
}

/** Winnowing document fingerprints (the rolling-hash scheme of MOSS),
  * on the md5 family (q68, oracle-exact since r11): hash every k-gram,
  * slide a window of `w` consecutive hashes, keep each window's minimum
  * (RIGHTMOST on ties), dedupe. Any shared substring of ≥ w+k-1 tokens
  * yields ≥ 1 shared fingerprint (PropertySpec pins it), while only
  * ~2/(w+1) of the hashes are kept — so postings stay the sampled size
  * that makes winnowing the corpus-scale fingerprint. The k-gram hash
  * is md5 of the space-joined gram (the q227 shingle convention), kept
  * as the lowercase-hex STRING so the window minimum is a plain
  * lexicographic compare both engines order identically (lowercase hex
  * ≡ the 128-bit value). One md5 per k-gram per row. */
case class WinnowMd5Expr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with EvalCallCodegen {
  require(k >= 1 && w >= 1)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val nGrams = n - k + 1
    if (nGrams <= 0) return new GenericArrayData(Array.empty[AnyRef])
    val md = HashExprs.Md5.get()
    md.reset()
    val hex = "0123456789abcdef".toCharArray
    val gh = new Array[String](nGrams)
    var i = 0
    while (i < nGrams) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(arr.getUTF8String(i + j).toString)
        j += 1
      }
      md.reset()
      val dig = md.digest(sb.toString.getBytes("UTF-8"))
      val out = new Array[Char](32)
      var b = 0
      while (b < 16) {
        out(b * 2) = hex((dig(b) >> 4) & 0xf)
        out(b * 2 + 1) = hex(dig(b) & 0xf)
        b += 1
      }
      gh(i) = new String(out)
      i += 1
    }
    val sel = new java.util.LinkedHashSet[String]()
    val lastWin = math.max(nGrams - w, 0)
    var s = 0
    while (s <= lastWin) {
      val end = math.min(s + w, nGrams)
      var minIdx = s
      var j = s + 1
      while (j < end) {
        if (gh(j).compareTo(gh(minIdx)) <= 0) minIdx = j // rightmost min
        j += 1
      }
      sel.add(gh(minIdx))
      s += 1
    }
    val res = new Array[AnyRef](sel.size)
    val it = sel.iterator()
    var r = 0
    while (it.hasNext) {
      res(r) = UTF8String.fromString(it.next()); r += 1
    }
    new GenericArrayData(res)
  }
  override protected def withNewChildInternal(c: Expression): WinnowMd5Expr =
    copy(child = c)
}

object WinnowMd5Expr {
  import org.apache.spark.sql.graftglue.ColumnGlue.{col => toCol, expr => toExpr}
  def winnowMd5(toks: Column, k: Int, w: Int): Column =
    toCol(WinnowMd5Expr(toExpr(toks), k, w))
}

/** All `numHashes` md5-seeded minima of a string-array column in one
  * JVM pass — the oracle-replayable MinHash signature (q17's family,
  * r11). ONE md5 per element supplies two 28-bit integers (hex nibbles
  * 0-6 → x1, 7-13 → x2, little-endian in the nibble index); seed r's
  * hash is the Carter–Wegman linear form (x1 + r·x2) mod (2³¹−1) —
  * every value a SQL engine rebuilds from instr/substr on md5(element)
  * plus integer arithmetic. The first cut hashed md5("r:"||element)
  * per seed — 64 digests per element measured ×4.5 at sf0.1 even
  * fused; the CW form is 64 integer ops per digest instead. All
  * intermediates < 2⁴⁰, so BIGINT on both engines. Null for a null
  * input; empty array → empty signature (callers filter empty sets). */
case class MinHashMd5SigExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with EvalCallCodegen {
  require(bands >= 1 && rowsPerBand >= 1 && bands * rowsPerBand <= 512)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  private val P = 2147483647L // 2^31 - 1
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[AnyRef])
    val numHashes = bands * rowsPerBand
    val md = HashExprs.Md5.get()
    md.reset()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      md.reset()
      val dig = md.digest(arr.getUTF8String(i).getBytes)
      // nibble q (0-based hex-char index): even = high nibble
      def nib(q: Int): Long =
        (if ((q & 1) == 0) (dig(q / 2) >> 4) & 0xf else dig(q / 2) & 0xf)
          .toLong
      var x1 = 0L; var x2 = 0L
      var q = 0
      while (q < 7) {
        x1 += nib(q) << (4 * q)
        x2 += nib(7 + q) << (4 * q)
        q += 1
      }
      // h_r = (x1 + r·x2) mod P computed incrementally: x1, x2 < 2²⁸ < P,
      // so h₀ = x1 and each step adds x2 then subtracts P at most once —
      // identical values to the modmul form, but the seed loop is two
      // adds and a compare instead of a 64-bit multiply + hardware
      // division (the r11→r12 q17 constant-factor fix; the md5 digest
      // per element is unchanged, so the oracle replays bit-for-bit)
      var h = x1
      var r = 0
      while (r < numHashes) {
        if (h < mins(r)) mins(r) = h
        h += x2
        if (h >= P) h -= P
        r += 1
      }
      i += 1
    }
    // band keys built here too: a declarative slice/transform/concat_ws
    // over the min array evaluated interpreted per band (the r11 bench
    // found it alongside the md5 cost)
    val out = new Array[AnyRef](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append('|')
        sb.append(mins(b * rowsPerBand + r))
        r += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression)
      : MinHashMd5SigExpr = copy(child = c)
}

object MinHashMd5SigExpr {
  import org.apache.spark.sql.graftglue.ColumnGlue.{col => toCol, expr => toExpr}
  /** array[bands] of '|'-joined per-band row-min strings. */
  def minhashMd5Bands(elems: Column, bands: Int, rowsPerBand: Int): Column =
    toCol(MinHashMd5SigExpr(toExpr(elems), bands, rowsPerBand))
}

/** The 64-bit md5-nibble SimHash of a token array, returned as `chunks`
  * pigeonhole chunk values (bitsPer = 64/chunks each) — the
  * oracle-replayable fingerprint (q18's family, r11). Bit j of the
  * fingerprint is the multiplicity-weighted majority (ties to 1) of
  * bit j%4 of md5-hex nibble j/4 over the doc's tokens — exactly the
  * vote table a SQL engine rebuilds from instr/substr on md5(tk). The
  * declarative twin (64 conditional sums over a (doc, token) rollup)
  * measured ×5.8 at sf0.1; here each token is one MessageDigest call
  * and one 64-counter update loop. Chunked output keeps the sign bit
  * untouched on both engines. Empty token arrays yield an EMPTY
  * signature (mirroring MinHashMd5SigExpr) — zero votes would tie every
  * bit to 1, pairing every empty doc with every other at hamming 0
  * while the SQL rollup twin emits no rows at all for them. */
case class SimHashMd5ChunksExpr(child: Expression, chunks: Int)
    extends UnaryExpression with EvalCallCodegen {
  require(chunks >= 1 && 64 % chunks == 0, s"chunks=$chunks must divide 64")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val md = HashExprs.Md5.get()
    md.reset()
    val votes = new Array[Long](64)
    var i = 0
    while (i < n) {
      md.reset()
      val dig = md.digest(arr.getUTF8String(i).getBytes)
      var j = 0
      while (j < 64) {
        val q = j / 4 // hex-char index; even = high nibble of byte q/2
        val nib =
          if ((q & 1) == 0) (dig(q / 2) >> 4) & 0xf else dig(q / 2) & 0xf
        votes(j) += (if (((nib >> (j % 4)) & 1) == 1) 1L else -1L)
        j += 1
      }
      i += 1
    }
    val bitsPer = 64 / chunks
    val out = new Array[Long](chunks)
    var c = 0
    while (c < chunks) {
      var fv = 0L
      var b = 0
      while (b < bitsPer) {
        if (votes(c * bitsPer + b) >= 0) fv |= (1L << b)
        b += 1
      }
      out(c) = fv
      c += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression)
      : SimHashMd5ChunksExpr = copy(child = c)
}

object SimHashMd5ChunksExpr {
  import org.apache.spark.sql.graftglue.ColumnGlue.{col => toCol, expr => toExpr}
  def simhashMd5Chunks(toks: Column, chunks: Int): Column =
    toCol(SimHashMd5ChunksExpr(toExpr(toks), chunks))
}

/** Exact integer dot product of two BIGINT arrays in one tight codegen'd
  * loop — the pairwise-join hot path of the integer-lattice embedding
  * family (q211 SemDeDup's intra-cluster quadratic). The declarative
  * `aggregate(zip_with(a, b, (x,y) => x*y), 0L, _+_)` evaluates its
  * lambdas INTERPRETED per element: 64 boxed evals per array per pair
  * made the pair stage the whole query's cost. Null or length-mismatched
  * inputs return null (matching zip_with's null semantics on the sizes
  * this repo uses). Overflow: |v| ≤ 2¹¹ on the floor(x·1000) lattice ⇒
  * Σ products ≤ 2⁶⁸/2⁴⁶… well inside BIGINT for dim 64. */
case class LongDotExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  /** public bridge for generated code */
  def evalTwo(l: Any, r: Any): Any = nullSafeEval(l, r)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val ref = ctx.addReferenceObj("ldotExpr", this,
      classOf[LongDotExpr].getName)
    val r = ctx.freshName("graftLdot")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |Object $r = $ref.evalTwo($a, $b);
      |if ($r == null) {
      |  ${ev.isNull} = true;
      |} else {
      |  ${ev.value} = ((java.lang.Long) $r).longValue();
      |}""".stripMargin)
  }
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : LongDotExpr = copy(left = l, right = r)
}

object LongDotExpr {
  import org.apache.spark.sql.graftglue.ColumnGlue.{col => toCol, expr => toExpr}
  def longDot(a: Column, b: Column): Column =
    toCol(LongDotExpr(toExpr(a), toExpr(b)))
}
