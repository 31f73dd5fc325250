package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GreaterThan, GreaterThanOrEqual, IsNotNull, Literal, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions as SQL functions so `spark.sql(...)` users get them too,
  * plus the engine's optimizer rule.
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions) …
  *   — or spark.sql.extensions=graft.functions.GraftExtensions
  *
  *   SELECT minhash_sig(shingles(tokens, 3), 64) FROM docs
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => ShingleFilterSimplify)
  }
}

/** Optimizer rule: Spark's InferFiltersFromGenerate guards every
  * `explode(shingles(toks, k))` with
  * `size(shingles(toks, k)) > 0 AND isnotnull(shingles(toks, k))`,
  * which evaluates the O(n·k) shingle construction TWICE per row (once
  * in the inferred filter — pushed into the scan's data filters — and
  * once in the projection that feeds the explode). Both guards have
  * exact cheap equivalents on the raw token array:
  *
  *   size(shingles(toks, k)) > 0  ⟺  size(toks) >= k
  *     (a window exists iff there are at least k tokens; distinct-ness
  *      only reduces the count to ≥ 1, never to 0)
  *   isnotnull(shingles(toks, k)) ⟺  isnotnull(toks)
  *     (ShinglesExpr is a null-intolerant unary: null iff its input is)
  *
  * so the rewrite halves shingle evaluation on every inverted-index
  * query (jaccard/containment/decontamination/vocab-growth) while
  * keeping the filter pushable. Registered via injectOptimizerRule and,
  * for already-built sessions, experimental.extraOptimizations — both
  * run after the inference rule has fired. */
object ShingleFilterSimplify extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case GreaterThan(Size(sh: ShinglesExpr, legacy),
          Literal(0, IntegerType)) =>
        GreaterThanOrEqual(Size(sh.child, legacy), Literal(sh.k))
      case IsNotNull(sh: ShinglesExpr) => IsNotNull(sh.child)
      // winnow(toks, k, w) emits ≥ 1 fingerprint iff ≥ 1 k-gram exists
      // (the window loop always runs when nGrams ≥ 1), so the same
      // token-count equivalence holds
      case GreaterThan(Size(wx: WinnowExpr, legacy),
          Literal(0, IntegerType)) =>
        GreaterThanOrEqual(Size(wx.child, legacy), Literal(wx.k))
      case IsNotNull(wx: WinnowExpr) => IsNotNull(wx.child)
      case GreaterThan(Size(wx: WinnowMd5Expr, legacy),
          Literal(0, IntegerType)) =>
        GreaterThanOrEqual(Size(wx.child, legacy), Literal(wx.k))
      case IsNotNull(wx: WinnowMd5Expr) => IsNotNull(wx.child)
    }
}

/** The engine's SQL function set, also installable on an already-built
  * session: `GraftFunctions.register(spark)`. */
object GraftFunctions {
  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal int, got $other")
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("minhash_sig"),
        new ExpressionInfo(classOf[MinHashSigExpr].getName, "minhash_sig"),
        (args: Seq[Expression]) =>
          MinHashSigExpr(args.head, intArg(args(1), "numHashes"))),
      (FunctionIdentifier("simhash64"),
        new ExpressionInfo(classOf[SimHash64Expr].getName, "simhash64"),
        (args: Seq[Expression]) => SimHash64Expr(args.head)),
      (FunctionIdentifier("shingles"),
        new ExpressionInfo(classOf[ShinglesExpr].getName, "shingles"),
        (args: Seq[Expression]) =>
          ShinglesExpr(args.head, intArg(args(1), "k"))),
      (FunctionIdentifier("ngrams"),
        new ExpressionInfo(classOf[ShinglesExpr].getName, "ngrams"),
        (args: Seq[Expression]) =>
          ShinglesExpr(args.head, intArg(args(1), "k"), distinct = false)),
      (FunctionIdentifier("cosine_sim"),
        new ExpressionInfo(classOf[CosineSimExpr].getName, "cosine_sim"),
        (args: Seq[Expression]) => CosineSimExpr(args.head, args(1))),
      (FunctionIdentifier("winnow"),
        new ExpressionInfo(classOf[WinnowExpr].getName, "winnow"),
        (args: Seq[Expression]) =>
          WinnowExpr(args.head, intArg(args(1), "k"), intArg(args(2), "w"))),
      (FunctionIdentifier("winnow_md5"),
        new ExpressionInfo(classOf[WinnowMd5Expr].getName, "winnow_md5"),
        (args: Seq[Expression]) =>
          WinnowMd5Expr(args.head, intArg(args(1), "k"), intArg(args(2), "w"))),
      (FunctionIdentifier("minhash_md5_bands"),
        new ExpressionInfo(classOf[MinHashMd5SigExpr].getName,
          "minhash_md5_bands"),
        (args: Seq[Expression]) => MinHashMd5SigExpr(args.head,
          intArg(args(1), "bands"), intArg(args(2), "rowsPerBand"))),
      (FunctionIdentifier("simhash_md5_chunks"),
        new ExpressionInfo(classOf[SimHashMd5ChunksExpr].getName,
          "simhash_md5_chunks"),
        (args: Seq[Expression]) =>
          SimHashMd5ChunksExpr(args.head, intArg(args(1), "chunks"))),
      (FunctionIdentifier("lattice_sigs"),
        new ExpressionInfo(classOf[LatticeSigsExpr].getName, "lattice_sigs"),
        (args: Seq[Expression]) => LatticeSigsExpr(args.head,
          intArg(args(1), "dim"), intArg(args(2), "planesPerBand"),
          intArg(args(3), "bands"))),
      (FunctionIdentifier("stem_tokens"),
        new ExpressionInfo(classOf[StemTokensExpr].getName, "stem_tokens"),
        (args: Seq[Expression]) => StemTokensExpr(args.head)))

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = org.apache.spark.sql.graftglue.ColumnGlue.functionRegistry(spark)
    all.foreach { case (id, info, builder) =>
      reg.registerFunction(id, info, builder)
    }
    val exp = spark.experimental
    exp.synchronized { // first table reads of a session may race here
      if (!exp.extraOptimizations.contains(ShingleFilterSimplify))
        exp.extraOptimizations ++= Seq(ShingleFilterSimplify)
    }
  }
}
