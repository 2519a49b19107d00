package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two double arrays.
  *
  * This is the hot path of knn.bruteforce — evaluated once per corpus row
  * per query — so it gets the full treatment: a codegen'd
  * `BinaryExpression` that participates in WholeStageCodegen (tight fused
  * loop over `ArrayData`, no row-object or Seq boxing), falling back to an
  * equally tight interpreted `nullSafeEval`. A Scala UDF here would box
  * every element of every vector into a WrappedArray per row and break the
  * codegen stage in two.
  *
  * Registered as SQL function `cosine_sim` by [[GraftExtensions]]
  * (spark.sql.extensions) or lazily by [[GraftFunctions.ensureRegistered]].
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is unavailable outside org.apache.spark
  // (AbstractDataType is private[sql] in Spark 4) — check types directly;
  // callers cast to array<double> explicitly.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires (array<double>, array<double>), got (${l.simpleString(10)}, ${r.simpleString(10)})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $x.getDouble($i);
         |  double $yi = $y.getDouble($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** spark.sql.extensions entry point: registers graft's native functions.
  * Usage on a cluster: --conf spark.sql.extensions=graft.functions.GraftExtensions
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.descriptors.foreach(ext.injectFunction)
}

object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_sim requires exactly 2 arguments")
        CosineSimilarity(args.head, args(1))
      }),
    (new FunctionIdentifier("jaccard_sim"),
      new ExpressionInfo(classOf[JaccardSimilarity].getName, "jaccard_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "jaccard_sim requires exactly 2 arguments")
        JaccardSimilarity(args.head, args(1))
      }),
    (new FunctionIdentifier("hyperplane_sig"),
      new ExpressionInfo(classOf[HyperplaneSignature].getName, "hyperplane_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          "hyperplane_sig(vec, dim, h, seed, nd) requires exactly 5 arguments")
        HyperplaneSignature(args.head, foldedInt(args(1), "dim"),
          foldedInt(args(2), "h"), foldedLong(args(3), "seed"),
          foldedBool(args(4), "nd"))
      }),
    (new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSignature].getName, "minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "minhash_sig(hashes, k, seed) requires exactly 3 arguments")
        MinhashSignature(args.head, foldedInt(args(1), "k"),
          foldedLong(args(2), "seed"))
      }),
    (new FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinhashBands].getName, "minhash_bands"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "minhash_bands(sig, bands, r) requires exactly 3 arguments")
        MinhashBands(args.head, foldedInt(args(1), "bands"), foldedInt(args(2), "r"))
      }),
    (new FunctionIdentifier("band_sigs"),
      new ExpressionInfo(classOf[BandSignatures].getName, "band_sigs"),
      (args: Seq[Expression]) => {
        require(args.length == 6,
          "band_sigs(vec, dim, bands, r, seed, nd) requires exactly 6 arguments")
        BandSignatures(args.head, foldedInt(args(1), "dim"),
          foldedInt(args(2), "bands"), foldedInt(args(3), "r"),
          foldedLong(args(4), "seed"), foldedBool(args(5), "nd"))
      }))

  // the signature expressions take their parameters as FOLDABLE literal
  // arguments (graft's operators pass F.lit(...)); evaluate them at build
  private def folded(e: Expression, name: String): Any = {
    require(e.foldable, s"$name must be a literal")
    e.eval()
  }
  private def foldedInt(e: Expression, name: String): Int = folded(e, name) match {
    case i: Int => i
    case l: Long if l.isValidInt => l.toInt
    case l: Long => throw new IllegalArgumentException(s"$name: $l is outside the int range")
    case o => throw new IllegalArgumentException(s"$name: expected int, got $o")
  }
  private def foldedLong(e: Expression, name: String): Long = folded(e, name) match {
    case i: Int => i.toLong
    case l: Long => l
    case o => throw new IllegalArgumentException(s"$name: expected long, got $o")
  }
  private def foldedBool(e: Expression, name: String): Boolean = folded(e, name) match {
    case b: Boolean => b
    case o => throw new IllegalArgumentException(s"$name: expected boolean, got $o")
  }

  /** Library-use path (no spark.sql.extensions conf needed): idempotently
    * register into the session's function registry. */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident))
        registry.registerFunction(ident, info, builder)
    }
  }
}
