package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine similarity over two `array<float>` columns.
  *
  * The composable form (`zip_with` + `aggregate`, see
  * [[graft.ops.Similarity.dot]]) is correct but interpreter-bound: Catalyst
  * higher-order functions evaluate their lambda per element outside
  * whole-stage codegen. This expression fuses dot product and both norms
  * into one generated loop over the underlying ArrayData — the hot inner
  * loop of every ANN / embedding-dedup operator, executed once per
  * candidate pair.
  *
  * Arithmetic contract (oracle parity): elements widen to double and
  * accumulate sequentially in index order — bit-identical to the HOF path
  * and to the DuckDB mirror `list_sum(list_transform(...))` on well-formed
  * inputs. Degenerate inputs are defined (not left to FP accident): null
  * input → null; an array containing a null element → null (matching the
  * zip_with+aggregate path, which folds null absorbingly); a zero-norm or
  * empty vector → null (the HOF path yields 0/0 = NaN there — NaN compares
  * GREATER than every threshold under Spark's ordering, so a raw NaN would
  * silently pass `>= t` filters); length mismatch truncates to the shorter
  * vector.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  /** Element null-checks are emitted only when the input type admits null
    * elements — parquet-read embeddings are `array<float> containsNull=true`
    * even when no nulls exist, but the check is a cheap bitmap probe.
    */
  private def elementsNullable: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, cn) => cn
      case _ => false
    })

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity requires array<float> inputs, got " +
          s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], elementsNullable)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(
      ctx,
      ev,
      (a, b) => {
        val c = ctx.freshName("c")
        s"""
           |java.lang.Double $c =
           |  graft.functions.CosineSimilarity.compute($a, $b, $elementsNullable);
           |if ($c == null) { ${ev.isNull} = true; } else { ${ev.value} = $c.doubleValue(); }
         """.stripMargin
      })

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): CosineSimilarity = copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** The one cosine loop, shared by [[CosineSimilarity]] (eval and
    * generated code) and the centroid ranking of [[TopCentroids]], so the
    * two cannot drift. `null` where the contract above says null;
    * `checkNulls` may be false only when neither input admits null
    * elements.
    */
  def compute(x: ArrayData, y: ArrayData, checkNulls: Boolean): java.lang.Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }
}

object functions {

  import org.apache.spark.sql.graft.shim

  /** Column wrapper for [[CosineSimilarity]]. */
  def cosine_similarity(a: Column, b: Column): Column =
    shim.column(CosineSimilarity(shim.expression(a), shim.expression(b)))

  /** Column wrapper for [[TopCentroids]]. */
  def top_centroids(v: Column, centroids: CentroidTable, p: Int): Column =
    shim.column(TopCentroids(shim.expression(v), centroids, p))

  /** Column wrapper for [[SquaredDistanceLong]]. */
  def l2sq_long(a: Column, b: Column): Column =
    shim.column(SquaredDistanceLong(shim.expression(a), shim.expression(b)))

  /** Register engine SQL functions on a session (`cosine_similarity`,
    * `minhash_signature`).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity",
      exprs => CosineSimilarity(exprs(0), exprs(1)),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "l2sq_long",
      exprs => SquaredDistanceLong(exprs(0), exprs(1)),
      "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_signature",
      exprs =>
        MinHashSignature(
          exprs(0),
          exprs(1) match {
            case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
            case other =>
              throw new IllegalArgumentException(
                s"minhash_signature numHashes must be an integer literal, got $other")
          }),
      "scala_udf")
  }
}
