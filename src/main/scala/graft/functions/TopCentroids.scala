package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** An IVF centroid table held by value: ids ascending, one `array<float>`
  * vector per id (a null vector and null elements are legal and score
  * null). Built on the driver from a collected centroid table (at most
  * nCentroids rows) and shipped inside [[TopCentroids]] or a Lloyd step.
  */
final class CentroidTable private (val ids: Array[Long], val vecs: Array[ArrayData])
    extends Serializable {
  def size: Int = ids.length
  override def toString: String = s"CentroidTable(n=$size)"
}

object CentroidTable {

  /** `(centroid_id, centroid)` pairs in any order; vectors as collected
    * (`Row.getSeq`, nulls kept).
    */
  def apply(rows: Seq[(Long, scala.collection.Seq[_])]): CentroidTable = {
    val sorted = rows.sortBy(_._1)
    new CentroidTable(sorted.map(_._1).toArray, sorted.map(r => vector(r._2)).toArray)
  }

  private def vector(v: scala.collection.Seq[_]): ArrayData =
    if (v == null) null
    else if (v.contains(null)) new GenericArrayData(v.toArray[Any])
    else UnsafeArrayData.fromPrimitiveArray(v.map(_.asInstanceOf[Float]).toArray)

  /** The table as `(centroid_id, centroid)` pairs, vectors as `Seq[Float]`
    * with null elements kept — the shape `Row.getSeq` hands back.
    */
  def rows(t: CentroidTable): Seq[(Long, Seq[Float])] =
    t.ids.indices.map { i =>
      val v = t.vecs(i)
      (t.ids(i), if (v == null) null else v.toSeq[AnyRef](FloatType).asInstanceOf[Seq[Float]])
    }
}

/** Ids of the `p` centroids nearest to `vec`, in probe order: cosine
  * rounded to 6 places descending (a null cosine last), then centroid id
  * ascending — the one ranking behind IVF cell assignment (p = 1),
  * probing (p = nProbe) and the tuners' recall curve (p = nCentroids).
  *
  * The composable form — `transform` the centroid array into scored
  * structs, `array_sort` them with a lambda comparator, `transform` back
  * to ids — evaluates outside whole-stage codegen, through the
  * interpreter, once per row. This expression is one static call per row
  * from generated code; the centroids travel inside it (no plan literal),
  * so the generated source, and with it the compiled class, is the same
  * for every centroid table and every `p`.
  *
  * Arithmetic contract (oracle parity): the cosine is
  * [[CosineSimilarity.compute]]'s loop, so null for a null or zero-norm
  * vector, a null element, or a null centroid; the rounding is Spark's
  * `round(x, 6)` on doubles (NaN and infinities pass through, otherwise
  * the decimal form rounded half-up); scores compare under Spark's
  * double ordering (NaN above every number). A null `vec` scores null
  * against every centroid, so it ranks the centroids by id. `p` larger
  * than the table returns every id.
  */
case class TopCentroids(vec: Expression, centroids: CentroidTable, p: Int)
    extends UnaryExpression {

  require(p >= 0, s"top_centroids needs p >= 0, got $p")

  override def child: Expression = vec
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "top_centroids"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    vec.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"top_centroids requires an array<float> input, got ${t.catalogString}")
    }

  /** The per-row kernel: eval and generated code both call it. */
  def rank(v: ArrayData): ArrayData = {
    val top = TopCentroids.nearest(v, centroids, p)
    val out = new Array[Long](top.length)
    var i = 0
    while (i < top.length) { out(i) = centroids.ids(top(i)); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def eval(input: InternalRow): Any = rank(vec.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("topCentroids", this)
    val v = vec.genCode(ctx)
    ev.copy(
      code = code"""
        |${v.code}
        |ArrayData ${ev.value} = $self.rank(${v.isNull} ? null : ${v.value});
        """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TopCentroids =
    copy(vec = newChild)
}

object TopCentroids {

  /** Spark's `round(x, 6)` on a double. */
  private def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Table indices of the `p` nearest centroids to `v` (null = the null
    * vector), in the [[TopCentroids]] order. Keeps a sorted top-p buffer:
    * O(nCentroids · p) comparisons per row.
    */
  def nearest(v: ArrayData, t: CentroidTable, p: Int): Array[Int] = {
    val n = t.size
    val scored = new Array[Boolean](n)
    val score = new Array[Double](n)
    if (v != null) {
      var i = 0
      while (i < n) {
        val c = t.vecs(i)
        val cos = if (c == null) null else CosineSimilarity.compute(v, c, checkNulls = true)
        if (cos != null) { scored(i) = true; score(i) = round6(cos.doubleValue()) }
        i += 1
      }
    }
    // a precedes b: scored before null, higher score first, then lower id
    def before(a: Int, b: Int): Boolean =
      if (scored(a) != scored(b)) scored(a)
      else {
        val c = if (scored(a)) SQLOrderingUtil.compareDoubles(score(a), score(b)) else 0
        if (c != 0) c > 0 else t.ids(a) < t.ids(b)
      }
    val k = math.min(p, n)
    val top = new Array[Int](k)
    var filled = 0
    var i = 0
    while (i < n) {
      var j = filled
      while (j > 0 && before(i, top(j - 1))) j -= 1
      if (j < k) {
        var m = math.min(filled, k - 1)
        while (m > j) { top(m) = top(m - 1); m -= 1 }
        top(j) = i
        if (filled < k) filled += 1
      }
      i += 1
    }
    top
  }
}

/** The accumulator of one Lloyd iteration over a centroid table of `n`
  * cells (the MLlib k-means shape: one `treeAggregate` pass over the
  * corpus, see [[graft.ops.Similarity.ivfCentroids]]). Per cell and
  * position it keeps the sum of `round(x * 1000)` (exact longs), the
  * count of members holding the position, and whether any member's
  * element was non-null there (Spark's `sum` over only nulls is null).
  */
final class CellSums(n: Int) extends Serializable {
  private val sum = Array.fill(n)(Array.emptyLongArray)
  private val cnt = Array.fill(n)(Array.emptyLongArray)
  private val summed = Array.fill(n)(Array.emptyBooleanArray)

  private def width(c: Int): Int = cnt(c).length

  private def grow(c: Int, w: Int): Unit =
    if (w > cnt(c).length) {
      sum(c) = java.util.Arrays.copyOf(sum(c), w)
      cnt(c) = java.util.Arrays.copyOf(cnt(c), w)
      summed(c) = java.util.Arrays.copyOf(summed(c), w)
    }

  private def add(c: Int, v: ArrayData): Unit = {
    val w = v.numElements()
    grow(c, w)
    var i = 0
    while (i < w) {
      cnt(c)(i) += 1
      if (!v.isNullAt(i)) {
        sum(c)(i) = Math.addExact(sum(c)(i), CellSums.milli(v.getFloat(i)))
        summed(c)(i) = true
      }
      i += 1
    }
  }

  def merge(o: CellSums): CellSums = {
    var c = 0
    while (c < n) {
      grow(c, o.width(c))
      var i = 0
      while (i < o.width(c)) {
        cnt(c)(i) += o.cnt(c)(i)
        sum(c)(i) = Math.addExact(sum(c)(i), o.sum(c)(i))
        summed(c)(i) |= o.summed(c)(i)
        i += 1
      }
      c += 1
    }
    this
  }

  /** The next centroid table: per cell with a member, `floor(sum /
    * count)` milli per position mapped back to a float as `m / 1000.0`
    * (null where nothing summed); a cell with no non-empty member drops
    * out.
    */
  def centroids(t: CentroidTable): CentroidTable =
    CentroidTable(t.ids.indices.filter(width(_) > 0).map(c => (t.ids(c), mean(c))))

  private def mean(c: Int): Seq[Any] =
    (0 until width(c)).map { i =>
      if (!summed(c)(i)) null
      else {
        val m = math.floor(sum(c)(i).toDouble / cnt(c)(i).toDouble).toLong
        java.lang.Float.valueOf((m / 1000.0).toFloat)
      }
    }
}

object CellSums {

  /** The per-row step of a Lloyd pass over single-column `array<float>`
    * rows: assign the vector to its nearest centroid of `t` (the
    * [[TopCentroids]] ranking at p = 1) and fold it into that cell. A null
    * vector lands in the lowest-id cell and adds nothing; a null element
    * counts but adds nothing.
    */
  def fold(t: CentroidTable)(acc: CellSums, row: InternalRow): CellSums = {
    if (!row.isNullAt(0)) {
      val v = row.getArray(0)
      acc.add(TopCentroids.nearest(v, t, 1)(0), v)
    }
    acc
  }

  /** `cast(round(x * 1000, 0) as bigint)` on a float element, as Spark
    * evaluates it with ANSI casts: a non-finite or out-of-range value
    * fails instead of wrapping.
    */
  def milli(x: Float): Long = {
    val d = x.toDouble * 1000
    val r =
      if (d.isNaN || d.isInfinite) d
      else java.math.BigDecimal.valueOf(d).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
    if (Math.floor(r) <= Long.MaxValue.toDouble && Math.ceil(r) >= Long.MinValue.toDouble) r.toLong
    else throw new ArithmeticException(s"IVF centroid mean: element $x has no bigint milli value")
  }
}
