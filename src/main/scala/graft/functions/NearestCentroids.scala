package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** `nearest_centroids(vec, centroids, ids, n, metric)`: the ids of the `n`
  * centroids nearest `vec`, best first (`array<long>` of min(n, k)) — the
  * assignment step of k-means, IVF lists and probes, and product
  * quantization (Jégou, Douze, Schmid, TPAMI 2011) as one expression.
  * `centroids` (`array<array<double>>`), `ids` (`array<long>`), `n` and
  * `metric` are literals; the centroids become a primitive `double[][]`
  * once per expression instance.
  *
  * Each metric is the column arithmetic it replaces, to the last ulp:
  * `vec` promoted to double, every sum in array order as [[VectorDot]]
  * sums, lengths clamped to the shorter side.
  *  - `cosine`: `dot(v,c) / (sqrt(dot(v,v)) * sqrt(dot(c,c)))`, greatest
  *    first; a zero divisor is NULL, as Spark's non-ANSI divide makes it,
  *    and NULL ranks last.
  *  - `l2sq`: `dot(v,v) + dot(c,c) - 2.0*dot(v,c)`, smallest first.
  * Scores compare as Spark orders doubles (NaN greatest, -0.0 = 0.0);
  * equal scores go to the smaller id. Generated code calls the static
  * [[NearestCentroids.nearest]] once per row, so it does not grow with k.
  */
case class NearestCentroids(
    vec: Expression, centroids: Expression, ids: Expression, n: Expression, metric: Expression)
    extends Expression {

  override def prettyName: String = "nearest_centroids"
  override def children: Seq[Expression] = Seq(vec, centroids, ids, n, metric)
  override def nullable: Boolean = vec.nullable
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = (vec.dataType, centroids.dataType, ids.dataType, n.dataType, metric.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(ArrayType(DoubleType, _), _),
          ArrayType(LongType, _), IntegerType, StringType) => true
      case _ => false
    }
    if (types && Seq(centroids, ids, n, metric).forall(_.foldable) && topN >= 1 &&
        Set("cosine", "l2sq")(metricName) && cents.length == idArr.length)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName takes (array<float|double>, " +
      "literal array<array<double>>, literal array<long> of as many ids, literal int >= 1, " +
      s"'cosine' or 'l2sq'), got ${children.map(_.dataType.catalogString).mkString(", ")}")
  }

  private def topN: Int = n.eval().asInstanceOf[Int]
  private def metricName: String = String.valueOf(metric.eval())
  private def cosine: Boolean = metricName == "cosine"
  private def floatVec: Boolean = vec.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val cents: Array[Array[Double]] = {
    val outer = centroids.eval().asInstanceOf[ArrayData]
    Array.tabulate(outer.numElements())(outer.getArray(_).toDoubleArray())
  }

  @transient private lazy val idArr: Array[Long] = ids.eval().asInstanceOf[ArrayData].toLongArray()

  /** Each centroid's norm under cosine, its squared norm under l2sq. */
  @transient private lazy val selfTerms: Array[Double] = cents.map { c =>
    val cc = NearestCentroids.dot(c, c, c.length)
    if (cosine) math.sqrt(cc) else cc
  }

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) null
    else NearestCentroids.nearest(
      v.asInstanceOf[ArrayData], floatVec, cents, selfTerms, idArr, topN, cosine)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = vec.genCode(ctx)
    val c = ctx.addReferenceObj("centroids", cents, "double[][]")
    val s = ctx.addReferenceObj("selfTerms", selfTerms, "double[]")
    val i = ctx.addReferenceObj("ids", idArr, "long[]")
    ev.copy(code = code"""
      |${v.code}
      |boolean ${ev.isNull} = ${v.isNull};
      |ArrayData ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = graft.functions.NearestCentroids.nearest(
      |    ${v.value}, $floatVec, $c, $s, $i, $topN, $cosine);
      |}
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): NearestCentroids =
    NearestCentroids(c(0), c(1), c(2), c(3), c(4))
}

object NearestCentroids {

  private def dot(a: Array[Double], b: Array[Double], len: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < len) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** The kernel, shared by interpreted and generated code: every
    * centroid's score, then [[rank]]. */
  def nearest(
      vecData: ArrayData, floatVec: Boolean, cents: Array[Array[Double]],
      selfTerms: Array[Double], ids: Array[Long], n: Int, cosine: Boolean): ArrayData = {
    val v = if (floatVec) vecData.toFloatArray().map(_.toDouble) else vecData.toDoubleArray()
    val vv = dot(v, v, v.length)
    val vNorm = math.sqrt(vv)
    val score = new Array[Double](cents.length)
    val isNull = new Array[Boolean](cents.length)
    var c = 0
    while (c < cents.length) {
      val vc = dot(v, cents(c), math.min(v.length, cents(c).length))
      if (!cosine) score(c) = vv + selfTerms(c) - 2.0 * vc
      else {
        val div = vNorm * selfTerms(c)
        if (div == 0.0) isNull(c) = true else score(c) = vc / div
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(rank(score, isNull, ids, n, greatestFirst = cosine).map(ids(_)))
  }

  /** The positions of the best `n` scores, best first: the greatest (or
    * smallest) under Spark's double ordering, NULLs last, then the
    * smaller id — what `row_number() over (order by score desc|asc, id)
    * <= n` keeps. Insertion into a sorted buffer: n is a probe count.
    */
  def rank(
      score: Array[Double], isNull: Array[Boolean], ids: Array[Long], n: Int,
      greatestFirst: Boolean): Array[Int] = {
    def before(a: Int, b: Int): Boolean =
      if (isNull(a) || isNull(b)) isNull(b) && (!isNull(a) || ids(a) < ids(b))
      else {
        val cmp = SQLOrderingUtil.compareDoubles(score(a), score(b))
        (if (greatestFirst) cmp > 0 else cmp < 0) || (cmp == 0 && ids(a) < ids(b))
      }
    val best = new Array[Int](math.min(n, score.length))
    var filled = 0
    var c = 0
    while (c < score.length) {
      if (filled < best.length || before(c, best(filled - 1))) {
        if (filled < best.length) filled += 1
        var p = filled - 1
        while (p > 0 && before(c, best(p - 1))) { best(p) = best(p - 1); p -= 1 }
        best(p) = c
      }
      c += 1
    }
    best
  }
}
