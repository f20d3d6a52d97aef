package graft.core

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.StringType

import graft.functions.{NearestCentroids, NormalizeText, SortedIntersectCount, VectorDot}

/** Engine extensions: native Catalyst functions registered via
  * `SparkSessionExtensions` (`.withExtensions(new GraftExtensions)`), or
  * after the fact on any session via [[GraftExtensions.ensure]] — query
  * code calls `ensure` so the functions exist even on a driver-created
  * session we didn't build.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** One native function: its name, its expression class, the argument
    * counts it accepts and its builder. */
  private def describe(name: String, cls: Class[_], arities: Int*)(
      build: Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (children: Seq[Expression]) => {
      require(arities.contains(children.length),
        s"$name requires ${arities.mkString(" or ")} arguments, got ${children.length}")
      build(children)
    })

  /** Every native function, written once: `apply` injects these into a
    * session being built, `ensure` registers them on a running one. */
  private val functions = Seq(
    describe("vector_dot", classOf[VectorDot], 2)(c => VectorDot(c(0), c(1))),
    describe("normalize_text", classOf[NormalizeText], 1, 2) { c =>
      val form =
        if (c.length == 1) "NFC"
        else c(1) match {
          case l: Literal if l.dataType == StringType && l.value != null => l.value.toString
          case other => throw new IllegalArgumentException(
            s"normalize_text form must be a string literal, got $other")
        }
      NormalizeText(c(0), form)
    },
    describe("sorted_intersect_count", classOf[SortedIntersectCount], 2)(
      c => SortedIntersectCount(c(0), c(1))),
    describe("nearest_centroids", classOf[NearestCentroids], 5)(
      c => NearestCentroids(c(0), c(1), c(2), c(3), c(4))))

  /** Idempotently register on an existing session. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((id, _, build) <- functions if !registry.functionExists(id))
      registry.createOrReplaceTempFunction(id.funcName, build, "built-in")
  }

  /** `vector_dot` as a Column op (registers on the session if needed). */
  def vectorDot(spark: SparkSession, a: Column, b: Column): Column = {
    ensure(spark)
    call_function("vector_dot", a, b)
  }

  /** `sorted_intersect_count` as a Column op (registers if needed). */
  def sortedIntersectCount(spark: SparkSession, a: Column, b: Column): Column = {
    ensure(spark)
    call_function("sorted_intersect_count", a, b)
  }

  /** `normalize_text` as a Column op (registers on the session if needed). */
  def normalizeText(spark: SparkSession, c: Column, form: String = "NFC"): Column = {
    ensure(spark)
    call_function("normalize_text", c, lit(form))
  }

  /** `nearest_centroids` as a Column op (registers if needed). */
  def nearestCentroids(
      spark: SparkSession, vec: Column, centroids: Column, ids: Column,
      n: Int, metric: String): Column = {
    ensure(spark)
    call_function("nearest_centroids", vec, centroids, ids, lit(n), lit(metric))
  }
}
