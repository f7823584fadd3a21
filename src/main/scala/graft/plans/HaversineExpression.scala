package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for haversine distance (km) with full
  * whole-stage codegen — the showcase custom scalar from SURVEY §4: the
  * reference computes this in a Python UDF (`silver_job.py:33-48`), which
  * breaks codegen and serializes every row; this compiles to a single
  * static-method call inside the generated loop.
  *
  * Used via SQL (`haversine_km(lat1, lon1, lat2, lon2)`, injected by
  * [[GraftExtensions]]), or through the composed-Column twin
  * `FraudFeatures.distanceKm` (identical math, built-in trig).
  */
case class HaversineExpression(
    lat1: Expression, lon1: Expression, lat2: Expression, lon2: Expression)
  extends QuaternaryExpression {

  override def first: Expression = lat1
  override def second: Expression = lon1
  override def third: Expression = lat2
  override def fourth: Expression = lon2

  override def dataType: DataType = DoubleType
  override def prettyName: String = "haversine_km"

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    HaversineExpression.compute(
      a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.plans.HaversineExpression.compute($a, $b, $c, $d)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(lat1 = newFirst, lon1 = newSecond, lat2 = newThird, lon2 = newFourth)
}

object HaversineExpression {

  final val EarthRadiusKm = 6371.0

  /** Called from generated code — must stay public + static-forwardable. */
  def compute(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1) / 2
    val dLon = math.toRadians(lon2 - lon1) / 2
    val a = math.sin(dLat) * math.sin(dLat) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.sin(dLon) * math.sin(dLon)
    2 * EarthRadiusKm * math.asin(math.sqrt(a))
  }

  /** SQL / `call_function` builder for `haversine_km` (injected by
    * [[GraftExtensions]]). Inputs are cast to double here (the
    * expression itself is monomorphic — `ExpectsInputTypes` is
    * sql-private in Spark 4, so coercion happens at the builder).
    */
  def builder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 4, "haversine_km(lat1, lon1, lat2, lon2)")
    val Seq(a, b, c, d) = exprs.map(e => Cast(e, DoubleType): Expression)
    HaversineExpression(a, b, c, d)
  }
}
