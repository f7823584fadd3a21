package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}

import graft.operators.IdDigest

/** The engine's one registration path: injects every native SQL
  * function and the [[BandJoin.BandJoinStrategy]] planner strategy when
  * a session is built. [[graft.runtime.GraftSession.builder]] installs
  * it, and sessions derived from one (`newSession()`, streaming
  * `foreachBatch` clones) inherit it. A session built anywhere else
  * must install it itself —
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)            // programmatic
  * // or spark.sql.extensions=graft.plans.GraftExtensions (config)
  * }}}
  *
  * — or the native functions do not resolve and `BandJoin.join` has no
  * physical plan.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    e.injectPlannerStrategy(_ => BandJoin.BandJoinStrategy)
  }
}

object GraftExtensions {

  /** (SQL name, expression class, builder) — each builder and its
    * argument checks live in the expression's companion object.
    */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("haversine_km", classOf[HaversineExpression], HaversineExpression.builder),
    ("deflate_ratio", classOf[DeflateRatioExpression], DeflateRatioExpression.builder),
    ("nfc_normalize", classOf[NfcNormalizeExpression], NfcNormalizeExpression.builder),
    ("vec_dot", classOf[DotProduct], DotProduct.builder),
    ("ivf_nearest_cells", classOf[NearestCellsExpression], NearestCellsExpression.builder),
    ("ivf_nearest_cells_2l", classOf[TwoLevelNearestCellsExpression],
      TwoLevelNearestCellsExpression.builder),
    ("topk_rows", classOf[TopKAggregate], TopKAggregate.builder),
    ("freq_items_sketch", classOf[FreqItemsAggregate], FreqItemsAggregate.builder),
    ("bounded_extremes", classOf[BoundedExtremesAggregate], BoundedExtremesAggregate.builder),
    ("graft_bloom_contains", classOf[BloomFilterMightContain], IdDigest.builder))
}
