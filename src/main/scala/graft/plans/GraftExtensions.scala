package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._

/** Engine extension point — registers graft's native Catalyst expressions so
  * they are usable from SQL and `call_function` alike.
  *
  * Install via `spark.sql.extensions=graft.plans.GraftExtensions` (set by
  * `GraftSession.builder`) or `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    def reg(name: String, clazz: Class[_], builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))

    reg("graft_grid_cell", classOf[GridCellExpr],
      cs => GridCellExpr(cs(0), cs(1), cs(2)))
    reg("graft_polygon_cells", classOf[PolygonCellsExpr],
      cs => PolygonCellsExpr(cs(0), cs(1), cs(2)))
    reg("graft_st_contains", classOf[StContainsExpr],
      cs => StContainsExpr(cs(0), cs(1), cs(2)))
    reg("graft_dot", classOf[DotProductExpr],
      cs => DotProductExpr(cs(0), cs(1)))
    reg("graft_nfc", classOf[NfcNormalizeExpr],
      cs => NfcNormalizeExpr.fromArgs(cs))
    reg("graft_jaro_winkler", classOf[JaroWinklerExpr],
      cs => JaroWinklerExpr(cs(0), cs(1)))
    reg("graft_char_sample", classOf[CharSampleExpr],
      cs => CharSampleExpr(cs(0),
        cs(1).eval().asInstanceOf[Number].intValue))
    reg("graft_heavy_hitters", classOf[HeavyHittersAgg],
      cs => HeavyHittersAgg(cs(0),
        cs(1).eval().asInstanceOf[Number].intValue))
    reg("graft_quantile_sketch", classOf[QuantileSketchAgg],
      cs => QuantileSketchAgg(cs(0),
        cs(1).eval().asInstanceOf[Number].intValue))

    ext.injectOptimizerRule(_ => RectContainsToRange)
    ext.injectOptimizerRule(_ => WindowTopKToTopKPerKey)
    ext.injectOptimizerRule(_ => CountDistinctToHll)
    ext.injectOptimizerRule(_ => PercentileToExact)
    ext.injectPlannerStrategy(_ => new TopKStrategy)
    ext.injectPlannerStrategy(_ => new PrefixScanStrategy)
  }
}
