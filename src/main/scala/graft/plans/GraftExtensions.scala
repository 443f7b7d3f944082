package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Registers the graft optimizer rule AND the SQL spellings of the native
  * expression family ([[graft.functions.GraftFunctionRegistry]]); enable
  * with `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`. [[RollupRouting]] is
  * inert until its `spark.graft.rollup.*` confs are set. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPreCBORule(RollupRouting)
    graft.functions.GraftFunctionRegistry.register(ext)
  }
}
