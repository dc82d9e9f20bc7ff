package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.NativeFunctions

/** SparkSessionExtensions entry point: installs the engine's native
  * expressions into every session built with
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  *   // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * This is the deployment-grade registration path (cluster-wide via config,
  * no driver code changes): every [[NativeFunctions.all]] entry is in the
  * session's registry before its first query. The operators' own
  * `register(spark)` calls then find each name present and do nothing;
  * they install the functions only in sessions built without the
  * extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    NativeFunctions.all.foreach(ext.injectFunction)
    // post-hoc resolution (not optimizer): SQL layout routing must see
    // session views while they are still SubqueryAlias nodes
    ext.injectPostHocResolutionRule(s => SqlLayoutRouting(s))
    // CollapseCellEdits is deliberately NOT injected here: inside the
    // operator-optimization fixed-point batch it re-walks every large
    // projection on each iteration (a measured ~15% planning-time cost
    // on the 1k-edit burst), while the engine's own edit paths already
    // collapse their edit log before planning — the rule pays off only
    // for ad-hoc user-authored withColumn chains, which opt in via
    // CollapseCellEdits.install (a once-per-plan extraOptimizations
    // batch, not the fixed point).
  }
}
