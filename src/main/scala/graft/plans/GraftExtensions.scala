package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.GraftFunctions

/** Session extension registering the graft native functions, for sessions
  * configured with `spark.sql.extensions=graft.plans.GraftExtensions`
  * (cluster deployments); local callers can use
  * [[graft.functions.GraftFunctions.register]] instead.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(ext.injectFunction)
    // band-join → equi-join rewrite (see BandJoinRule); also available on a
    // live session via spark.experimental.extraOptimizations
    ext.injectOptimizerRule(_ => BandJoinRule())
  }
}
