package graft.functions

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point: injects the whole [[graft.Graft]]
  * catalog (every graft SQL function, the bounded-levenshtein optimizer
  * rule and the top-k planner strategy) into every session, so no
  * application code registers anything:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.functions.GraftExtensions …
  * }}}
  *
  * [[graft.GraftSession.local]] builds every graft session with it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.Graft.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.Graft.rule)
    ext.injectPlannerStrategy(_ => graft.Graft.strategy)
  }
}
