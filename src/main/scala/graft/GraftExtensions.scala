package graft

import org.apache.spark.sql.SparkSessionExtensions

/**
 * Config-based extension entry point for cluster deployment:
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 * }}}
 *
 * injects graft's planner strategies (`GraftStrategies.all`) into every
 * session built on the cluster — the as-of merge join (`AsOfMergeJoinExec`),
 * the sliding count/integral-sum window (`SlidingSumExec`, which then also
 * serves plain Spark `count`/`sum` over bounded frames) and the
 * single-partition global sort of small inputs — so the custom physical
 * operators plan without any code-side registration call. The API surface
 * also registers them on its own session on first use
 * (`GraftStrategies.ensureRegistered`, idempotent and session-local), so
 * this class is a deployment convenience, not a requirement — standard
 * practice for shipping Catalyst extensions in a library jar.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    org.apache.spark.sql.graft.GraftStrategies.all.foreach(s =>
      ext.injectPlannerStrategy(_ => s))
}
