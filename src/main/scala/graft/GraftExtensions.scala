package graft

import org.apache.spark.sql.SparkSessionExtensions

/**
 * Config-based extension entry point for cluster deployment:
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 * }}}
 *
 * injects graft's planner strategies into every session built on the
 * cluster — the as-of merge join (`AsOfMergeJoinExec`) and the sliding
 * count/integral-sum window (`SlidingSumExec`, which then also serves plain
 * Spark `count`/`sum` over bounded frames) — so the custom physical
 * operators plan without any code-side registration call. The API surface
 * also self-registers on first use (`AsOfMergeJoin.ensureRegistered`,
 * `SlidingSumExec.ensureRegistered`, idempotent), so this class is a
 * deployment convenience, not a requirement — standard practice for
 * shipping Catalyst extensions in a library jar.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ =>
      org.apache.spark.sql.graft.AsOfMergeStrategy)
    ext.injectPlannerStrategy(_ =>
      org.apache.spark.sql.graft.SlidingSumStrategy)
  }
}
