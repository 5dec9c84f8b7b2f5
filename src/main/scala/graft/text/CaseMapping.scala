package graft.text

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.{lit, upper}

/** Spark maps case through ICU by default
  * (`spark.sql.icu.caseMappings.enabled`), and the first `upper`,
  * `lower` or `initcap` a JVM evaluates under it builds ICU's title-case
  * table over every code point: about 1.5 s on one core (q40 runs in
  * 1.9 s when it is the JVM's first caller, 0.4 s otherwise). Whichever
  * catalog query got there first would pay it, so a query's latency
  * would depend on what ran before it. [[graft.queries.WarmUp]] builds
  * it through [[fold]] on its background thread.
  */
object CaseMapping {

  /** Folds `upper('a')` through the session's optimizer, which
    * evaluates it with the session's case-mapping setting (a session
    * with ICU mapping off builds no table). No job runs. */
  private[graft] def fold(spark: SparkSession): LogicalPlan =
    spark.range(1).select(upper(lit("a"))).queryExecution.optimizedPlan
}
