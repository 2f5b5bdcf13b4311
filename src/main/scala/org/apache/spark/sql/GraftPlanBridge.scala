package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` seam the engine needs: turning a hand-built
  * `LogicalPlan` node into a [[DataFrame]]. Spark's own surface for this
  * (`Dataset.ofRows`) is package-private to `org.apache.spark.sql`, so this
  * bridge lives in that package — the standard pattern every Spark-native
  * library (Delta, Sedona, Iceberg's Spark module) uses to register custom
  * plan nodes. Nothing else from the internal API leaks through: one
  * method, analyzed-plan in, DataFrame out.
  */
object GraftPlanBridge {

  /** Wrap `plan` in a DataFrame on `spark`, running the normal analyzer /
    * optimizer / planner over it (custom nodes are planned by whatever
    * strategies the session has registered).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently append a planner strategy to a live session (the
    * post-hoc twin of `SparkSessionExtensions.injectPlannerStrategy`, for
    * sessions built without the extension — shells, tests, the Verify
    * driver).
    */
  def addStrategy(spark: SparkSession, s: execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.exists(_ eq s)) {
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
    }
  }
}
