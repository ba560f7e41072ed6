package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into the sql-private `Dataset.ofRows` so graft's custom
  * logical nodes (`graft.plans.AsOfJoinNode`) can be wrapped back into
  * a public DataFrame — the standard technique for extension libraries
  * that add planner nodes. The rest of graft lives outside the Spark
  * namespace; the deliberate exceptions are this object and the two ml
  * bridges (`ml.recommendation.GraftAlsBridge`,
  * `ml.classification.GraftSvmBridge`), which reach ml-ALS's and
  * LinearSVC's private pieces for the pipeline's driver-side replicas.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
