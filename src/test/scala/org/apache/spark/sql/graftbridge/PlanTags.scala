package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Test access to plan tags that Spark keeps `private[sql]`. */
object PlanTags {
  /** The ids of the Datasets whose root `plan` is (`DATASET_ID_TAG`). */
  def datasetIds(plan: LogicalPlan): Set[Long] =
    plan.getTagValue(org.apache.spark.sql.classic.Dataset.DATASET_ID_TAG)
      .map(_.toSet).getOrElse(Set.empty)
}
