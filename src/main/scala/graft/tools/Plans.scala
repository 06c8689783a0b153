package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}

/** Physical-plan introspection shared by the plan specs: walks the FINAL
  * adaptive plan structurally — `plan.collect` alone stops at
  * AdaptiveSparkPlanExec/QueryStageExec boundaries (both are leaf-like
  * wrappers), and string-matching a plan dump is version-dependent
  * formatting that could go vacuous on a Spark upgrade.
  */
object Plans {

  def deepNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: deepNodes(a.executedPlan)
    case s: QueryStageExec => s +: deepNodes(s.plan)
    case other => other +: other.children.flatMap(deepNodes)
  }
}
