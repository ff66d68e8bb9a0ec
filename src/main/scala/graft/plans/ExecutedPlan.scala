package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The one way to obtain and walk the plan a query actually ran.
  *
  * `run` executes the DataFrame's OWN QueryExecution: `df.write` or
  * `df.count()` would build and execute a separate one, and the runtime
  * metrics and AQE's final plan would land there instead. `children` is the
  * AQE-aware child list: under adaptive execution the operators sit behind
  * `AdaptiveSparkPlanExec.executedPlan` and `QueryStageExec.plan`, which
  * plain `children` does not reach.
  */
object ExecutedPlan {

  /** Execute `df`'s own physical plan and return it. Under AQE the returned
    * root prints `isFinalPlan=true` and holds the post-AQE stages. */
  def run(df: DataFrame): SparkPlan = {
    val plan = df.queryExecution.executedPlan
    plan.execute().count()
    plan
  }

  def children(p: SparkPlan): Seq[SparkPlan] = p.children ++ (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _ => Nil
  })

  /** Every node of `p` in pre-order, through adaptive stages and subquery
    * plans. */
  def collectAll(p: SparkPlan): Seq[SparkPlan] =
    p +: (children(p) ++ p.subqueries).flatMap(collectAll)
}
