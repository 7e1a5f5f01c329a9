package org.apache.spark.sql.classic

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}

/** Bridge to Spark 4's `private[sql]` `Dataset.ofRows`, which builds a
  * frame straight from a logical plan. `graft.engine.Catalog` keeps one
  * analysed plan per class version and hands out re-instanced copies
  * of it; this file holds the plan steps that takes and no other logic
  * (same precedent as [[GraftColumnBridge]]).
  */
object GraftPlanBridge {
  /** A copy of the analysed `plan` with every relation leaf re-instanced
    * and every alias of a projection renewed, so two copies share no
    * attribute id and can be joined with each other (the ids a fresh
    * parquet read would get), and belongs to no earlier frame. The copy
    * is marked analysed, as `plan` was: a frame over it, or over a plan
    * built on it, does not analyse it again. */
  def fresh(plan: LogicalPlan): LogicalPlan = {
    val copy = plan.transformUpWithNewOutput {
      case r: LogicalPlan with MultiInstanceRelation =>
        val n = r.newInstance()
        n -> r.output.zip(n.output)
      case p @ Project(list, _) if list.exists(_.isInstanceOf[Alias]) =>
        val renewed = list.map {
          case a: Alias => a.newInstance()
          case other => other
        }
        val n = p.copy(projectList = renewed)
        n -> p.output.zip(n.output).filter { case (a, b) => a.exprId != b.exprId }
    }
    // the copied nodes carry the ids of the frames the original was
    // built under, in sets they share with it; a copy belongs to none
    copy.foreach(_.unsetTagValue(Dataset.DATASET_ID_TAG))
    copy.setAnalyzed()
    copy
  }

  /** a frame over `plan` */
  def frame(spark: org.apache.spark.sql.SparkSession,
      plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** a frame over one projection of `plan`: its columns not named in
    * `replaced`, then `extra`. */
  def select(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan,
      replaced: Set[String], extra: Seq[Column]): DataFrame = {
    val s = spark.asInstanceOf[SparkSession]
    val keep: Seq[NamedExpression] =
      plan.output.filterNot((a: Attribute) => replaced.contains(a.name))
    val added = extra.map(c => ExpressionUtils.toNamed(s.expression(c)))
    Dataset.ofRows(s, Project(keep ++ added, plan))
  }
}
