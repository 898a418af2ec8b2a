package org.apache.spark.sql.graft

import graft.sources.ScdTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Analyzer rule behind the native path of format `"scd"`: replaces the
  * DSv2 relation produced by [[graft.sources.ScdDataSource]] with the
  * compiled Type-7 replay plan itself (what `ScdReader.read` returns),
  * re-projected onto the relation's original attribute ids so every
  * downstream reference stays valid.
  *
  * After this rewrite the "scd table" IS a plain file-source plan under
  * one narrow codegen'd [[ScdReplay]] node — Catalyst's pushdown
  * machinery (PushedFilters, column pruning, partition pruning, AQE)
  * reaches the scan through it (its rule is [[ScdReplayPushdown]]),
  * which is the property PushdownSpec locks for the Scala
  * API and ScdSqlSourceSpec locks through this SQL surface. Same
  * architecture as Delta Lake's rewrite of its own table node (public
  * DeltaAnalysis pattern); registered by [[graft.GraftExtensions]].
  *
  * The substituted plan is the handle's own [[ScdTable.view]], which a
  * catalog load already built for its schema — one build per read.
  *
  * Runs at analysis (not optimization) so it fires BEFORE
  * V2ScanRelationPushDown would try to build a physical scan. The rule
  * is idempotent: the substituted plan contains no [[ScdTable]] nodes.
  */
class ScdRelationRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation if r.table.isInstanceOf[ScdTable] =>
        val t = r.table.asInstanceOf[ScdTable]
        val resolved = t.view.queryExecution.analyzed
        val resolver = spark.sessionState.conf.resolver
        val proj: Seq[NamedExpression] = r.output.map { out =>
          val src = resolved.output.find(a => resolver(a.name, out.name))
            .getOrElse(throw new IllegalStateException(
              s"scd view of ${t.params.path} lost column '${out.name}' " +
                s"(has: ${resolved.output.map(_.name).mkString(", ")})"))
          Alias(src, out.name)(exprId = out.exprId,
            qualifier = out.qualifier,
            explicitMetadata = Some(out.metadata))
        }
        Project(proj, resolved)
    }
}
