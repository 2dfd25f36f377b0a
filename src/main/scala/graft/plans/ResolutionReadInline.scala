package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftshim.Shim
import graft.sources.{GraftRelation, GraftTable}
import graft.storage.ArrayTable

/** Inlines MVCC-resolution reads of the `graft` source into the query
  * plan — both V1 path-based loads and CATALOG-loaded DSv2 tables
  * ([[graft.sources.GraftCatalog]]).
  *
  * The DSv2 path already serves arrays that need no resolution as a
  * bare columnar parquet scan. Arrays that DO need resolution
  * (overlapping fragments, tombstones, schema-version drift, enum
  * decode — the common case on a long-lived array) fall back to the V1
  * `PrunedFilteredScan`, whose contract forces the resolved rows
  * through an `RDD[Row]` boundary: an opaque row-based scan that
  * Catalyst can neither vectorize nor see through. Catalog tables have
  * no V1 fallback at all — their guard scan fails loudly at execution
  * — so this rule IS their read path in an extensions-enabled session.
  *
  * This OPTIMIZER rule (injected into the fixed-point operator-
  * optimization batch, after `PushDownPredicates` in each iteration)
  * removes that boundary entirely: a `LogicalRelation` over a
  * [[GraftRelation]] — bare, or under the `Filter` that pushdown has
  * parked on it — is replaced by the resolution DataFrame's own
  * (independently optimized) logical plan, aliased back to the
  * relation's attribute ids. The surrounding batch then re-runs
  * predicate pushdown and column pruning over the inlined subtree, so
  * filters reach the parquet leaves and the scans stay columnar under
  * whole-stage codegen.
  *
  * Running at optimization time (rather than the previous post-hoc
  * analysis hook) buys two things:
  *  - fragment MBR pruning: `spark.read.format("graft").load(uri)` is
  *    analyzed BEFORE `.filter(...)` exists, so an analysis-time rule
  *    can never see the dim predicates; here, pushdown has already
  *    parked them adjacent to the relation, and their literal bounds
  *    prune non-intersecting fragments' FILES out of the plan;
  *  - cache integrity: `CacheManager` matches cached plans on the
  *    analyzed form, which keeps `df.write.format("graft")`'s
  *    recache-by-relation working on cached graft reads.
  *
  * The V1 `buildScan` remains the correctness fallback — for sessions
  * running without [[graft.core.GraftExtensions]], and for the rare
  * on-disk schema drift between analysis and optimization (a relation
  * column no longer present in the resolution read), where this rule
  * leaves the relation untouched instead of failing the query.
  */
case class ResolutionReadInline(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {
  import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

  private def graftRes(r: DataSourceV2Relation): Option[GraftTable] =
    r.table match {
      case t: GraftTable if t.needsResolution => Some(t)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Row-level commands (DELETE/UPDATE/MERGE) hold their TARGET
    // relation as a plain child — unlike the write commands — and that
    // target must stay a DataSourceV2Relation for the V2 strategy to
    // plan the operation (DELETE goes through SupportsDelete, not
    // through a read). Collect those relations and leave them alone;
    // their row data is never read through this path.
    import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, MergeIntoTable, UpdateTable}
    val targets: Seq[LogicalPlan] = plan.collect {
      case d: DeleteFromTable => d.table
      case u: UpdateTable => u.table
      case m: MergeIntoTable => m.targetTable
    }
    val protectedRels = targets.flatMap(_.collect {
      case r: DataSourceV2Relation => r
    })
    def shielded(r: DataSourceV2Relation): Boolean = protectedRels.exists(_ eq r)
    plan.transformDown {
      // V1 path-based loads (format("graft") fallback relation)
      case f @ Filter(cond, l: LogicalRelation) if l.relation.isInstanceOf[GraftRelation] =>
        inlined(l, splitConjunctivePredicates(cond)).map(Filter(cond, _)).getOrElse(f)
      case l: LogicalRelation if l.relation.isInstanceOf[GraftRelation] =>
        inlined(l, Nil).getOrElse(l)
      // Catalog-loaded (DSv2) resolution-needing tables. Two node
      // shapes so the inline is independent of optimizer batch order:
      // before V2ScanRelationPushDown the plan holds the bare
      // DataSourceV2Relation (with pushdown-parked Filters adjacent);
      // after it, a DataSourceV2ScanRelation over the loud-fail guard
      // scan, with every filter kept residual above. Either way the
      // parked dim bounds drive fragment MBR file pruning — including
      // for DataFrame-incremental reads (spark.table(...).filter(...)),
      // which analysis-time inlining could never see.
      case f @ Filter(cond, r: DataSourceV2Relation)
          if graftRes(r).isDefined && !shielded(r) =>
        inlinedV2(graftRes(r).get, r.output, splitConjunctivePredicates(cond))
          .map(Filter(cond, _)).getOrElse(f)
      case r: DataSourceV2Relation if graftRes(r).isDefined && !shielded(r) =>
        inlinedV2(graftRes(r).get, r.output, Nil).getOrElse(r)
      case f @ Filter(cond, s: DataSourceV2ScanRelation)
          if graftRes(s.relation).isDefined && !shielded(s.relation) =>
        inlinedV2(graftRes(s.relation).get, s.output, splitConjunctivePredicates(cond))
          .map(Filter(cond, _)).getOrElse(f)
      case s: DataSourceV2ScanRelation
          if graftRes(s.relation).isDefined && !shielded(s.relation) =>
        inlinedV2(graftRes(s.relation).get, s.output, Nil).getOrElse(s)
    }
  }

  private def inlinedV2(t: GraftTable, output: Seq[Attribute],
      conjuncts: Seq[Expression]): Option[LogicalPlan] =
    ResolutionReadInline.inlinePlan(spark, t.uri, t.at, output, conjuncts,
      conf.sessionLocalTimeZone)

  /** The resolution read as an optimized logical plan, with the
    * relation's attribute ids on top; None -> keep the V1 relation. */
  private def inlined(l: LogicalRelation, conjuncts: Seq[Expression]): Option[LogicalPlan] = {
    val r = l.relation.asInstanceOf[GraftRelation]
    ResolutionReadInline.inlinePlan(spark, r.uri, r.at, l.output, conjuncts,
      conf.sessionLocalTimeZone)
  }
}

object ResolutionReadInline {

  /** The shared inline: resolution read -> independently optimized
    * logical plan (subquery aliases eliminated, its own range
    * predicates pushed into the parquet leaves), aliased back to the
    * caller's attribute ids so every reference above still resolves.
    * None -> leave the original relation in place. */
  private[plans] def inlinePlan(spark: SparkSession, uri: String,
      at: Option[(Long, Long)], output: Seq[Attribute],
      conjuncts: Seq[Expression], tz: String): Option[LogicalPlan] =
    try {
      val dims = ArrayTable.schemaOf(spark, uri).dimNames.toSet
      val bounds = boundsOf(conjuncts, dims)
      val resolved = ArrayTable.read(spark, uri, at = at, ranges = bounds)
        .queryExecution.optimizedPlan
      val byName = resolved.output.map(a => a.name -> a).toMap
      if (!output.forall(a => byName.contains(a.name))) None
      else {
        val aliases = output.map { a =>
          val child = byName(a.name)
          val typed =
            if (child.dataType == a.dataType) child
            else Cast(child, a.dataType, Some(tz))
          Alias(typed, a.name)(exprId = a.exprId)
        }
        Some(Project(aliases, resolved))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-dim inclusive bounds from the pushed-down conjuncts, for
    * fragment MBR (file-level) pruning: each conjunct translates to a
    * data-source filter as Spark pushes it to any V1 source (literals in
    * their external Scala form, mirrored comparisons flipped), then
    * [[GraftRelation.boundsOf]] keeps the tightest bound per dim —
    * the same bounds the V1 and DSv2 paths prune by. */
  private[graft] def boundsOf(conjuncts: Seq[Expression], dims: Set[String])
      : Map[String, (Option[Any], Option[Any])] =
    GraftRelation.boundsOf(conjuncts.flatMap(Shim.toSourceFilter).toArray, dims)
}
