package org.apache.spark.sql.graft

import java.util.IdentityHashMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences,
  Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan,
  Statistics}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode,
  LogicalRDD, RDDScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** Bridge into Spark's `private[sql]` surface (the standard
  * extension-library pattern): lives inside the `org.apache.spark.sql`
  * package tree to reach `classic.Dataset.ofRows` and the physical scan
  * nodes. Every use of Spark's plan internals by the engine is in this one
  * file, so the private-API exposure is auditable at a glance; the engine
  * logic stays in the graft packages.
  */
object GraftSqlBridge {

  /** Re-wrap an eagerly localCheckpointed DataFrame's LogicalRDD WITHOUT
    * its origin statistics (see graft.core.Dataflow.checkpointRebased for
    * the why: per-round multiplicative stats products otherwise compound
    * exponentially across delta-iteration rounds). Same checkpointed
    * InternalRow RDD, same output partitioning/ordering — only the stats
    * provenance is dropped, so the leaf falls back to the engine's
    * default estimate.
    */
  def dropOriginStats(checkpointed: DataFrame): DataFrame =
    checkpointed.queryExecution.logical match {
      case lr: LogicalRDD =>
        val ses = checkpointed.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(ses,
          new LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(ses, None, None))
      case _ => checkpointed // unexpected shape: keep Spark's own result
    }

  /** The one leaf a persisted state is read from: an RDD (a local
    * checkpoint) or a file relation (a durable table read back). None for
    * any other plan. */
  private def stateLeaf(state: DataFrame): Option[LogicalPlan] =
    state.queryExecution.analyzed match {
      case r: LogicalRDD => Some(r)
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        Some(l)
      case _ => None
    }

  /** Drops the cached blocks of a state read from an RDD leaf (a local
    * checkpoint). `Dataset.unpersist` only drops cache-manager entries,
    * which a checkpoint has none of; `RDD.unpersist` would also warn, each
    * time, that a local checkpoint cannot be recomputed once dropped. */
  def unpersistStateLeaf(state: DataFrame): Unit = stateLeaf(state) match {
    case Some(r: LogicalRDD) =>
      r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
    case _ =>
  }

  /** What a plan built over `leaf` assumes of it, with every column named
    * by its ordinal: the schema, the RDD's partition count, partitioning
    * and ordering, and which side of the broadcast threshold its size
    * estimate falls on, the one size the planner decides on. A file
    * relation advertises no partitioning (its scan splits files at run
    * time); its format, partition columns and buckets stand for its
    * layout. Its options are left out: they hold its path. */
  private def layout(leaf: LogicalPlan): Seq[Any] = {
    val out = leaf.output
    def byOrdinal(e: Expression): Expression =
      BindReferences.bindReference(e, out, allowFailures = true)
    def partitioning(p: Partitioning): Any = p match {
      case e: Expression => byOrdinal(e)
      case other => other
    }
    def ordering(o: Seq[SortOrder]): Seq[Any] =
      o.map(s => byOrdinal(s.copy(sameOrderExpressions = Nil)))
    val conf = leaf.conf
    val common = Seq(leaf.getClass,
      out.map(a => (a.name, a.dataType, a.nullable, a.metadata)),
      leaf.stats.sizeInBytes <= conf.autoBroadcastJoinThreshold)
    common ++ (leaf match {
      case r: LogicalRDD => Seq(r.rdd.getNumPartitions,
        partitioning(r.outputPartitioning), ordering(r.outputOrdering))
      case l: LogicalRelation =>
        val fs = l.relation.asInstanceOf[HadoopFsRelation]
        Seq(fs.fileFormat.getClass, fs.partitionSchema, fs.bucketSpec)
    })
  }

  private def isScanOf(p: SparkPlan, leaf: LogicalPlan): Boolean =
    (p, leaf) match {
      case (s: RDDScanExec, r: LogicalRDD) => s.rdd eq r.rdd
      case (s: FileSourceScanExec, l: LogicalRelation) => s.relation eq l.relation
      case _ => false
    }

  /** Scans of `leaf` in `plan`, or None when one sits where no rebinding
    * reaches it: inside an adaptive plan (whose stages are planned at run
    * time), a cached relation or a subquery. */
  private def scansOf(plan: SparkPlan, leaf: LogicalPlan): Option[Int] = {
    val inner = (plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => Nil
    }) ++ plan.subqueries
    if (inner.exists(scansOf(_, leaf) != Some(0))) None
    else if (isScanOf(plan, leaf)) Some(1)
    else plan.children.foldLeft(Option(0)) { (acc, c) =>
      for (a <- acc; n <- scansOf(c, leaf)) yield a + n }
  }

  /** `plan` with every scan of `from` reading `to` instead, and a fresh
    * instance of every operator above such a scan and of every exchange,
    * so each run shuffles and broadcasts anew. Exchange-free subtrees over
    * static inputs alone are shared. A reused exchange points at the fresh
    * instance of the exchange it reuses. */
  private def rebound(plan: SparkPlan, from: LogicalPlan,
      to: LogicalPlan): SparkPlan = {
    val touched = new IdentityHashMap[SparkPlan, java.lang.Boolean]
    def touches(p: SparkPlan): Boolean = {
      val hit = touched.get(p)
      if (hit != null) return hit
      val t = isScanOf(p, from) || (p match {
        case r: ReusedExchangeExec => touches(r.child)
        case _ => p.children.exists(touches)
      })
      touched.put(p, t)
      t
    }
    val copies = new IdentityHashMap[SparkPlan, SparkPlan]
    def go(p: SparkPlan): SparkPlan = {
      val hit = copies.get(p)
      if (hit != null) return hit
      val q = (p, to) match {
        case (s: RDDScanExec, r: LogicalRDD) if isScanOf(s, from) =>
          s.copy(rdd = r.rdd)
        case (s: FileSourceScanExec, l: LogicalRelation) if isScanOf(s, from) =>
          s.copy(relation = l.relation.asInstanceOf[HadoopFsRelation])
        case (r: ReusedExchangeExec, _) =>
          r.copy(child = go(r.child).asInstanceOf[Exchange])
        case _ if !touches(p) =>
          if (p.exists(_.isInstanceOf[Exchange])) p.clone() else p
        case _ => p.withNewChildren(p.children.map(go))
      }
      copies.put(p, q)
      q
    }
    go(plan)
  }

  /** A superstep's step, planned once over a state leaf: reruns its
    * physical plan over a later state whose leaf has the same layout.
    * [[StepTemplate.apply]] keeps no template for a plan without a scan of
    * the leaf, or with one out of reach (under AQE the executed plan is an
    * adaptive plan, which hides the leaf): rerunning such a plan would read
    * the rows of the state it was built over. */
  final class StepTemplate private (leaf: LogicalPlan, key: Seq[Any],
      plan: SparkPlan, stats: Statistics) {

    /** The step over `state`, as a lazy frame that runs the template's
      * plan with `state`'s leaf rebound; None when `state` has no leaf of
      * the template's layout. Nothing runs until the frame is executed. */
    def rebind(state: DataFrame): Option[DataFrame] =
      stateLeaf(state).filter(l => layout(l) == key).map { l =>
        val ses = state.sparkSession.asInstanceOf[classic.SparkSession]
        if (!ses.experimental.extraStrategies.contains(ReboundStepStrategy))
          ses.experimental.extraStrategies =
            ses.experimental.extraStrategies :+ ReboundStepStrategy
        classic.Dataset.ofRows(ses,
          ReboundStep(plan.output, rebound(plan, leaf, l), stats))
      }
  }

  object StepTemplate {
    /** The template of `step`, built over `state`, if it can be rerun. */
    def apply(state: DataFrame, step: DataFrame): Option[StepTemplate] =
      stateLeaf(state).flatMap { leaf =>
        val plan = step.queryExecution.executedPlan
        if (scansOf(plan, leaf).exists(_ > 0))
          Some(new StepTemplate(leaf, layout(leaf), plan,
            step.queryExecution.optimizedPlan.stats))
        else None
      }
  }

  /** A step rerun over a rebound leaf: the physical plan that runs it, with
    * the size estimate of the step it was planned from. */
  case class ReboundStep(output: Seq[Attribute], plan: SparkPlan,
      planned: Statistics) extends LeafNode {
    override def computeStats(): Statistics = planned
  }

  /** Runs a [[ReboundStep]]'s plan; `explain` shows that plan beneath. */
  case class ReboundStepExec(plan: SparkPlan) extends LeafExecNode {
    override def output: Seq[Attribute] = plan.output
    override def outputPartitioning: Partitioning = plan.outputPartitioning
    override def outputOrdering: Seq[SortOrder] = plan.outputOrdering
    override def innerChildren: Seq[QueryPlan[_]] = Seq(plan)
    override protected def doExecute(): RDD[InternalRow] = plan.execute()
  }

  private object ReboundStepStrategy extends SparkStrategy {
    override def apply(p: LogicalPlan): Seq[SparkPlan] = p match {
      case r: ReboundStep => ReboundStepExec(r.plan) :: Nil
      case _ => Nil
    }
  }
}
