package org.apache.spark.sql.graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{FilterExec, LeafExecNode, ProjectExec, QueryExecution, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}

/** A materialization boundary: [[Cut.of]] returns a Dataset whose plan is a
  * [[Cut]] leaf over one [[CutCell]], so every plan that reads it (both
  * sides of a self-join, a collect and a later join, a loop's next round)
  * shares one computation of the child.
  *
  *  - Lazy: the call only plans the child. The first reader's `execute`
  *    runs it, under the cell's lock, as a lazy `localCheckpoint`; later and
  *    concurrent readers get that same RDD, and each block is computed once.
  *  - Barrier: the reader's optimizer sees a leaf, so nothing is pushed into
  *    the child and a loop's round i never re-plans the rounds below it.
  *  - Planning facts: the leaf reports the child's statistics (a tiny cut
  *    still broadcasts) and, where adaptive execution cannot change them,
  *    its partitioning and ordering (an explicit-N repartition, seen through
  *    projections, filters and `sortWithinPartitions`).
  *  - Accumulators: tasks computing the child report its SQL metrics, so the
  *    child's executed plan stays reachable while a reader may compute from
  *    lineage (each reader's job holds it); once the blocks are checkpointed
  *    the cell drops it, and a loop's earlier rounds become unreachable.
  *
  * The strategy installs itself on first use (`experimental.extraStrategies`),
  * so sessions built without `GraftExtensions` plan cuts too.
  */
object Cut {
  def of(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val exp = session.experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(CutStrategy)) exp.extraStrategies :+= CutStrategy
    }
    val cell = new CutCell(session.sessionState.executePlan(ds.logicalPlan))
    classic.Dataset.ofRows(session, Cut(cell.output, cell))
  }
}

/** One materialization of one child plan. Plans holding it may be shipped
  * with a task; the child and its rows stay on the driver.
  */
final class CutCell private[plans] (@transient private var child: QueryExecution)
    extends Serializable {
  val output: Seq[Attribute] = child.analyzed.output
  val stats: Statistics = child.optimizedPlan.stats
  /** The child's layout, over [[output]]. */
  val (partitioning, ordering): (Partitioning, Seq[SortOrder]) = {
    val plan = child.executedPlan
    val (p, o) = plan match {
      case a: AdaptiveSparkPlanExec if !CutCell.pinned(a.inputPlan) => (UnknownPartitioning(0), Nil)
      case a: AdaptiveSparkPlanExec => (a.inputPlan.outputPartitioning, a.inputPlan.outputOrdering)
      case p => (p.outputPartitioning, p.outputOrdering)
    }
    CutCell.renamed(p, o, plan.output, output)
  }
  @transient private var rows: RDD[InternalRow] = _

  /** The child's rows; until they are checkpointed, wrapped so the reader's
    * job keeps the child's plan reachable.
    */
  def read(): RDD[InternalRow] = synchronized {
    if (rows == null) {
      val types = output.map(_.dataType).toArray
      rows = child.toRdd.mapPartitions[InternalRow] { it =>
        lazy val unsafe = UnsafeProjection.create(types)
        it.map { case u: UnsafeRow => u.copy(); case r => unsafe(r).copy() }
      }.localCheckpoint()
    }
    if (rows.isCheckpointed) child = null
    if (child == null) rows else new Kept(rows, child)
  }

  override def toString: String = f"cut@${System.identityHashCode(this)}%x"
}

private object CutCell {
  /** Blocks a task is computing through [[Kept]], each with its lock. */
  val computing = new ConcurrentHashMap[(Int, Int), AnyRef]

  /** Whether adaptive execution keeps the layout of `p`, an adaptive plan's
    * input: an explicit-N exchange or a cut under projections, filters and
    * local sorts (not a coalesced shuffle or a join that may turn broadcast).
    */
  def pinned(p: SparkPlan): Boolean = p match {
    case s: ShuffleExchangeExec => s.shuffleOrigin == REPARTITION_BY_NUM
    case _: CutExec => true
    case _: ProjectExec | _: FilterExec => pinned(p.children.head)
    case s: SortExec => !s.global && pinned(s.child)
    case _ => false
  }

  /** A layout over `from` restated over `to`, attribute by position. */
  def renamed(p: Partitioning, o: Seq[SortOrder], from: Seq[Attribute],
      to: Seq[Attribute]): (Partitioning, Seq[SortOrder]) = {
    val names = AttributeMap(from.zip(to))
    def rename[E <: Expression](e: E): E =
      e.transform { case a: Attribute => names.getOrElse(a, a) }.asInstanceOf[E]
    (p match { case e: Expression => rename(e).asInstanceOf[Partitioning]; case p => p },
      o.map(rename))
  }
}

/** `rows` unchanged, holding `plan` on the driver while a job reads through
  * it; tasks reading one block take turns, so no two race to store it. */
private final class Kept(rows: RDD[InternalRow], @transient val plan: AnyRef)
    extends RDD[InternalRow](rows) {
  override protected def getPartitions: Array[Partition] = firstParent[InternalRow].partitions
  override def compute(split: Partition, ctx: TaskContext): Iterator[InternalRow] = {
    val block = (firstParent[InternalRow].id, split.index)
    val turn = CutCell.computing.computeIfAbsent(block, _ => new Object)
    try turn.synchronized(firstParent[InternalRow].iterator(split, ctx))
    finally CutCell.computing.remove(block, turn)
  }
}

/** The logical leaf: the child's output over a shared cell. */
case class Cut(output: Seq[Attribute], cell: CutCell)
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): Cut = copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics = cell.stats
}

/** The physical leaf: reads the cell, its layout over this node's output. */
case class CutExec(output: Seq[Attribute], cell: CutCell) extends LeafExecNode {
  @transient private lazy val layout =
    CutCell.renamed(cell.partitioning, cell.ordering, cell.output, output)
  override def outputPartitioning: Partitioning = layout._1
  override def outputOrdering: Seq[SortOrder] = layout._2
  override protected def doExecute(): RDD[InternalRow] = cell.read()
}

object CutStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Cut(output, cell) => CutExec(output, cell) :: Nil
    case _ => Nil
  }
}
