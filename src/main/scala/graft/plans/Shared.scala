package graft.plans

import org.apache.spark.sql.{DataFrame, GraftDatasets}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.{REBALANCE_PARTITIONS_BY_NONE, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** The engine's one sharing policy for an intermediate that two or more
  * places of ONE plan read (a token table, a word count, a bin table).
  *
  * '''Sharing inside one plan stays lazy: [[share]].''' It wraps the
  * frame in a [[Shared]] node. The query's constructor returns a plan and
  * runs no job; each execution computes the intermediate once, and every
  * consumer reads that one result through Spark's exchange reuse. A
  * released or lost block recomputes from lineage like any shuffle
  * output. Deleting the sharing instead is not the same plan: consumers
  * prune the subtree to different columns, so exchange reuse never fires
  * on its own and the shared work (often a tokenize or embed kernel over
  * the corpus) re-runs per consumer — up to 4× task CPU measured. The
  * price: the exchange serializes, sorts and shuffles the intermediate
  * that a checkpoint kept in executor memory (process CPU ×1.34 over the
  * 17 sharing queries at sf0.1 `local[4]`).
  *
  * '''`localCheckpoint` stays only where it measured better,''' with one
  * line at each site naming its case:
  *  - ''iterative loop'': round K's plan would otherwise embed rounds
  *    1..K-1 (pagerank, bpeTrain); a leaf per round keeps planning flat.
  *    Superseded rounds are released
  *    ([[graft.operators.Dedup.releaseLocalCheckpoint]]). A loop that
  *    needs no relational operator per round plans nothing per round:
  *    `Dedup.clusters` keeps its graph in one co-partitioned RDD and
  *    checkpoints that RDD per round, one Spark job each, releasing the
  *    superseded round with `unpersist`.
  *  - ''driver-side reader'': a driver-side fit, `count()` or loop reads
  *    the frame as well as the returned plan. Those are two executions,
  *    so a shared subtree would run twice; the checkpoint runs it once.
  *  - ''recall leg'': the recall trilogy's pair legs
  *    (`q_dedup_cap_recall` 4.0 → 11.2 s with `share`): each leg's
  *    planning cost returns when its inputs stop being leaves.
  *  - ''store stand-in'': the frame stands in for a persisted index or
  *    code store (`q_ivf_join_indexed` +50%, `q_pq_join_indexed` +30%
  *    with `share`); at scale it is a written table, not a subtree.
  */
object Shared {

  /** `df` computed once per execution of the plan that reads it; builds
    * without running a job. Needs a session with [[GraftExtensions]]. */
  def share(df: DataFrame): DataFrame =
    GraftDatasets.ofRows(df.sparkSession, Shared(df.queryExecution.analyzed))
}

/** Logical marker over a shared subtree. It references its child's whole
  * output, so ColumnPruning cannot push a different projection under it
  * for each consumer, and no pushdown rule knows it, so filters stay
  * above it too: every copy of the subtree stays identical and plans as
  * one reusable exchange. */
private[graft] case class Shared(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override lazy val references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): Shared =
    copy(child = newChild)
}

/** Plans [[Shared]] as a round-robin rebalance exchange: every reference
  * becomes the same exchange, which AQE reuses and coalesces. Its width
  * is `spark.sql.shuffle.partitions` (the session's core count), not
  * AQE's wider initial partition number: at sf0.1 `local[4]` the 17
  * sharing queries summed ×0.95 of their checkpointed form at 4
  * partitions and ×1.07 at 256 (two interleaved rounds each). */
private[plans] object SharedStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Shared(child) =>
      ShuffleExchangeExec(
        RoundRobinPartitioning(SQLConf.get.defaultNumShufflePartitions),
        planLater(child), REBALANCE_PARTITIONS_BY_NONE) :: Nil
    case _ => Nil
  }
}
