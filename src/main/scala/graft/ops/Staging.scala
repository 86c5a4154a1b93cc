package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.metric.SQLMetric

import java.util.{Collections, WeakHashMap}

/** The one place a relation is materialized.
  *
  * Operators stage exactly the relations that feed two branches of their
  * own plan (a DIAMOND): Catalyst cannot share those subtrees — column
  * pruning and join-key constraint inference make the branches' canonical
  * plans differ, so ReuseExchange never fires — and Spark does not dedupe
  * self-join subtrees, so an unstaged diamond re-executes everything below
  * it once per branch (the minhash plan shingled the corpus 4×, the
  * flagship decoded every frame twice). The staged diamonds:
  *  - `Dedup`: the shingle, band and inverted-index relations, every
  *    round of `components`, and `ngramJaccard`'s output (read by the
  *    caller and by `components`' edges);
  *  - `TextAnalysis.tfidf`: the tf relation;
  *  - `BucketedWindows.Pass`: the output of its row-mode
  *    `BucketedPassExec` (read by the bucket summaries and the final
  *    rows), so `frameWindows`, `AsOfJoin.asOf` and
  *    `Backfill.locfBucketed` each stage once, and the input's work runs
  *    once, in the map side of the pass's exchange;
  *    `asOf` stages only its probe rows and each bucket's last row, and
  *    the match's fill but not the match;
  *  - `FeaturePipeline.frameFeatures`: its output (read by the per-second
  *    mean and the as-of join).
  *
  * [[stage]] is a lazy local checkpoint: the first action over the
  * relation writes its partitions to the block manager, and the returned
  * DataFrame's lineage is truncated onto those blocks. "Lazy" covers the
  * final stage only: with AQE on, checkpointing plans the relation
  * adaptively, which runs every shuffle stage inside it when [[stage]] is
  * called (staging a bucketed pass runs its `(entity, bucket)` exchange
  * there). Blocks stay pinned until [[release]] or
  * `unpersist`, and they cannot be recomputed after an executor loss.
  * Swapping the medium (a reliable checkpoint, a parquet write-then-read)
  * is a change to this file only. */
object Staging {

  /** The SQL metrics of each staged relation's executed plan, held for as
    * long as the staged relation's RDD is reachable. The tasks that compute
    * the staged partitions report to them, also after the planning
    * Dataset is gone; were they collected, the driver would log
    * `Failed to update accumulator` and lose their updates. Only the
    * metrics: holding the whole QueryExecution kept the staged blocks from
    * ever being released (a flagship pass left 11 MB pinned). */
  private val planMetrics = Collections.synchronizedMap(new WeakHashMap[AnyRef, Seq[SQLMetric]])
  private val plans = new AdaptiveSparkPlanHelper {}

  def stage(df: DataFrame): DataFrame = {
    val staged = df.localCheckpoint(eager = false)
    staged.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        planMetrics.put(lr.rdd, plans.collectWithSubqueries(df.queryExecution.executedPlan) {
          case p => p.metrics.values
        }.flatten)
      case _ => ()
    }
    staged
  }

  /** Best-effort release of a [[stage]]d relation's blocks (a no-op for
    * any other relation). Iterative callers stage a new relation per round
    * and release the superseded ones; without it the rounds' blocks
    * accumulate for the life of the session. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
