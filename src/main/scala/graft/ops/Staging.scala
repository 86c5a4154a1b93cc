package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one place a relation is materialized.
  *
  * Operators stage exactly the relations that feed two branches of their
  * own plan (a DIAMOND): Catalyst cannot share those subtrees — column
  * pruning and join-key constraint inference make the branches' canonical
  * plans differ, so ReuseExchange never fires — and Spark does not dedupe
  * self-join subtrees, so an unstaged diamond re-executes everything below
  * it once per branch (the minhash plan shingled the corpus 4×, the
  * flagship decoded every frame twice). The staged diamonds:
  *  - `Dedup`: the shingle, band and inverted-index relations, and every
  *    round of `components`;
  *  - `AsOfJoin.asOfMerge`: the range partitioner's input (its sampling
  *    pass would otherwise run the prep subtree a second time);
  *  - `TextAnalysis.tfidf`: the tf relation;
  *  - `FeaturePipeline.frameFeatures`: the decoded frames.
  *
  * [[stage]] is a lazy local checkpoint: the first action over the
  * relation writes its partitions to the block manager, and the returned
  * DataFrame's lineage is truncated onto those blocks. Blocks stay pinned
  * until [[release]] or `unpersist`, and they cannot be recomputed after
  * an executor loss. Swapping the medium (a reliable checkpoint, a parquet
  * write-then-read) is a change to this file only. */
object Staging {

  def stage(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

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
