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
  *  - `Dedup`: the shingle, band and inverted-index relations, every
  *    round of `components`, and `ngramJaccard`'s output (read by the
  *    caller and by `components`' edges);
  *  - `TextAnalysis.tfidf`: the tf relation;
  *  - `BucketedWindows.Pass`: its windowed relation (read by the bucket
  *    summaries and the final rows), so `frameWindows` and `AsOfJoin.asOf`
  *    each stage once, and the input's work runs once, in the map side of
  *    the pass's exchange;
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
