package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tumbling / sliding / subsample time windows — SURVEY.md §2.5 (W1-W5, W7).
  *
  * Tail semantics: the reference disagrees with itself on partial final
  * windows — `multimodal_segment_feature_extractor.py:170-187` keeps the
  * partial tail (`ceil(N/len)` segments) while
  * `text_features/imagebind_feature_extractor.py:136-153` and
  * `imagebind_segment_feature_extractor.py:51-57` drop it (`N // len`).
  * Both are first-class here via [[TailMode]] — silently picking one would
  * fail parity on the other pipeline (SURVEY.md §7.5.5).
  */
object Windows {

  sealed trait TailMode
  /** keep the partial final window (ceil semantics, A2). */
  case object CeilTail extends TailMode
  /** drop windows with fewer than `size` rows (floor semantics, A3/W2). */
  case object FloorTail extends TailMode

  /** Adds `win_id = floor(ts / size)`. Floor-bucketing a dense integer time
    * axis naturally reproduces the reference's index-range windows
    * (`segment_feature_extractor.py:57-67`). */
  def tumblingId(df: DataFrame, tsCol: String, size: Long): DataFrame =
    df.withColumn("win_id", floor(col(tsCol) / size))

  /** Tumbling aggregate: one row per (entity, win_id) with the given aggs.
    * FloorTail filters incomplete windows by row count (dense axis ⇒
    * count == size iff the window is full, the reference's own criterion). */
  def tumblingAgg(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      size: Long,
      tail: TailMode,
      aggs: Seq[Column]): DataFrame = {
    val g = tumblingId(df, tsCol, size)
      .groupBy(col(entityCol), col("win_id"))
      .agg(count(lit(1)).as("win_n"), aggs: _*)
    tail match {
      case CeilTail  => g
      case FloorTail => g.where(col("win_n") === size)
    }
  }

  /** Trailing sliding mean over the previous `preceding` rows + current —
    * the rows-based analytic form (W3). */
  def trailingMean(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      valueCol: String,
      preceding: Int,
      outCol: String,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val order: Seq[Column] = col(tsCol) +: tieBreak.map(col)
    val w = Window
      .partitionBy(col(entityCol))
      .orderBy(order: _*)
      .rowsBetween(-preceding, 0)
    df.withColumn(outCol, avg(col(valueCol)).over(w))
  }

  /** Trailing TIME-RANGE mean: avg over rows whose ts lies in
    * [ts − lookback, ts] — the range-frame twin of [[trailingMean]] (W3).
    * Row frames answer "last k observations"; range frames answer "last
    * hour", which is what a wall-clock feature usually means on an
    * irregular event axis. Catalyst plans the same single exchange + sort
    * as the rows form; the range frame is evaluated with a sliding
    * two-pointer over the sorted partition (no per-row rescan). */
  def trailingRangeMean(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      valueCol: String,
      lookback: Long,
      outCol: String): DataFrame = {
    val w = Window
      .partitionBy(col(entityCol))
      .orderBy(col(tsCol))
      .rangeBetween(-lookback, 0)
    df.withColumn(outCol, avg(col(valueCol)).over(w))
  }

  /** Uniform temporal subsample (W5, `UniformTemporalSubsample`): keep k
    * evenly spaced rows per (entity, group) — ranks round(i*(n-1)/(k-1)),
    * i = 0..k-1, exactly pytorchvideo's index formula (linspace + round).
    * Pure Catalyst: row_number + count windows + a sequence/transform lookup. */
  def uniformSubsample(
      df: DataFrame,
      entityCol: String,
      groupCol: String,
      tsCol: String,
      k: Int,
      tieBreak: Seq[String] = Nil): DataFrame = {
    require(k >= 2)
    val order: Seq[Column] = col(tsCol) +: tieBreak.map(col)
    val wOrd = Window.partitionBy(col(entityCol), col(groupCol)).orderBy(order: _*)
    val keepRanks = transform(
      sequence(lit(0), lit(k - 1)),
      i => round(i * (col("__n") - 1) / (k - 1), 0).cast("long"))
    df.withColumn("__rn", row_number().over(wOrd) - 1)
      // partition count over the SAME ordered spec with an unbounded frame
      // (identical value to an unordered partition window): sharing wOrd
      // lets Catalyst put both functions in ONE Window operator — the
      // previous two-spec form planned two Window operators, i.e. two
      // whole-partition buffering passes per group (r8, guide §2.4)
      .withColumn(
        "__n",
        count(lit(1)).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .where(array_contains(keepRanks, col("__rn")))
      .drop("__rn", "__n")
  }

  /** Chunk-of-n grouping (W7, TSM n_segment=8,
    * `generate_frame_features.py:105-121`): adds `chunk_id` =
    * floor(per-entity rank / n). */
  def chunked(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      n: Int,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val order: Seq[Column] = col(tsCol) +: tieBreak.map(col)
    val wOrd = Window.partitionBy(col(entityCol)).orderBy(order: _*)
    df.withColumn("chunk_id", floor((row_number().over(wOrd) - 1) / n))
  }
}
