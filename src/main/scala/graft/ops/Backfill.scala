package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LOCF (last-observation-carried-forward) backfill — north-rule operator
  * W8 (SURVEY.md §2.5). Absent in the reference only because its time axis is
  * dense; the engine's `caption` column is sparse (per-second narrations,
  * `text_features/generate_narration.py:113-119`) and must be carried forward
  * to every frame.
  *
  * Formulation: cumulative `last(col, ignoreNulls = true)` over
  * `partitionBy(entity) orderBy(ts, tieBreak)` — one hash exchange on entity,
  * whole-stage-codegen'd window. Per-entity row counts are bounded in this
  * domain (frames per recording, ~10^3..10^4 — `frame_utils.py:44-51` at
  * 30 fps), so entity-partitioned windows hold at 10^12 total rows: scale
  * comes from entity cardinality, not entity size. For unbounded entities use
  * [[locfBucketed]], which runs on the shared bucketed pass
  * ([[BucketedWindows.Pass]], the same operator as the flagship windows and
  * the as-of join), so any one task holds one time-bucket. [[locf]] stays
  * the plain `Window` form: the properties compare the pass against it.
  */
object Backfill {

  /** Adds `<c>_filled` for every column in `cols`. `tieBreak` makes the scan
    * order total when `ts` has duplicates (determinism). */
  def locf(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      cols: Seq[String],
      tieBreak: Seq[String] = Nil): DataFrame = {
    val order: Seq[Column] = col(tsCol) +: tieBreak.map(col)
    val w = Window
      .partitionBy(col(entityCol))
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(s"${c}_filled", last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** NOCB (next-observation-carried-backward) backfill — the mirror of
    * [[locf]]: every row takes the FIRST non-null value at-or-after it.
    * Adds `<c>_bfilled` per column. Same single exchange + sort window
    * family as locf (Catalyst merges frames over one window spec), so
    * running both fills costs one sort. NOTE: backward fill reads the
    * future BY DEFINITION — it is for label/target construction, never for
    * features entering an as-of join (the leakage audit would flag it). */
  def nocb(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      cols: Seq[String],
      tieBreak: Seq[String] = Nil): DataFrame = {
    val order: Seq[Column] = col(tsCol) +: tieBreak.map(col)
    val w = Window
      .partitionBy(col(entityCol))
      .orderBy(order: _*)
      .rowsBetween(0, Window.unboundedFollowing)
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(s"${c}_bfilled", first(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Skew-proof LOCF: the same fill as [[locf]] (`<c>_filled`), run as one
    * [[BucketedWindows.Pass]] — the fill within each `(entity, time-bucket)`
    * plus the pass's carry of the latest non-null value of earlier buckets.
    * Any single task only ever holds one (entity, bucket). */
  def locfBucketed(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      c: String,
      bucketWidth: Long,
      tieBreak: Seq[String] = Nil): DataFrame =
    BucketedWindows.Pass(entityCol, tsCol, bucketWidth, tieBreak, Seq(c), Nil, None)(df)
}
