package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization — north-rule operator W9 (SURVEY.md §2.5).
  *
  * The reference's "segments" are implicit session boundaries between file
  * gaps; the engine makes it explicit: a new session starts when
  * `ts - lag(ts) > gap` (or at the first row of an entity). Classic
  * two-window formulation: boundary flag via `lag`, session id via running
  * `sum` — both over the SAME window spec, so Catalyst plans one exchange +
  * one sort for the whole thing. The hot-entity-safe form (any task holds
  * one (entity, time-bucket), not one entity) is
  * [[BucketedWindows.frameWindows]] with no LOCF or lag columns.
  */
object Sessionize {

  /** Adds `session_id` (1-based per entity) and `is_session_start`. */
  def sessionize(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      gap: Long,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val order: Seq[Column] = col(tsCol) +: tieBreak.map(col)
    val w = Window.partitionBy(col(entityCol)).orderBy(order: _*)
    val prev = lag(col(tsCol), 1).over(w)
    val isNew = when(prev.isNull || col(tsCol) - prev > gap, 1).otherwise(0)
    df.withColumn("is_session_start", isNew)
      .withColumn(
        "session_id",
        sum(col("is_session_start")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Per-session aggregate: row count, span, value stats. Composes on
    * [[sessionize]]; the groupBy reuses the (entity) hash partitioning. */
  def sessionStats(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      gap: Long,
      valueCol: String,
      tieBreak: Seq[String] = Nil): DataFrame =
    sessionize(df, entityCol, tsCol, gap, tieBreak)
      .groupBy(col(entityCol), col("session_id"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        (max(col(tsCol)) - min(col(tsCol))).as("duration"),
        avg(col(valueCol)).as("avg_value"))
}
