package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lag/lead temporal-shift features — north-rule operator W6.
  *
  * Direct ancestor in the reference: the TSM temporal shift
  * (`frame_features/generate_frame_features.py:46-66`) where the first
  * channel block of frame t reads frame t+1 (lead), the second reads t-1
  * (lag), the rest stays — with zero-padding at sequence boundaries.
  * Expressed Spark-first as `lag`/`lead` window functions over
  * `partitionBy(entity) orderBy(ts)`; all shifted columns share ONE window
  * spec so Catalyst plans a single exchange + sort for all of them.
  */
object LagLead {

  /** Adds `<c>_lag<n>`, `<c>_lead<n>`, and `<c>_delta<n>` (= c - lag) for a
    * scalar column. */
  def withLagLead(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      c: String,
      n: Int = 1,
      tieBreak: Seq[String] = Nil): DataFrame = {
    val order: Seq[Column] = col(tsCol) +: tieBreak.map(col)
    val w = Window.partitionBy(col(entityCol)).orderBy(order: _*)
    df.withColumn(s"${c}_lag$n", lag(col(c), n).over(w))
      .withColumn(s"${c}_lead$n", lead(col(c), n).over(w))
      .withColumn(s"${c}_delta$n", col(c) - lag(col(c), n).over(w))
  }

  /** TSM-style vector shift (`generate_frame_features.py:46-66`): output
    * vector = lead(vec)[0, shiftDiv) ++ lag(vec)[shiftDiv, 2*shiftDiv) ++
    * vec[2*shiftDiv, D). Boundary frames zero-pad the shifted block, exactly
    * like the reference's `torch.zeros_like` edges. Pure `functions._`
    * (slice/concat/coalesce) — no UDF. */
  def tsmShift(
      df: DataFrame,
      entityCol: String,
      tsCol: String,
      vecCol: String,
      dim: Int,
      shiftDiv: Int): DataFrame = {
    require(2 * shiftDiv <= dim, "2*shiftDiv must be <= vector dim")
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol))
    val leadPart = slice(coalesce(lead(col(vecCol), 1).over(w), array_repeat(lit(0.0d), dim)), 1, shiftDiv)
    val lagPart = slice(coalesce(lag(col(vecCol), 1).over(w), array_repeat(lit(0.0d), dim)), shiftDiv + 1, shiftDiv)
    val keepPart = slice(col(vecCol), 2 * shiftDiv + 1, dim - 2 * shiftDiv)
    df.withColumn(s"${vecCol}_tsm", concat(leadPart, lagPart, keepPart))
  }
}
