package graft.audio

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Audio clip extraction + per-clip stats over sample-array columns.
  *
  * Reference semantics (`audio_features/imagebind_audio_feature_extractor
  * .py:44-53`): `total_clips = num_samples // clip_length`, clip i =
  * samples[i*len, (i+1)*len), tail DISCARDED (floor semantics — the audio
  * twin of Windows.FloorTail). Pure column algebra: the slice/explode runs
  * inside codegen and only clip-sized arrays cross the Generate boundary,
  * never a re-keyed shuffle of individual samples (at 10^12 rows, exploding
  * per-sample rows would be a 10^16-row shuffle — clips keep it row-local).
  */
object AudioOps {

  /** floor(n / clipLen) contiguous clips per row; tail discarded. Output =
    * input columns + (clip_idx, clip). Rows with fewer than clipLen samples
    * produce no clips (empty-array explode), matching the reference's
    * `range(int(total_clips))`. */
  def clips(df: DataFrame, samplesCol: String, clipLen: Int): DataFrame = {
    require(clipLen > 0, "clipLen must be positive")
    val n = size(col(samplesCol))
    val nClips = floor(n / clipLen).cast("int")
    // guard nClips=0: sequence(0, -1) would DESCEND (same pitfall as
    // Dedup.shingles) — emit an empty array-of-clips instead
    val clipsType = org.apache.spark.sql.types.ArrayType(df.schema(samplesCol).dataType)
    val sliced = when(
      nClips > 0,
      transform(
        sequence(lit(0), nClips - 1),
        i => slice(col(samplesCol), i * clipLen + 1, lit(clipLen))))
      .otherwise(array().cast(clipsType))
    df.select(col("*"), posexplode(sliced).as(Seq("clip_idx", "clip")))
  }

  /** Integer-exact per-clip stats over int sample clips: count, sum, sum of
    * squares (fits BIGINT for int16 samples up to ~2^33 samples/clip) —
    * enough to derive mean/RMS/energy downstream without float drift. */
  def clipStats(clip: Column): (Column, Column, Column) = (
    size(clip).cast("long"),
    aggregate(clip, lit(0L), (a, x) => a + x),
    aggregate(clip, lit(0L), (a, x) => a + x.cast("long") * x))

  /** Linear-interpolation resample origSr → targetSr (reference S7:
    * `torchaudio.functional.resample(orig_freq, 16000)`, here the
    * deterministic linear kernel). Output length = floor(n·target/orig);
    * sample j reads position j·orig/target with the boundary clamped.
    * Pure double column algebra with a FIXED operation order, so any
    * engine's IEEE double math reproduces it bit-for-bit (oracle surface).
    * `samples` must be a stored column reference (array<double>), not a
    * derived expression — Catalyst would re-expand a derived tree into
    * every per-element access. */
  def resampleLinear(samples: Column, origSr: Int, targetSr: Int): Column = {
    require(origSr > 0 && targetSr > 0, "sample rates must be positive")
    val n = size(samples)
    val outN = floor((n.cast("long") * targetSr).cast("double") / origSr).cast("int")
    val resampled = transform(
      sequence(lit(0), outN - 1),
      j => {
        val pos = j.cast("double") * origSr / targetSr
        val lo = floor(pos).cast("int")
        val hi = least(lo + 1, n - 1)
        val frac = pos - lo.cast("double")
        element_at(samples, lo + 1) * (lit(1.0) - frac) +
          element_at(samples, hi + 1) * frac
      })
    when(outN > 0, resampled)
      .otherwise(array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)))
  }
}
