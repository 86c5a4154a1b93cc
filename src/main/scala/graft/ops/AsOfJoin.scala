package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Point-in-time / as-of join — the engine's flagship custom operator.
  *
  * Semantics: for each probe row `(entity, ts, ...)`, attach the payload of
  * the latest build row with the same entity and `build.ts <= probe.ts`
  * (inclusive; left-join semantics — unmatched probes keep null payload).
  * This is the relational form of the reference's positional cross-modality
  * alignment contract (`test_data.py:11-25,82-89`: row i of the audio matrix
  * IS row i of the video matrix for the same recording) once every modality
  * lives in one `(entity, ts)`-keyed table.
  *
  * Scale design (the part Catalyst cannot pick for us — SURVEY.md §4.1):
  * a naive window `partitionBy(entity)` puts every row of a hot entity
  * (hot phash cluster, north rule) into ONE task. Instead the join is LOCF
  * over the tagged union of build and probe rows, run as one time-bucketed
  * pass of [[BucketedWindows]]: `bucket = floor(ts / bucketWidth)` acts as
  * the salt, so one entity spreads over (ts-range / bucketWidth) tasks, and
  * the latest match of any EARLIER bucket arrives as the pass's LOCF carry
  * (taken from each bucket's last row, one row per bucket). The pass is one
  * `BucketedPassExec` per step (the row scan and the carry-in scan), no
  * `WindowExec`. Total shuffle: one hash exchange of both sides on
  * (entity, bucket) + a negligible exchange of the bucket timeline. No
  * build row is replicated.
  *
  * [[asOf]] is the one implementation (verified against DuckDB's native
  * `ASOF JOIN` oracle); [[asOfWithin]] is a staleness post-predicate over
  * it.
  *
  * Zero temporal leakage by construction: a probe can only ever see build
  * rows ordered at-or-before itself (`orderBy(ts, tag, match)` with build
  * tag < probe tag); the emitted `asof_src_ts` column lets the leakage-audit
  * test assert `asof_src_ts <= ts` on every output row (BASELINE.json
  * north_star).
  */
object AsOfJoin {
  private val TAG = "__asof_tag"
  private val M = "__asof_m"
  private val PRB = "__asof_probe"

  /** Name of the emitted match-source-timestamp column (leakage audit). */
  val SrcTs = "asof_src_ts"

  /** Catalyst-native as-of join: each build row carries its match
    * `struct(ts, payload)`, each probe row a null one, and the bucketed
    * pass fills every probe with the last non-null match before it
    * (LOCF), in the order `(ts, tag, match)`.
    *
    * Duplicate build timestamps need no dedup pass: build rows enter the
    * union as they are, and the pass orders ties at one `(entity, ts)`
    * by the match struct, so a probe sees the largest payload among the
    * latest rows — Spark's struct ordering, the same row a
    * `max(struct(payload))` per `(entity, ts)` would keep.
    *
    * The pass stages its windowed union ([[Staging]]), so each side's
    * input runs once; it keeps only what is read later: the probe rows and
    * each bucket's last row (the carries' source), with the LOCF fill of
    * the match but not the match. A caller whose side is read elsewhere
    * too stages it first, as `FeaturePipeline.frameFeatures` does. */
  def asOf(
      probes: DataFrame,
      build: DataFrame,
      entityCol: String,
      tsCol: String,
      payload: Seq[String],
      bucketWidth: Long): DataFrame = {
    val clash = probes.columns.toSet.intersect(payload.toSet)
    require(clash.isEmpty, s"payload columns collide with probe columns: $clash — rename one side")
    require(!probes.columns.contains(SrcTs), s"probe side already has a '$SrcTs' column")
    val (rows, pass) = tagged(probes, build, entityCol, tsCol, payload, bucketWidth)
    val m = col(s"${M}_filled")
    pass(rows, reads = col(TAG) === 1, unread = Seq(M))
      .where(col(TAG) === 1)
      .select(
        probes.columns.map(c => col(PRB).getField(c).as(c)) ++
          (SrcTs +: payload).map(c => m.getField(c).as(c)): _*)
  }

  /** The tagged union of build rows (tag 0, match `struct(ts, payload)`)
    * and probe rows (tag 1, null match, the probe row as a struct), and the
    * LOCF pass that fills the match. */
  private[ops] def tagged(
      probes: DataFrame,
      build: DataFrame,
      entityCol: String,
      tsCol: String,
      payload: Seq[String],
      bucketWidth: Long): (DataFrame, BucketedWindows.Pass) = {
    val builds = build.select(
      col(entityCol), col(tsCol), lit(0).as(TAG),
      struct(col(tsCol).as(SrcTs) +: payload.map(col): _*).as(M),
      lit(null).cast(StructType(probes.schema.fields)).as(PRB))
    val probeRows = probes.select(
      col(entityCol), col(tsCol), lit(1).as(TAG),
      lit(null).cast(builds.schema(M).dataType).as(M),
      struct(probes.columns.map(col): _*).as(PRB))
    val pass = BucketedWindows.Pass(entityCol, tsCol, bucketWidth, Seq(TAG, M), Seq(M), Nil, None)
    (builds.unionByName(probeRows), pass)
  }

  /** As-of join with a STALENESS BOUND: identical to [[asOf]] but a match
    * older than `tolerance` time units is dropped (payload + src_ts go
    * null, left-join row kept) — "join the latest sensor reading, unless
    * it is more than an hour stale". Composes the proven operator with a
    * pure column post-predicate (Spark-first preference order (a)): the
    * filter runs inside the same whole-stage-codegen stage as the stitch
    * projection, so the bound costs zero extra exchanges. The leakage
    * invariant is unchanged (src_ts ∈ [ts − tolerance, ts]). */
  def asOfWithin(
      probes: DataFrame,
      build: DataFrame,
      entityCol: String,
      tsCol: String,
      payload: Seq[String],
      bucketWidth: Long,
      tolerance: Long): DataFrame = {
    require(tolerance >= 0, "tolerance must be non-negative")
    val joined = asOf(probes, build, entityCol, tsCol, payload, bucketWidth)
      .withColumn("__fresh", col(SrcTs).isNotNull && col(tsCol) - col(SrcTs) <= tolerance)
    (SrcTs +: payload)
      .foldLeft(joined)((d, c) => d.withColumn(c, when(col("__fresh"), col(c))))
      .drop("__fresh")
  }
}
