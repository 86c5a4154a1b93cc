package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
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
  * (hot phash cluster, north rule) into ONE task. Instead both sides are
  * *time-bucketed*: `bucket = floor(ts / bucketWidth)` acts as the salt, so
  * one entity spreads over (ts-range / bucketWidth) tasks. Correctness across
  * bucket boundaries is restored by a cheap "carry-in" pre-pass: per
  * (entity, bucket) the latest build row is reduced (tiny — one row per
  * bucket), then a running max over the per-entity bucket timeline yields,
  * for every bucket that contains probes, the latest build row from any
  * EARLIER bucket. That carry row is injected at the head of the bucket, and
  * the in-bucket merge is then purely local. Total shuffle: one hash exchange
  * of both sides on (entity, bucket) + a negligible exchange of the bucket
  * timeline. No build row is replicated more than once.
  *
  * [[asOf]] is the one implementation (verified against DuckDB's native
  * `ASOF JOIN` oracle); [[asOfWithin]] is a staleness post-predicate over
  * it.
  *
  * Zero temporal leakage by construction: a probe can only ever see build
  * rows ordered at-or-before itself (`orderBy(ts, tag, payload)` with build
  * tag < probe tag); the emitted `asof_src_ts` column lets the leakage-audit
  * test assert `asof_src_ts <= ts` on every output row (BASELINE.json
  * north_star).
  */
object AsOfJoin {
  private val B = "__asof_bucket"
  private val TAG = "__asof_tag"
  private val PAY = "__asof_pay"
  private val PRB = "__asof_probe"

  /** Name of the emitted match-source-timestamp column (leakage audit). */
  val SrcTs = "asof_src_ts"

  /** Catalyst-native as-of join: union of build, carry and probe rows +
    * one cumulative `last(..., ignoreNulls)` window per (entity, bucket) —
    * whole-stage-codegen'd and AQE-eligible.
    *
    * Duplicate build timestamps need no dedup pass: build rows enter the
    * union as they are, and the window orders ties at one `(entity, ts)`
    * by payload struct, so a probe sees the largest payload among the
    * latest rows — Spark's struct ordering, the same row a
    * `max(struct(payload))` per `(entity, ts)` would keep.
    *
    * The build relation feeds two subtrees (the per-bucket carry
    * reduction and the build rows of the union), and the probe side feeds
    * two more (the probe-bucket timeline and the probe rows). They are NOT
    * staged: the narrow timeline branches re-scan only their pruned
    * columns, which is cheaper than materializing parquet-scan inputs. A
    * caller whose side embeds expensive derivation stages it first
    * ([[Staging]]), as `FeaturePipeline.frameFeatures` does. */
  def asOf(
      probes: DataFrame,
      build: DataFrame,
      entityCol: String,
      tsCol: String,
      payload: Seq[String],
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val clash = probes.columns.toSet.intersect(payload.toSet)
    require(clash.isEmpty, s"payload columns collide with probe columns: $clash — rename one side")
    require(!probes.columns.contains(SrcTs), s"probe side already has a '$SrcTs' column")

    val e = col(entityCol)
    val b0 = build.select(
      e, col(tsCol), floor(col(tsCol) / bucketWidth).as(B), struct(payload.map(col): _*).as(PAY))

    val payType = b0.schema(PAY).dataType
    val probeType = StructType(probes.schema.fields)

    // Latest build row per (entity, bucket) — tiny relation. Among rows
    // tied at the latest ts, `max` picks the largest payload: the window
    // order's tie rule below.
    val lastPerBucket = b0
      .groupBy(e, col(B))
      .agg(max(struct(col(tsCol).as(SrcTs), col(PAY))).as("__last"))

    // Bucket timeline per entity: buckets that contain probes (need a carry)
    // full-outer joined with buckets that contain builds (provide carries).
    val probeBuckets = probes
      .select(e, floor(col(tsCol) / bucketWidth).as(B))
      .distinct()
      .withColumn("__isP", lit(true))
    val wCarry = Window
      .partitionBy(e)
      .orderBy(col(B))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = probeBuckets
      .join(lastPerBucket, Seq(entityCol, B), "full_outer")
      .withColumn("__carry", max(col("__last")).over(wCarry))
      .where(col("__isP") && col("__carry").isNotNull)
      .select(
        e,
        col(B),
        col(s"__carry.$SrcTs").as(tsCol),
        lit(0).as(TAG),
        col(s"__carry.$PAY").as(PAY),
        lit(null).cast(probeType).as(PRB))

    val buildRows = b0.select(
      e, col(B), col(tsCol), lit(0).as(TAG), col(PAY), lit(null).cast(probeType).as(PRB))
    val probeRows = probes.select(
      e,
      floor(col(tsCol) / bucketWidth).as(B),
      col(tsCol),
      lit(1).as(TAG),
      lit(null).cast(payType).as(PAY),
      struct(probes.columns.map(col): _*).as(PRB))
    val unioned = buildRows.unionByName(carries).unionByName(probeRows)

    // payload breaks ties at one (entity, ts): `last` keeps the largest
    val w = Window
      .partitionBy(e, col(B))
      .orderBy(col(tsCol).asc, col(TAG).asc, col(PAY).asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    // Only build/carry rows feed the running "latest seen" state; probes read it.
    val matched = last(
      when(col(TAG) === 0, struct(col(tsCol).as(SrcTs), col(PAY))),
      ignoreNulls = true).over(w)
    val probeCols = probes.columns.map(c => col(s"$PRB.$c").as(c))
    val payCols = payload.map(c => col(s"__m.$PAY.$c").as(c))
    unioned
      .withColumn("__m", matched)
      .where(col(TAG) === 1)
      .select(probeCols ++ (col(s"__m.$SrcTs").as(SrcTs) +: payCols): _*)
  }

  /** As-of join with a STALENESS BOUND: identical to [[asOf]] but a match
    * older than `tolerance` time units is dropped (payload + src_ts go
    * null, left-join row kept) — "join the latest sensor reading, unless
    * it is more than an hour stale". Composes the proven operator with a
    * pure column post-predicate (Spark-first preference order (a)): the
    * filter runs inside the same whole-stage-codegen stage as the window
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
