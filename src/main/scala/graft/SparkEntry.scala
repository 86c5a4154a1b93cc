package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.feats.VecOps
import graft.ops._

/** The query contract of the build plan (SURVEY.md §7).
  *
  * Every [[SparkEntry.Query]] in `registry` is one operator from SURVEY.md
  * §2 run over the sf testdata at `dir`, declared with the equivalent ANSI
  * SQL that DuckDB runs on the same parquet; `queries` and `oracleSql` are
  * the two views of it that `Verify` writes out. Column names are aliased
  * identically on both sides (the driver sorts columns by name and hashes
  * values). Floating aggregates are rounded on both sides so fp summation
  * order (Spark vs DuckDB) cannot flip the hash.
  */
object SparkEntry {

  private val HourUs = 3600L * 1000000L
  private val DayUs = 24L * HourUs
  private val SessionGapUs = 6L * HourUs // 6h inactivity ⇒ new session
  /** time-bucket width for the bucketed (salted) as-of join: 2 days of
    * micros ⇒ ~15 buckets over the 30-day testdata; at 10^12 rows the same
    * code spreads a hot entity over (span/width) tasks. */
  private val AsOfBucketUs = 2L * DayUs
  /** Shuffle partitions of the two streaming queries (their state-store
    * count per micro-batch; see runStream). */
  private val StreamShufflePartitions = 4

  /** Driver-comparable form of a double-array column: each element rounded
    * to `d` decimals then emitted as a fixed-point integer (×10^d), joined
    * into "[a,b,…]". The driver's pandas comparator sorts/hashes every output
    * column and cannot handle raw array values (round-1 lesson: 6 queries
    * erred with `unhashable type: numpy.ndarray`); fixed-point integers avoid
    * engine-specific float→string formatting on top of the proven
    * round(x, d) agreement between Spark and DuckDB. */
  private def vecFixed(c: Column, d: Int): Column = {
    val scale = math.pow(10, d)
    concat(
      lit("["),
      concat_ws(",", transform(c, x => round(round(x, d) * scale).cast("long").cast("string"))),
      lit("]"))
  }

  /** Per-user private scratch root (mode 0700) for oracle rendezvous files.
    * A fixed, PREDICTABLE path is required — the statically-authored oracle
    * SQL must name the very files a query exports — but a world-writable
    * /tmp literal would let another local user pre-plant a directory or
    * symlink that redirects or poisons the rendezvous data the oracle then
    * reads (round-4 advice). Rooting under java.io.tmpdir/graft-<user> with
    * owner-only permissions closes that; single driver run per user per
    * host is still assumed (the export is deterministic, so the only
    * remaining hazard is a half-written dir mid-overwrite). */
  private[graft] lazy val scratchRoot: String = {
    import java.nio.file.{Files, LinkOption, Paths}
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-${sys.props("user.name")}")
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      // a PRE-EXISTING path is only trusted if it is a real directory we
      // own — a pre-planted symlink or another user's directory would
      // redirect or poison the rendezvous data the oracle reads, which is
      // exactly the attack the per-user root exists to stop. Fail loudly
      // rather than proceed on an attacker-controlled path.
      require(!Files.isSymbolicLink(p), s"scratch root $p is a symlink — refusing")
      require(
        Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS),
        s"scratch root $p exists but is not a directory")
      try require(
        Files.getOwner(p).getName == sys.props("user.name"),
        s"scratch root $p is owned by another user — refusing")
      catch { case _: UnsupportedOperationException => () } // non-POSIX fs
    } else Files.createDirectory(p) // atomic: a creation race throws here
    try
      Files.setPosixFilePermissions(
        p,
        java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
    catch { case _: UnsupportedOperationException => () } // non-POSIX fs
    p.toString
  }

  /** The LSH ANN relation (query_id, rank, nn_id, cos) over the embeddings
    * table — q_ann_lsh's declared output, and q_ann_recall's ann side. */
  private def annApprox(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    graft.sim.Similarity.annLsh(
      emb, emb.where(col("vec_id") % 50 === 0),
      "vec_id", "embedding", "vec_id", "embedding", k = 5)
  }

  /** The exact brute-force top-k relation — q_ann_topk's declared output,
    * and q_ann_recall's reference side. */
  private def annBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    graft.sim.Similarity.bruteTopK(
      emb, emb.where(col("vec_id") % 50 === 0),
      "vec_id", "embedding", "vec_id", "embedding", 5)
  }

  /** Shared body of q_tumbling_ceil / q_tumbling_floor: windows of 7 frames
    * on a dense per-label rank axis (row_number − 1, the reference's frame
    * index), element-wise vecAvg per window; each label's last window is
    * partial, so the two tail modes provably diverge on every label. */
  private def tumblingTail(s: SparkSession, dir: String, tail: Windows.TailMode): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    val ranked = emb
      .withColumn("rk", row_number().over(Window.partitionBy(col("label")).orderBy(col("vec_id"))) - 1)
      .withColumn("dvec", col("embedding").cast("array<double>"))
    Windows
      .tumblingAgg(ranked, "label", "rk", 7L, tail, Seq(VecOps.vecAvg(col("dvec")).as("raw")))
      .select(col("label"), col("win_id"), col("win_n"), vecFixed(col("raw"), 4).as("win_vec"))
  }

  /** Deterministic teardown of a finished streaming query: stop + await,
    * then shut down the executor-side StateStore maintenance task. Without
    * the last step the maintenance thread outlives the streaming query by
    * up to its 60 s interval and — once the session is stopped — logs a
    * WARN + full stack trace ("SparkEnv not active") into the bench output
    * (round-3 artifact pollution). `StateStore.stop()` also unloads the
    * loaded providers; a later streaming query reloads them on demand. */
  private def stopStreaming(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    // stop() cancels the query's job group; when the final micro-batch has
    // already completed (processAllAvailable just returned) DAGScheduler
    // WARNs "Failed to cancel job group … Cannot find active jobs" — a
    // benign cancel-vs-finished race, but it pollutes the bench artifact
    // tail. Raise that ONE logger to ERROR around the stop (targeted:
    // every other DAGScheduler warning stays visible).
    val dag = "org.apache.spark.scheduler.DAGScheduler"
    // restore the PREVIOUS effective level, not a hard-coded WARN — a user
    // debugging at INFO/DEBUG must get their scheduler logs back
    val prev = org.apache.logging.log4j.LogManager.getLogger(dag).getLevel
    org.apache.logging.log4j.core.config.Configurator
      .setLevel(dag, org.apache.logging.log4j.Level.ERROR)
    try {
      q.stop()
      q.awaitTermination()
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    } finally
      org.apache.logging.log4j.core.config.Configurator.setLevel(dag, prev)
  }

  /** Recursive delete (children before parents), stream closed. */
  private def deleteTree(p: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    } finally walk.close()
  }

  /** Runs `build` over the events table as ONE complete-mode micro-batch
    * and returns the memory sink `name`. The file source reads a
    * directory, so `events.parquet` is copied into a temp stage directory;
    * the stage and checkpoint directories are deleted and the state store
    * stopped (see stopStreaming) however the query ends. */
  private def runStream(s: SparkSession, dir: String, name: String)(
      build: DataFrame => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    val stage = Files.createTempDirectory("graft_stream")
    val ckpt = Files.createTempDirectory("graft_stream_ckpt")
    try {
      Files.copy(Paths.get(s"$dir/events.parquet"), stage.resolve("events.parquet"))
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      // scoped shuffle-partition override: stateful streaming cost is
      // dominated by per-batch state-store instances (one per shuffle
      // partition), not data volume at this scale (r7 warm-JVM A/B on the
      // session query: 8→8.3-9.1 s, 4→5.2-5.5 s, 2→5.8-6.5 s). The stream
      // captures the conf at start(); restored right after.
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions.toString)
      val q =
        try build(s.readStream.schema(schema).parquet(stage.toString))
          .writeStream
          .outputMode("complete")
          .format("memory")
          .queryName(name)
          .option("checkpointLocation", ckpt.toString)
          .start()
        finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      try q.processAllAvailable()
      finally stopStreaming(q)
    } finally Seq(ckpt, stage).foreach(deleteTree)
    s.table(name)
  }

  private def ev(s: SparkSession, dir: String): DataFrame =
    // ts is TIMESTAMP_NTZ in the parquet; session tz is pinned UTC, so the
    // cast makes unix_micros agree with DuckDB's epoch_us on the naive value.
    s.read.parquet(s"$dir/events.parquet")
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))

  /** The click→purchase as-of leaves' two sides: purchase probes
    * (`user_id, ts_us, event_id` + `probeExtra`) and click builds
    * (`user_id, ts_us, click_value`). */
  private def purchaseClickSides(
      s: SparkSession, dir: String, probeExtra: Column*): (DataFrame, DataFrame) = {
    val e = ev(s, dir)
    val probes = e
      .filter(col("event_type") === "purchase")
      .select(Seq(col("user_id"), col("ts_us"), col("event_id")) ++ probeExtra: _*)
    val build = e
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("value").as("click_value"))
    (probes, build)
  }

  /** Each purchase with the latest click at-or-before it (J2, the
    * flagship operator). */
  private def purchaseLastClick(s: SparkSession, dir: String): DataFrame = {
    val (probes, build) =
      purchaseClickSides(s, dir, round(col("value"), 4).as("purchase_value"))
    AsOfJoin
      .asOf(probes, build, "user_id", "ts_us", Seq("click_value"), AsOfBucketUs)
      .select(
        col("user_id"),
        col("ts_us"),
        col("event_id"),
        col("purchase_value"),
        col(AsOfJoin.SrcTs).as("click_ts_us"),
        round(col("click_value"), 4).as("click_value"))
  }

  /** Spread a scan whose split count is far below the session's core count
    * BEFORE expensive per-row compute (opt guide §2.6/§6: input splits bound
    * scan-stage parallelism). The driver tables are single-row-group parquet
    * files, so one task scans them — and every per-row kernel PIPELINED with
    * that scan (shingle UDF, 16×md5 signature mins, LSH projections, audio/
    * depth array math, all-pairs cosine) otherwise runs on one core of
    * local[32]. A round-robin repartition moves only the narrow source rows
    * once and unlocks the full core count for the kernels. Scale-adaptive,
    * not a local[32] tune: any real multi-split input (every table at
    * cluster scale) already has ≥ half the session's default parallelism in
    * scan partitions and passes through untouched — the exchange exists
    * exactly when the input is too small to parallelize by splits alone.
    * Only applied where downstream math is order-independent (md5/min/count/
    * per-row projections), never above an order-sensitive float fold. */
  private def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= p) df else df.repartition(p)
  }

  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    spread(s.read.parquet(s"$dir/documents.parquet"))

  /** The MinHash-LSH near-dup pair graph `(doc_a, doc_b, jaccard)`:
    * q_minhash_lsh's output and q_dedup_components' input, built by each. */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.minhashLsh(docsSpread(s, dir), "doc_id", "text")

  private def embSpread(s: SparkSession, dir: String): DataFrame =
    spread(s.read.parquet(s"$dir/embeddings.parquet"))

  /** Flagship: the full north-rule pipeline — synthetic image+caption table
    * → fused decode/feature UDF → caption LOCF → lag-delta → sessionize →
    * as-of join onto the probe grid — at tiny scale (FIXTURES.md §1).
    * Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.pipeline.FeaturePipeline.run(spark, entities = 8, framesPerEntity = 256, probesPerEntity = 8)

  /** One contract query: its `name`, the ANSI SQL that DuckDB runs on the
    * same parquet tables to check it (`None` for an op that is not
    * SQL-expressible: only its rows are checked), and its body over the sf
    * testdata at `dir`. */
  final case class Query(name: String, oracle: Option[String])(
      val build: (SparkSession, String) => DataFrame)

  /** Every contract query, one per implemented operator from SURVEY.md §2,
    * each declared once beside its oracle. A `def`, like the two views
    * below: no SQL string (nor [[scratchRoot]]) is built before a caller
    * asks for the registry. */
  private[graft] def registry: Seq[Query] = Seq(
    // ---- J2: point-in-time / as-of join (flagship operator) ----
    Query("q_asof_join", Some(asofSql))(purchaseLastClick),
    // the same leaf as q_asof_join (the as-of join has one implementation);
    // kept under its own name because the bench and the oracle list it
    Query("q_asof_merge", Some(asofSql))(purchaseLastClick),
    // the flagship as-of via the STATEFUL STREAMING operator
    // (flatMapGroupsWithState, O(1) state per entity) run in batch mode —
    // batch/stream parity for the flagship, same DuckDB ASOF oracle
    // (mirrors the q_locf_stateful pattern)
    Query("q_asof_stateful", Some(
      """SELECT p.user_id AS user_id, epoch_us(p.ts) AS ts_us, p.event_id AS event_id,
        |       epoch_us(b.ts) AS click_ts_us, round(b.value, 4) AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
        |                WHERE event_type = 'click' GROUP BY user_id, ts) b
        |  ON p.user_id = b.user_id AND p.ts >= b.ts""".stripMargin))((s, dir) => {
      import s.implicits._
      val e = ev(s, dir)
        .where(col("event_type").isin("click", "purchase"))
        .select(
          col("user_id"),
          col("ts_us"),
          (col("event_type") === "click").as("isBuild"),
          when(col("event_type") === "click", col("value")).as("v"),
          col("event_id").as("tag"))
      graft.streaming.StreamingFeatures
        .statefulAsOf(e.as[graft.streaming.StreamingFeatures.AsOfEvent])
        .toDF()
        .select(
          col("user_id"),
          col("ts_us"),
          col("tag").as("event_id"),
          col("src_ts").as("click_ts_us"),
          round(col("v"), 4).as("click_value"))
    }),
    // as-of with a staleness bound (1 h): matches older than the tolerance
    // are dropped to null — the "latest reading unless too stale" form
    // every PIT feature store needs (round-4 widening)
    Query("q_asof_tolerance", Some(
      """SELECT p.user_id AS user_id, epoch_us(p.ts) AS ts_us, p.event_id AS event_id,
        |  CASE WHEN epoch_us(p.ts) - epoch_us(b.ts) <= 3600000000
        |       THEN epoch_us(b.ts) END AS click_ts_us,
        |  CASE WHEN epoch_us(p.ts) - epoch_us(b.ts) <= 3600000000
        |       THEN round(b.value, 4) END AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
        |                WHERE event_type = 'click' GROUP BY user_id, ts) b
        |  ON p.user_id = b.user_id AND p.ts >= b.ts""".stripMargin))((s, dir) => {
      val (probes, build) = purchaseClickSides(s, dir)
      AsOfJoin
        .asOfWithin(probes, build, "user_id", "ts_us", Seq("click_value"), AsOfBucketUs, HourUs)
        .select(
          col("user_id"),
          col("ts_us"),
          col("event_id"),
          col(AsOfJoin.SrcTs).as("click_ts_us"),
          round(col("click_value"), 4).as("click_value"))
    }),
    // ---- north-rule leakage audit over the as-of join OUTPUT: one scan,
    //      pure column predicate — n_leaked must be 0, max_lead null ----
    Query("q_leakage_audit", Some(
      """WITH j AS (
        |  SELECT p.ts_us AS ts_us, b.src_ts AS src_ts FROM
        |    (SELECT user_id, epoch_us(ts) AS ts_us, ts FROM events WHERE event_type = 'purchase') p
        |  ASOF LEFT JOIN
        |    (SELECT user_id, ts, epoch_us(ts) AS src_ts FROM events WHERE event_type = 'click') b
        |  ON p.user_id = b.user_id AND p.ts >= b.ts)
        |SELECT count(*) AS n_rows, count(src_ts) AS n_matched,
        |  CAST(sum(CASE WHEN src_ts IS NOT NULL AND src_ts > ts_us THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
        |  max(CASE WHEN src_ts IS NOT NULL AND src_ts > ts_us THEN src_ts - ts_us END) AS max_lead
        |FROM j""".stripMargin))((s, dir) => {
      val (probes, build) = purchaseClickSides(s, dir)
      val joined = AsOfJoin
        .asOf(probes, build, "user_id", "ts_us", Seq("click_value"), AsOfBucketUs)
      LeakageAudit.auditStats(joined, "ts_us", AsOfJoin.SrcTs)
    }),
    // ---- W8: LOCF backfill ----
    Query("q_locf_backfill", Some(locfSql))((s, dir) => {
      val e = ev(s, dir).withColumn(
        "sparse_value",
        when(col("event_type") === "purchase", col("value")))
      Backfill
        .locf(e, "user_id", "ts_us", Seq("sparse_value"), Seq("event_id"))
        .select(
          col("user_id"),
          col("event_id"),
          col("ts_us"),
          round(col("sparse_value_filled"), 4).as("locf_value"))
    }),
    // same semantics via the skew-proof bucketed LOCF
    Query("q_locf_bucketed", Some(locfSql))((s, dir) => {
      val e = ev(s, dir).withColumn(
        "sparse_value",
        when(col("event_type") === "purchase", col("value")))
      Backfill
        .locfBucketed(e, "user_id", "ts_us", "sparse_value", AsOfBucketUs, Seq("event_id"))
        .select(
          col("user_id"),
          col("event_id"),
          col("ts_us"),
          round(col("sparse_value_filled"), 4).as("locf_value"))
    }),
    // same LOCF semantics via the STATEFUL streaming operator
    // (flatMapGroupsWithState) run in batch mode — proves batch/stream parity
    // against the same DuckDB oracle. Note: ts collisions within a user
    // would make fill order nondeterministic; events.parquet has unique
    // (user, ts) pairs (asserted by the oracle hash match itself).
    Query("q_locf_stateful", Some(locfSql))((s, dir) => {
      import s.implicits._
      val e = ev(s, dir).select(
        col("user_id"),
        col("ts_us"),
        when(col("event_type") === "purchase", col("value")).as("v"),
        col("event_id").as("tag"))
      graft.streaming.StreamingFeatures
        .statefulLocf(e.as[graft.streaming.StreamingFeatures.LocfEvent])
        .toDF()
        .select(
          col("user_id"),
          col("tag").as("event_id"),
          col("ts_us"),
          round(col("v_filled"), 4).as("locf_value"))
    }),
    // ---- W6: lag/lead + delta ----
    Query("q_lag_lead", Some(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, round(value, 4) AS v,
        |  round(lag(value) OVER w, 4) AS lag_v,
        |  round(lead(value) OVER w, 4) AS lead_v,
        |  round(value - lag(value) OVER w, 4) AS delta_v
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin))((s, dir) => {
      LagLead
        .withLagLead(ev(s, dir), "user_id", "ts_us", "value", 1, Seq("event_id"))
        .select(
          col("user_id"),
          col("event_id"),
          col("ts_us"),
          round(col("value"), 4).as("v"),
          round(col("value_lag1"), 4).as("lag_v"),
          round(col("value_lead1"), 4).as("lead_v"),
          round(col("value_delta1"), 4).as("delta_v"))
    }),
    // ---- W9: gap sessionization ----
    Query("q_sessionize", Some(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000 THEN 1
        |            ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin))((s, dir) => {
      Sessionize
        .sessionize(ev(s, dir), "user_id", "ts_us", SessionGapUs, Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("ts_us"), col("session_id"))
    }),
    Query("q_session_stats", Some(
      """WITH sess AS (
        |  SELECT user_id, value, epoch_us(ts) AS ts_us,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000 THEN 1
        |              ELSE 0 END AS is_new
        |    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)))
        |SELECT user_id, session_id, count(*) AS n_rows,
        |  min(ts_us) AS session_start, max(ts_us) AS session_end,
        |  max(ts_us) - min(ts_us) AS duration,
        |  round(avg(value), 4) AS avg_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin))((s, dir) => {
      Sessionize
        .sessionStats(ev(s, dir), "user_id", "ts_us", SessionGapUs, "value", Seq("event_id"))
        .select(
          col("user_id"),
          col("session_id"),
          col("n_rows"),
          col("session_start"),
          col("session_end"),
          col("duration"),
          round(col("avg_value"), 4).as("avg_value"))
    }),
    // ---- A2 vs A3: the reference's ONE genuine semantic divergence on
    //      partial final windows (multimodal_segment_feature_extractor.py:
    //      170-187 keeps the tail; text_features/imagebind_feature_extractor
    //      .py:136-153 drops it) — both tail modes of Windows.tumblingAgg +
    //      vecAvg, hash-checked vs DuckDB on a dense per-label frame axis ----
    Query("q_tumbling_ceil", Some(tumblingTailSql(floorOnly = false)))(
      (s, dir) => tumblingTail(s, dir, Windows.CeilTail)),
    Query("q_tumbling_floor", Some(tumblingTailSql(floorOnly = true)))(
      (s, dir) => tumblingTail(s, dir, Windows.FloorTail)),
    // ---- W1/A2: tumbling window aggregate (1 day) ----
    Query("q_tumbling_window", Some(
      """SELECT user_id, epoch_us(ts) // 86400000000 AS win_id,
        |  count(*) AS n, round(avg(value), 4) AS avg_v
        |FROM events GROUP BY 1, 2""".stripMargin))((s, dir) => {
      ev(s, dir)
        .groupBy(col("user_id"), floor(col("ts_us") / DayUs).as("win_id"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_v"))
    }),
    // ---- W3: trailing sliding mean (3 preceding + current rows) ----
    Query("q_sliding_window", Some(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS sliding_avg
        |FROM events""".stripMargin))((s, dir) => {
      Windows
        .trailingMean(ev(s, dir), "user_id", "ts_us", "value", 3, "sliding_avg", Seq("event_id"))
        .select(
          col("user_id"),
          col("event_id"),
          col("ts_us"),
          round(col("sliding_avg"), 4).as("sliding_avg"))
    }),
    // ---- W3 range twin: trailing 1-hour TIME-RANGE mean (round-4) ----
    Query("q_range_window", Some(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
        |        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 4) AS range_avg
        |FROM events""".stripMargin))((s, dir) => {
      Windows
        .trailingRangeMean(ev(s, dir), "user_id", "ts_us", "value", HourUs, "range_avg")
        .select(
          col("user_id"),
          col("event_id"),
          col("ts_us"),
          round(col("range_avg"), 4).as("range_avg"))
    }),
    // ---- W8 mirror: NOCB backward fill (label construction; reads the
    //      future by definition — never a feature input, see Backfill.nocb) ----
    Query("q_bfill", Some(
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  round(first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 4) AS bfill_value
        |FROM events""".stripMargin))((s, dir) => {
      val e = ev(s, dir).withColumn(
        "sparse_value",
        when(col("event_type") === "purchase", col("value")))
      Backfill
        .nocb(e, "user_id", "ts_us", Seq("sparse_value"), Seq("event_id"))
        .select(
          col("user_id"),
          col("event_id"),
          col("ts_us"),
          round(col("sparse_value_bfilled"), 4).as("bfill_value"))
    }),
    // ---- distribution features (round-4): exact interpolated percentiles
    //      per (user, day) — label/feature scaling stats; Spark
    //      `percentile` and DuckDB `quantile_cont` share the
    //      p·(n−1) linear-interpolation definition ----
    Query("q_percentile", Some(
      """SELECT user_id, epoch_us(ts) // 86400000000 AS win_id, count(*) AS n,
        |  '[' || array_to_string(
        |    [CAST(round(round(x, 4) * 10000) AS BIGINT)
        |     for x in quantile_cont(value, [0.25, 0.5, 0.9])], ',') || ']' AS pcts
        |FROM events GROUP BY 1, 2""".stripMargin))((s, dir) => {
      ev(s, dir)
        .groupBy(col("user_id"), floor(col("ts_us") / DayUs).as("win_id"))
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(value, array(0.25D, 0.5D, 0.9D))").as("raw"))
        .select(col("user_id"), col("win_id"), col("n"), vecFixed(col("raw"), 4).as("pcts"))
    }),
    // ---- histogram bucketing over the global value axis (PostgreSQL
    //      width_bucket semantics in both engines) ----
    Query("q_histogram", Some(
      // this DuckDB build has no width_bucket — spell out the PostgreSQL
      // semantics (below-range → 0, at-or-above hi → count+1, else
      // 1-based floor) on the exact bucket boundaries (multiples of 5 are
      // double-exact, so the two engines cannot disagree at an edge)
      """SELECT CAST(CASE WHEN value < 0 THEN 0
        |            WHEN value >= 100 THEN 21
        |            ELSE floor(value / 5) + 1 END AS BIGINT) AS bucket,
        |  count(*) AS n, round(avg(value), 4) AS avg_v
        |FROM events GROUP BY 1""".stripMargin))((s, dir) => {
      ev(s, dir)
        .groupBy(width_bucket(col("value"), lit(0d), lit(100d), lit(20)).as("bucket"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_v"))
    }),
    // ---- W5: uniform temporal subsample, k=4 per (user, day) ----
    Query("q_subsample", Some(
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    epoch_us(ts) // 86400000000 AS win_id,
        |    row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000
        |                       ORDER BY ts, event_id) - 1 AS rn,
        |    count(*) OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000) AS n
        |  FROM events)
        |SELECT user_id, win_id, event_id, ts_us FROM g
        |WHERE rn IN (CAST(round(0 * (n - 1) / 3.0) AS BIGINT),
        |             CAST(round(1 * (n - 1) / 3.0) AS BIGINT),
        |             CAST(round(2 * (n - 1) / 3.0) AS BIGINT),
        |             CAST(round(3 * (n - 1) / 3.0) AS BIGINT))""".stripMargin))((s, dir) => {
      val withWin = ev(s, dir).withColumn("win_id", floor(col("ts_us") / DayUs))
      Windows
        .uniformSubsample(withWin, "user_id", "win_id", "ts_us", 4, Seq("event_id"))
        .select(col("user_id"), col("win_id"), col("event_id"), col("ts_us"))
    }),
    // ---- J3: interval (range) join — clicks in the hour before each
    //      view, via the bucketed ops.IntervalJoin operator (an equi-join
    //      on (user, bucket) + residual predicate; never a per-user cross
    //      product) ----
    Query("q_interval_join", Some(
      """SELECT v.event_id AS event_id, count(c.ts) AS n_clicks
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id AND c.ts >= v.ts - INTERVAL 1 HOUR AND c.ts < v.ts
        |GROUP BY v.event_id""".stripMargin))((s, dir) => {
      val e = ev(s, dir)
      val views = e
        .filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = e
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("c_ts"))
      val matched = IntervalJoin
        .rangeJoin(views, clicks, "user_id", "ts_us", "c_ts", before = HourUs, after = 0L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n"))
      views
        .select(col("event_id"))
        .join(matched, Seq("event_id"), "left_outer")
        .select(col("event_id"), coalesce(col("n"), lit(0L)).as("n_clicks"))
    }),
    // ---- J4: anti-join vs completed manifest (resume semantics) ----
    Query("q_anti_join", Some(
      """SELECT user_id, count(*) AS n FROM events e
        |WHERE NOT EXISTS (SELECT 1 FROM events x
        |                  WHERE x.user_id = e.user_id
        |                    AND x.event_type = 'error' AND x.value > 90)
        |GROUP BY user_id""".stripMargin))((s, dir) => {
      val e = ev(s, dir)
      val completed = e
        .filter(col("event_type") === "error" && col("value") > 90)
        .select(col("user_id"))
        .distinct()
      e.join(completed, Seq("user_id"), "left_anti")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
    }),
    // ---- A1-A4: element-wise vector mean (vecAvg Aggregator) ----
    Query("q_vec_avg", Some(
      """WITH e AS (
        |  SELECT label, unnest(embedding)::DOUBLE AS v,
        |         unnest(range(1, len(embedding) + 1)) AS pos
        |  FROM embeddings),
        |a AS (SELECT label, pos, avg(v) AS m FROM e GROUP BY label, pos),
        |c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
        |SELECT a.label AS label,
        |  '[' || array_to_string(list(CAST(round(round(m, 4) * 10000) AS BIGINT) ORDER BY pos), ',') || ']' AS vec_avg,
        |  max(c.n) AS n
        |FROM a JOIN c USING (label) GROUP BY a.label""".stripMargin))((s, dir) => {
      s.read
        .parquet(s"$dir/embeddings.parquet")
        .groupBy(col("label"))
        .agg(
          VecOps.vecAvg(col("embedding").cast("array<double>")).as("raw"),
          count(lit(1)).as("n"))
        .select(col("label"), vecFixed(col("raw"), 4).as("vec_avg"), col("n"))
    }),
    // ---- generic agg/join sanity (TPC-H-ish) ----
    Query("q1_agg", Some(
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin))((s, dir) => {
      s.read
        .parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n"))
    }),
    Query("q_join_agg", Some(
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin))((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      val n = s.read.parquet(s"$dir/nation.parquet")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
    }),
    Query("q_topk", Some(
      """SELECT o_orderkey, round(o_totalprice, 2) AS price
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin))((s, dir) => {
      s.read
        .parquet(s"$dir/orders.parquet")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
    }),
    // ---- flagship image pipeline (P6, A1, W6, W8, W9, J2 fused) — not
    //      SQL-expressible (image decode); parity is asserted in ParitySpec,
    //      driver records a rows-only check ----
    Query("q_image_pipeline", None)((s, _) => {
      graft.pipeline.FeaturePipeline
        .run(s, entities = 8, framesPerEntity = 256, probesPerEntity = 8)
        .select(
          col("entity"),
          col("asOfTs"),
          col(AsOfJoin.SrcTs),
          col("f_caption"),
          col("f_session"),
          vecFixed(col("f_vec").cast("array<double>"), 4).as("f_vec"))
    }),
    // The flagship's SQL-expressible half, HASH-CHECKED (round-3 directive
    // #6): export the synthetic (entity, ts, caption) grid + probe grid to
    // parquet at a fixed path, then run exactly the pipeline's caption
    // rewrite → LOCF → gap sessionization → as-of probe join over the
    // EXPORTED files; the DuckDB oracle reads the same files via
    // read_parquet. The image decode itself stays parity-spec'd
    // (ParitySpec — not SQL-expressible).
    Query("q_image_meta", Some(
      s"""WITH f AS (SELECT * FROM read_parquet('$scratchRoot/q_image_meta/frames/*.parquet')),
         |pr AS (SELECT * FROM read_parquet('$scratchRoot/q_image_meta/probes/*.parquet')),
         |w AS (
         |  SELECT entity, ts,
         |    last_value(regexp_replace(caption, '#C C', 'actor', 'g') IGNORE NULLS)
         |      OVER (PARTITION BY entity ORDER BY ts
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_caption,
         |    CAST(sum(is_new) OVER (PARTITION BY entity ORDER BY ts
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f_session
         |  FROM (SELECT *, CASE WHEN lag(ts) OVER v IS NULL
         |                         OR ts - lag(ts) OVER v > 8 THEN 1 ELSE 0 END AS is_new
         |        FROM f WINDOW v AS (PARTITION BY entity ORDER BY ts)))
         |SELECT pr.entity AS entity, pr.asOfTs AS as_of_ts, w.ts AS src_ts,
         |       w.f_caption AS f_caption, w.f_session AS f_session
         |FROM pr ASOF LEFT JOIN w ON pr.entity = w.entity AND pr.asOfTs >= w.ts""".stripMargin))((s, _) => {
      import graft.synth.SynthImages
      // FIXED rendezvous path (per-user 0700 scratch — see scratchRoot):
      // the oracle SQL must name the same files this query writes, and
      // DuckDB reads them AFTER the query finishes (so no cleanup here
      // either).
      val base = s"$scratchRoot/q_image_meta"
      SynthImages.metaTable(s, 8, 256)
        .coalesce(1).write.mode("overwrite").parquet(s"$base/frames")
      SynthImages.probes(s, 8, 256, 8)
        .coalesce(1).write.mode("overwrite").parquet(s"$base/probes")
      val f = s.read.parquet(s"$base/frames")
        .withColumn("caption_rw", regexp_replace(col("caption"), "#C C", "actor"))
      // the BUCKETED window stage (the flagship's hot-entity-safe
      // formulation) — the DuckDB oracle recomputes plain LOCF + sessionize
      // in SQL over the same exported files, so this hash-checks the
      // bucketed carry semantics end-to-end, not just spec-vs-spec
      val sess = graft.ops.BucketedWindows.frameWindows(
        f, "entity", "ts",
        graft.pipeline.FeaturePipeline.WindowBucketFrames,
        graft.pipeline.FeaturePipeline.SessionGapFrames,
        locfCols = Seq("caption_rw"), lagCols = Nil)
        .withColumnRenamed("caption_rw_filled", "caption_filled")
      val probes = s.read.parquet(s"$base/probes").withColumnRenamed("asOfTs", "ts")
      AsOfJoin
        .asOf(
          probes,
          sess.select(
            col("entity"),
            col("ts"),
            col("caption_filled").as("f_caption"),
            col("session_id").as("f_session")),
          "entity",
          "ts",
          Seq("f_caption", "f_session"),
          graft.pipeline.FeaturePipeline.AsOfBucketFrames)
        .select(
          col("entity"),
          col("ts").as("as_of_ts"),
          col(AsOfJoin.SrcTs).as("src_ts"),
          col("f_caption"),
          col("f_session"))
    }),
    // per-second tumbling mean features with BOTH tail semantics (A2 vs A3),
    // HASH-CHECKED via the q_image_meta export trick (round-4 directive #4):
    // the decoded frame vectors are exported to scratch parquet — once the
    // vectors are data, the per-second vecAvg + tail-mode window math is
    // fully SQL-expressible and the DuckDB oracle reads the SAME files. Only
    // the decode itself stays parity-spec'd (ParitySpec — not SQL-expressible).
    Query("q_image_seconds_ceil", Some(imageSecondsSql("ceil")))(
      (s, _) => imageSeconds(s, Windows.CeilTail)),
    Query("q_image_seconds_floor", Some(imageSecondsSql("floor")))(
      (s, _) => imageSeconds(s, Windows.FloorTail)),
    // ---- P8: grayscale (ITU-R 601-2 luma) over CHW-planar numeric arrays:
    //      first 48 embedding elements as a 3×16 CHW plane ----
    Query("q_grayscale", Some(
      """WITH l AS (
        |  SELECT vec_id,
        |    [0.299::DOUBLE * embedding[i]::DOUBLE + 0.587::DOUBLE * embedding[i+16]::DOUBLE
        |       + 0.114::DOUBLE * embedding[i+32]::DOUBLE for i in range(1, 17)] AS luma
        |  FROM embeddings)
        |SELECT vec_id,
        |  '[' || array_to_string([CAST(round(round(x, 4) * 10000) AS BIGINT) for x in luma], ',') || ']' AS luma,
        |  round(list_sum(luma) / 16, 4) AS mean_luma
        |FROM l""".stripMargin))((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val luma = graft.codec.ImageCodec.lumaCol(col("embedding").cast("array<double>"), 16)
      emb.select(
        col("vec_id"),
        vecFixed(luma, 4).as("luma"),
        round(aggregate(luma, lit(0.0), (a, x) => a + x) / 16, 4).as("mean_luma"))
    }),
    // ---- P11: depth-style clamp+scale via the REAL float kernel (maxV a
    //      power of two ⇒ float divide exact ⇒ engine-portable) ----
    Query("q_depth_clamp", Some(
      """SELECT vec_id,
        |  '[' || array_to_string(
        |    [CAST(round(round(least(greatest(x::DOUBLE, 0.0), 0.25) / 0.25, 4) * 10000) AS BIGINT)
        |     for x in embedding], ',') || ']' AS clamped,
        |  len([x for x in embedding if x < 0.0 OR x > 0.25]) AS n_clipped
        |FROM embeddings""".stripMargin))((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val clamped = graft.codec.ImageCodec.clampScaleUdf(0.0f, 0.25f)(col("embedding"))
        .cast("array<double>")
      emb.select(
        col("vec_id"),
        vecFixed(clamped, 4).as("clamped"),
        size(filter(col("embedding"), x => x < 0.0f || x > 0.25f)).cast("long").as("n_clipped"))
    }),
    // ---- K5: depth sink codec — the FULL encode(16-bit PNG)→decode path
    //      surfaced as integer samples (quantization is double-exact, so
    //      DuckDB reproduces every sample bit-for-bit) ----
    Query("q_depth_roundtrip", Some(
      """SELECT vec_id,
        |  '[' || array_to_string(
        |    [CAST(round(least(greatest(x::DOUBLE, 0.0), 0.25) / 0.25 * 65535) AS BIGINT)
        |     for x in embedding], ',') || ']' AS samples
        |FROM embeddings""".stripMargin))((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val enc = graft.codec.DepthCodec.encodeUdf(8, 8, 0.25f)(col("embedding"))
      emb.select(
        col("vec_id"),
        concat(
          lit("["),
          concat_ws(",", transform(
            graft.codec.DepthCodec.decodeSamplesUdf(enc),
            x => x.cast("string"))),
          lit("]")).as("samples"))
    }),
    // ---- S7/K4: audio — REAL PCM16 WAV encode→decode round trip over a
    //      deterministic synthetic wave (int16 targets chosen so the float
    //      quantization is provably exact ⇒ DuckDB reproduces every sample) ----
    Query("q_audio_roundtrip", Some(
      """WITH w AS (
        |  SELECT vec_id, [(vec_id*31 + i*17) % 32768 - 16384 for i in range(0, 1100)] AS s
        |  FROM embeddings)
        |SELECT vec_id, len(s)::BIGINT AS n_samples,
        |  list_sum(s)::BIGINT AS sum_s,
        |  list_sum([x*x for x in s])::BIGINT AS sum_sq,
        |  16000::BIGINT AS sr
        |FROM w""".stripMargin))((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val wave = transform(
        sequence(lit(0), lit(1099)),
        i => ((col("vec_id") * 31 + i * 17) % 32768 - 16384).cast("double") / 32767.0)
        .cast("array<float>")
      val decoded = graft.codec.WavCodec.decodeSamplesUdf(
        graft.codec.WavCodec.encodeUdf(16000)(wave))
      emb.select(
        col("vec_id"),
        size(decoded).cast("long").as("n_samples"),
        aggregate(decoded, lit(0L), (a, x) => a + x).as("sum_s"),
        aggregate(decoded, lit(0L), (a, x) => a + x.cast("long") * x).as("sum_sq"),
        graft.codec.WavCodec.sampleRateUdf(
          graft.codec.WavCodec.encodeUdf(16000)(wave)).cast("long").as("sr"))
    }),
    // ---- S7 + W1: reference 2s-clip extraction (floor tail) + per-clip
    //      integer-exact stats ----
    Query("q_audio_clip_stats", Some(
      """WITH w AS (
        |  SELECT vec_id, [(vec_id*31 + i*17) % 32768 - 16384 for i in range(0, 1100)] AS s
        |  FROM embeddings),
        |c AS (
        |  SELECT vec_id, unnest(range(0, len(s) // 256)) AS clip_idx, s FROM w)
        |SELECT vec_id, clip_idx::INT AS clip_idx, 256::BIGINT AS n,
        |  list_sum(list_slice(s, clip_idx*256 + 1, clip_idx*256 + 256))::BIGINT AS sum_s,
        |  list_sum([x*x for x in list_slice(s, clip_idx*256 + 1, clip_idx*256 + 256)])::BIGINT AS sum_sq
        |FROM c""".stripMargin))((s, dir) => {
      val emb = embSpread(s, dir).select(col("vec_id"))
      val wave = transform(
        sequence(lit(0), lit(1099)),
        i => ((col("vec_id") * 31 + i * 17) % 32768 - 16384).cast("int"))
      val withClips = graft.audio.AudioOps.clips(
        emb.withColumn("samples", wave), "samples", 256)
      val (n, sum, sumSq) = graft.audio.AudioOps.clipStats(col("clip"))
      withClips.select(
        col("vec_id"),
        col("clip_idx"),
        n.as("n"),
        sum.as("sum_s"),
        sumSq.as("sum_sq"))
    }),
    // ---- S7: audio resample (linear kernel, 64→48 "Hz" over the stored
    //      embedding array — fixed-order double math, oracle bit-exact) ----
    Query("q_audio_resample", Some(
      """WITH w AS (SELECT vec_id, embedding::DOUBLE[] AS s FROM embeddings)
        |SELECT vec_id,
        |  '[' || array_to_string(
        |    [CAST(round(round(
        |       s[CAST(floor(j*64.0/48.0) AS INT) + 1] * (1.0 - (j*64.0/48.0 - CAST(floor(j*64.0/48.0) AS INT))) +
        |       s[least(CAST(floor(j*64.0/48.0) AS INT) + 1, len(s) - 1) + 1] * (j*64.0/48.0 - CAST(floor(j*64.0/48.0) AS INT)),
        |     4) * 10000) AS BIGINT)
        |     for j in range(0, len(s) * 48 // 64)], ',') || ']' AS resampled
        |FROM w""".stripMargin))((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("w"))
      emb.select(
        col("vec_id"),
        vecFixed(graft.audio.AudioOps.resampleLinear(col("w"), 64, 48), 4).as("resampled"))
    }),
    // ---- deduplication suite (training-data pipeline ops) ----
    Query("q_dedup_exact", Some(
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY text""".stripMargin))((s, dir) =>
      graft.dedup.Dedup.exact(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),
    Query("q_minhash_sig", Some(
      s"""WITH sh AS ($ShinglesCte),
         |e AS (SELECT doc_id, unnest(shs) AS s FROM sh),
         |m AS (SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || s)) AS mh
         |      FROM e, (SELECT unnest(range(0, 16)) AS seed) GROUP BY doc_id, seed)
         |SELECT doc_id, array_to_string(list(mh ORDER BY seed), '|') AS sig FROM m GROUP BY doc_id""".stripMargin))((s, dir) =>
      graft.dedup.Dedup.minhashSigDf(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 3, 16)
        .select(col("doc").as("doc_id"), concat_ws("|", col("sig")).as("sig"))),
    Query("q_minhash_lsh", Some(
      s"""WITH $MinhashPairsCte
         |SELECT doc_a, doc_b, jaccard FROM pairs""".stripMargin))(minhashPairs),
    Query("q_ngram_jaccard", Some(
      s"""WITH sh AS ($ShinglesCte),
         |e AS (SELECT doc_id, unnest(shs) AS s FROM sh),
         |keep AS (SELECT s FROM e GROUP BY s HAVING count(*) <= 100),
         |ek AS (SELECT doc_id, s FROM e JOIN keep USING (s)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM ek a JOIN ek b ON a.s = b.s AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  round(len(list_intersect(x.shs, y.shs))::DOUBLE /
         |        (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))), 4) AS jaccard
         |FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
         |WHERE len(list_intersect(x.shs, y.shs))::DOUBLE /
         |      (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) >= 0.5""".stripMargin))((s, dir) =>
      graft.dedup.Dedup.ngramJaccard(docsSpread(s, dir), "doc_id", "text")),
    Query("q_simhash", Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t FROM documents),
        |th AS (
        |  SELECT doc_id, t,
        |    list_sum([(strpos('0123456789abcdef', substr(md5(t), j, 1)) - 1)::BIGINT << (4*(12 - j))
        |              for j in range(1, 13)]) AS h
        |  FROM tok),
        |bits AS (
        |  SELECT doc_id, i, sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, (SELECT unnest(range(0, 48)) AS i) GROUP BY doc_id, i)
        |SELECT doc_id, bit_or(CASE WHEN s > 0 THEN 1::BIGINT << i ELSE 0::BIGINT END) AS simhash
        |FROM bits GROUP BY doc_id""".stripMargin))((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), graft.dedup.Dedup.simhash(col("text")).as("simhash"))),
    // canonicalization: connected components over the MinHash-LSH pair
    // graph (a~b, b~c ⇒ one duplicate cluster keyed by its min doc id) —
    // min-label propagation, one shuffle join per iteration
    Query("q_dedup_components", Some(
      // Transitive closure of the SAME pair graph via a recursive CTE: reach
      // = every (vertex, reachable vertex); min reachable id per vertex IS
      // the component label the Spark min-label propagation converges to.
      s"""WITH RECURSIVE $MinhashPairsCte,
         |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
         |          UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT s, s FROM edges
         |  UNION
         |  SELECT e2.t, reach.r FROM reach JOIN edges e2 ON e2.s = reach.id)
         |SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY id""".stripMargin))((s, dir) =>
      graft.dedup.Dedup.components(minhashPairs(s, dir), "doc_a", "doc_b")),
    Query("q_cosine_near_dup", Some(
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.45""".stripMargin))((s, dir) => {
      // Exact all-pairs form is ORACLE duty only (the scale path is
      // Similarity.annLsh). Bench caps the O(n²) input via a system property
      // so it never dominates the time budget; Verify leaves it unset.
      val emb0 = s.read.parquet(s"$dir/embeddings.parquet")
      val emb = sys.props.get("graft.bench.cosineCap")
        .map(c => emb0.where(col("vec_id") < c.toLong)).getOrElse(emb0)
      graft.dedup.Dedup.cosineNearDup(emb, "vec_id", "embedding", 0.45)
    }),
    // ---- similarity search ----
    // exact brute-force top-k
    Query("q_ann_topk", Some(
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id % 50 = 0),
        |s AS (SELECT q.query_id, e.vec_id AS nn_id,
        |        round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cos
        |      FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS rank FROM s)
        |SELECT query_id, rank, nn_id, round(cos, 4) AS cos FROM r WHERE rank <= 5""".stripMargin))((s, dir) => annBrute(s, dir)),
    // approximate (LSH-bucketed) — per-row output is approximate, but see
    // q_ann_recall for the hash-checked recall of exactly this operator.
    Query("q_ann_lsh", Some(
      // The per-row ANN output itself (round-5): every stage of annLsh is
      // md5-deterministic, so "approximate" never meant "unoracleable" — the
      // same CTE pipeline hashes row-for-row against the Spark operator.
      s"""WITH $AnnLshCte
         |SELECT query_id, rank, nn_id, round(cos, 4) AS cos
         |FROM ranked WHERE rank <= 5""".stripMargin))((s, dir) => annApprox(s, dir)),
    // Driver-visible ANN recall (round-3 directive #5): annLsh ∩ bruteTopK
    // over the same query set in ONE plan. The hyperplane signs are
    // md5-derived (Similarity.sgn), so the DuckDB oracle recomputes BOTH
    // sides — the single output row is fully hash-checkable, replacing the
    // last meaningful rows-only blind spot.
    Query("q_ann_recall", Some(
      // Full DuckDB re-computation of the LSH ANN pipeline: the md5-derived
      // sign matrix, projections, bucket signatures, candidate join, top-k,
      // and recall vs brute — deterministic, so the one output row hashes.
      s"""WITH $AnnLshCte,
         |brute AS (
         |  SELECT query_id, nn_id FROM (
         |    SELECT q.query_id, e.vec_id AS nn_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC,
         |                 e.vec_id) AS rank
         |    FROM embeddings e, q WHERE e.vec_id <> q.query_id)
         |  WHERE rank <= 5),
         |ann AS (SELECT query_id, nn_id FROM ranked WHERE rank <= 5)
         |SELECT 5::BIGINT AS k, count(DISTINCT b.query_id) AS n_queries,
         |  round(count(a.nn_id)::DOUBLE / count(*), 4) AS recall
         |FROM brute b LEFT JOIN ann a USING (query_id, nn_id)""".stripMargin))((s, dir) => {
      val ann = annApprox(s, dir).select(col("query_id"), col("nn_id"), lit(1L).as("hit"))
      val brute = annBrute(s, dir).select(col("query_id"), col("nn_id"))
      brute
        .join(ann, Seq("query_id", "nn_id"), "left_outer")
        .agg(
          count_distinct(col("query_id")).as("n_queries"),
          round(coalesce(sum(col("hit")), lit(0L)).cast("double") / count(lit(1)), 4)
            .as("recall"))
        .select(lit(5L).as("k"), col("n_queries"), col("recall"))
    }),
    // ---- text analysis ----
    Query("q_lang_id", Some(
      """WITH h AS (
        |  SELECT doc_id,
        |    len([t for t in tk if t IN ('the','a','of','and','is')]) AS hits_en,
        |    len([t for t in tk if t IN ('der','die','das','und','ist')]) AS hits_de,
        |    len([t for t in tk if t IN ('el','la','los','de','es')]) AS hits_es,
        |    len([t for t in tk if t IN ('le','la','les','et','est')]) AS hits_fr,
        |    len([t for t in tk if t IN ('的','是','了','在','我')]) AS hits_zh
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents))
        |SELECT doc_id, hits_en, hits_de, hits_es, hits_fr, hits_zh,
        |  CASE WHEN greatest(hits_en, hits_de, hits_es, hits_fr, hits_zh) = 0 THEN 'und'
        |       WHEN hits_en = greatest(hits_en, hits_de, hits_es, hits_fr, hits_zh) THEN 'en'
        |       WHEN hits_de = greatest(hits_de, hits_es, hits_fr, hits_zh) THEN 'de'
        |       WHEN hits_es = greatest(hits_es, hits_fr, hits_zh) THEN 'es'
        |       WHEN hits_fr = greatest(hits_fr, hits_zh) THEN 'fr'
        |       ELSE 'zh' END AS pred_lang
        |FROM h""".stripMargin))((s, dir) =>
      graft.text.TextAnalysis.langId(s.read.parquet(s"$dir/documents.parquet"), "text")
        .select(col("doc_id"), col("hits_en"), col("hits_de"), col("hits_es"),
          col("hits_fr"), col("hits_zh"), col("pred_lang"))),
    Query("q_token_count", Some(
      """SELECT doc_id,
        |  len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_word_tokens
        |FROM documents""".stripMargin))((s, dir) =>
      graft.text.TextAnalysis.tokenCounts(s.read.parquet(s"$dir/documents.parquet"), "text")
        .select(col("doc_id"), col("n_ws_tokens"), col("n_word_tokens"))),
    Query("q_tfidf", Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id AS doc_id, tf.term AS term, tf.tf AS tf, dfx.df AS df,
        |  round(tf.tf * (ln((n.n_docs + 1.0) / (dfx.df + 1.0)) + 1.0), 4) AS tfidf
        |FROM tf JOIN dfx USING (term), n""".stripMargin))((s, dir) =>
      graft.text.TextAnalysis.tfidf(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")),
    // deterministic hash split: seed-stable train/val/test assignment by
    // key (md5 buckets — rand()/TABLESAMPLE are partition/order-dependent)
    Query("q_hash_split", Some(
      """WITH b AS (
        |  SELECT doc_id,
        |    list_sum([(strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), j, 1)) - 1)::BIGINT
        |              << (4*(8 - j)) for j in range(1, 9)]) % 10000 AS bucket
        |  FROM documents)
        |-- CAST: DuckDB list_sum yields HUGEINT → pandas float64; Spark side is int64
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |  CASE WHEN bucket < 8000 THEN 'train'
        |       WHEN bucket < 9000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin))((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(
        col("doc_id"),
        Sampling.hashBucket(col("doc_id"), 10000).as("bucket"),
        Sampling.assignSplit(
          col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    }),
    Query("q_quality", Some(
      """WITH b AS (
        |  SELECT doc_id,
        |    len(regexp_split_to_array(lower(trim(text)), '\s+'))::DOUBLE AS n_tok,
        |    length(lower(text))::DOUBLE AS n_char,
        |    (length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')))::DOUBLE AS punct,
        |    len([t for t in regexp_split_to_array(lower(trim(text)), '\s+')
        |         if t IN ('the','a','of','and','is')])::DOUBLE AS stop
        |  FROM documents)
        |SELECT doc_id, n_tok::BIGINT AS n_tokens,
        |  round(punct / n_char, 4) AS punct_ratio,
        |  round(stop / n_tok, 4) AS stopword_ratio,
        |  round(
        |    (CASE WHEN n_char >= 50 AND n_char <= 10000 THEN 1.0 ELSE 0.5 END) * 0.3 +
        |    (CASE WHEN (n_char - (n_tok - 1)) / n_tok >= 2 AND (n_char - (n_tok - 1)) / n_tok <= 12
        |          THEN 1.0 ELSE 0.5 END) * 0.2 +
        |    (1.0 - least(punct / n_char * 5, 1.0)) * 0.25 +
        |    least(stop / n_tok * 4, 1.0) * 0.25, 4) AS quality
        |FROM b""".stripMargin))((s, dir) =>
      graft.text.TextAnalysis.qualityScore(s.read.parquet(s"$dir/documents.parquet"), "text")
        .select(col("doc_id"), col("n_tokens"), col("punct_ratio"),
          col("stopword_ratio"), col("quality"))),
    Query("q_fingerprint", Some(
      """WITH sh AS (
        |  SELECT doc_id, CASE WHEN len(tk) < 8 THEN [] ELSE
        |    [concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4], tk[i+5], tk[i+6], tk[i+7])
        |     for i in range(1, len(tk) - 6)] END AS shs
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents))
        |SELECT doc_id, list_min([md5(s) for s in shs]) AS fingerprint FROM sh""".stripMargin))((s, dir) =>
      graft.text.TextAnalysis.fingerprint(s.read.parquet(s"$dir/documents.parquet"), "text")
        .select(col("doc_id"), col("fingerprint"))),
    // ---- streaming: tumbling event-time agg == batch semantics (oracle) ----
    Query("q_streaming_tumbling", Some(
      """SELECT user_id, (epoch_us(ts) // 86400000000) * 86400000000 AS win_start_us,
        |  count(*) AS n, round(avg(value), 4) AS avg_v
        |FROM events GROUP BY 1, 2""".stripMargin))((s, dir) =>
      runStream(s, dir, "q_streaming_tumbling_sink")(
        graft.streaming.StreamingFeatures.tumblingAgg(_, "1 day", "0 seconds"))
        .select(col("user_id"), col("win_start_us"), col("n"),
          round(col("avg_v"), 4).as("avg_v"))),
    // ---- §2.8 + W9: STREAMING gap sessionization == batch sessionize,
    //      against the same oracle family as q_session_stats. Complete
    //      mode emits every session of the one micro-batch, whatever the
    //      span of the data ----
    Query("q_streaming_session", Some(
      """WITH sess AS (
        |  SELECT user_id, value, epoch_us(ts) AS ts_us,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000 THEN 1
        |              ELSE 0 END AS is_new
        |    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)))
        |SELECT user_id, min(ts_us) AS session_start_us, count(*) AS n_rows,
        |  round(avg(value), 4) AS avg_value
        |FROM sess GROUP BY user_id, session_id""".stripMargin))((s, dir) =>
      // gap + 1 µs: session_window merges only while next < last + gap
      // (strict), the batch Sessionize splits only when diff > gap — on
      // integer-microsecond timestamps gap+1µs makes the two identical at
      // the exact-gap boundary (diff == gap stays merged on both sides)
      runStream(s, dir, "q_streaming_session_sink")(
        graft.streaming.StreamingFeatures
          .sessionAgg(_, s"${SessionGapUs + 1} microseconds", "0 seconds"))
        .select(
          col("user_id"),
          col("session_start_us"),
          col("n_rows"),
          round(col("avg_value"), 4).as("avg_value"))),
    // ---- S4/A5: per-window ordered gather (collect_list sorted by ts) —
    //      the reference's get_clip + vstack as one aggregate ----
    Query("q_window_gather", Some(
      """SELECT user_id, epoch_us(ts) // 86400000000 AS win_id,
        |  '[' || array_to_string(list(CAST(round(round(value, 4) * 10000) AS BIGINT) ORDER BY ts, event_id), ',') || ']' AS vals
        |FROM events GROUP BY 1, 2""".stripMargin))((s, dir) => {
      ev(s, dir)
        .groupBy(col("user_id"), floor(col("ts_us") / DayUs).as("win_id"))
        .agg(
          concat(
            lit("["),
            concat_ws(
              ",",
              transform(
                sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("value")))),
                x => round(round(x.getField("value"), 4) * 10000).cast("long").cast("string"))),
            lit("]")).as("vals"))
    }),
    // ---- W7: chunk-of-8 grouping (TSM n_segment) ----
    Query("q_chunked", Some(
      """SELECT user_id, event_id,
        |  (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) // 8 AS chunk_id
        |FROM events""".stripMargin))((s, dir) => {
      Windows
        .chunked(ev(s, dir), "user_id", "ts_us", 8, Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("chunk_id"))
    }),
    // ---- S6: JSON scan — dynamic-schema extraction from the props column ----
    Query("q_json_props", Some(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin))((s, dir) => {
      ev(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    }),
    // ---- J4/§7.3: resumable manifest job — runs the image feature job into
    //      a fresh dir in two snapshots (simulated kill), returns lineage.
    //      The feature plan is staged ONCE: without it each snapshot's
    //      write + read-back re-ran the image decode UDF over the fixture ----
    Query("q_resume_manifest", None)((s, _) => {
      val out = java.nio.file.Files.createTempDirectory("graft_resume_q").toString
      // decode directly (r8): the job snapshots (entity, ts, vec) only, and
      // `vec` is the codec UDF output untouched by the window stage —
      // frameFeatures(...).select(entity, ts, vec) built the whole bucketed
      // LOCF/session/delta subtree just to drop it. Identical relation.
      val feats = Staging.stage(
        graft.synth.SynthImages
          .withEntityTs(graft.synth.SynthImages.table(s, 6, 64))
          .withColumn("vec", graft.codec.ImageCodec.imageFeaturesCol(
            col("bytes"), graft.pipeline.FeaturePipeline.ResizeTo,
            graft.pipeline.FeaturePipeline.CropTo))
          .select(col("entity"), col("ts"), col("vec")))
      Resume.processPending(s, feats, "entity", "ts", "vec", out, 1L, maxPartitions = 2)
      Resume.processPending(s, feats, "entity", "ts", "vec", out, 2L)
      Resume.readManifest(s, out)
        .select(col("snapshotId"), col("partition"), col("rowCount"), col("featureDigest"))
    }),
    // ---- A6/J5: count-equality audit with a DuckDB oracle — write events-
    //      derived features in two snapshots, then cross-check THREE counts
    //      per partition: manifest lineage, a recount of the persisted data,
    //      and (via the oracle) DuckDB's ground truth; audit_ok asserts the
    //      digest audit found no mismatch (tamper detection is ResumeSpec's
    //      job; this row proves the audit runs clean on real written data) ----
    Query("q_resume_audit", Some(
      """SELECT user_id, count(*) AS n_manifest, count(*) AS n_recount, true AS audit_ok
        |FROM events WHERE user_id < 20 GROUP BY user_id""".stripMargin))((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_audit_q").toString
      val feats = ev(s, dir)
        .where(col("user_id") < 20)
        .select(col("user_id"), col("ts_us"), array(col("value")).as("vec"))
      Resume.processPending(s, feats, "user_id", "ts_us", "vec", out, 1L, maxPartitions = 7)
      Resume.processPending(s, feats, "user_id", "ts_us", "vec", out, 2L)
      // fused report: manifest lineage + recount + digest health in ONE
      // data pass (previously manifest + readAsOf + audit = 3 scans and
      // ~7 s of scheduler-bound tiny jobs in the driver bench)
      Resume.auditReport(s, out, "user_id", "ts_us", "vec")
        .select(
          col("partition").cast("long").as("user_id"),
          col("rowCount").as("n_manifest"),
          col("recount").as("n_recount"),
          col("audit_ok"))
    })
  )

  /** Each query's body by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** `queries` in the order every timing loop runs them: alphabetical. */
  private[graft] def orderedQueries: Seq[(String, (SparkSession, String) => DataFrame)] =
    queries.toSeq.sortBy(_._1)

  /** Each SQL-expressible query's DuckDB oracle by name. */
  def oracleSql: Map[String, String] = registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** DuckDB oracle of the click→purchase as-of leaves q_asof_join and
    * q_asof_merge. */
  private def asofSql: String =
    """SELECT p.user_id AS user_id, epoch_us(p.ts) AS ts_us, p.event_id AS event_id,
      |       round(p.value, 4) AS purchase_value,
      |       epoch_us(b.ts) AS click_ts_us, round(b.value, 4) AS click_value
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value FROM events
      |                WHERE event_type = 'click' GROUP BY user_id, ts) b
      |  ON p.user_id = b.user_id AND p.ts >= b.ts""".stripMargin

  /** DuckDB oracle of the three LOCF leaves (plain, bucketed, stateful). */
  private def locfSql: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |    OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS locf_value
      |FROM events""".stripMargin

  /** Decoded (entity, ts, dvec) frame vectors of the 8×256 synthetic table
    * — the shared input of BOTH q_image_seconds modes. The decode UDF
    * output is selected DIRECTLY (r8): `frameFeatures(...).select(entity,
    * ts, vec)` produced the identical relation — frameWindows emits one row
    * per input frame and never touches `vec` — while also building the
    * whole LOCF/session/delta subtree these queries then discarded. */
  private def imageSecondsFrames(s: SparkSession): DataFrame =
    graft.synth.SynthImages.withEntityTs(graft.synth.SynthImages.table(s, 8, 256))
      .withColumn("vec", graft.codec.ImageCodec.imageFeaturesCol(
        col("bytes"), graft.pipeline.FeaturePipeline.ResizeTo,
        graft.pipeline.FeaturePipeline.CropTo))
      .select(col("entity"), col("ts"), col("vec").cast("array<double>").as("dvec"))

  /** Shared body of q_image_seconds_ceil/floor: decode frames → export the
    * (entity, ts, dvec) vectors to a per-mode rendezvous parquet → compute
    * the per-second tumbling vecAvg over the READ-BACK files (so the oracle
    * and the query window exactly the same data). Identical math to
    * FeaturePipeline.secondFeatures; the export is the only addition. */
  private def imageSeconds(s: SparkSession, tail: Windows.TailMode): DataFrame = {
    val mode = if (tail == Windows.CeilTail) "ceil" else "floor"
    val base = s"$scratchRoot/q_image_seconds_$mode"
    imageSecondsFrames(s)
      // repartition, NOT coalesce(1): coalesce collapses the upstream image
      // decode onto one thread (2.5× the query); the exchange moves only
      // the already-decoded 54-double vectors and keeps the decode parallel
      .repartition(8)
      .write.mode("overwrite").parquet(s"$base/frames")
    Windows
      .tumblingAgg(
        s.read.parquet(s"$base/frames"),
        "entity",
        "ts",
        graft.synth.SynthImages.Fps.toLong,
        tail,
        Seq(VecOps.vecAvg(col("dvec")).as("sec_vec")))
      .withColumnRenamed("win_id", "sec")
      .select(col("entity"), col("sec"), col("win_n"), vecFixed(col("sec_vec"), 4).as("sec_vec"))
  }

  /** DuckDB twin of [[imageSeconds]] over the exported vectors. */
  private def imageSecondsSql(mode: String): String = {
    val guard = if (mode == "floor") "HAVING max(c.win_n) = 30" else ""
    s"""WITH f AS (SELECT entity, ts, dvec
       |           FROM read_parquet('$scratchRoot/q_image_seconds_$mode/frames/*.parquet')),
       |e AS (SELECT entity, ts // 30 AS sec, unnest(dvec)::DOUBLE AS v,
       |        unnest(range(1, len(dvec) + 1)) AS pos
       |      FROM f),
       |a AS (SELECT entity, sec, pos, avg(v) AS m FROM e GROUP BY 1, 2, 3),
       |c AS (SELECT entity, ts // 30 AS sec, count(*) AS win_n FROM f GROUP BY 1, 2)
       |SELECT a.entity AS entity, a.sec AS sec, max(c.win_n) AS win_n,
       |  '[' || array_to_string(list(CAST(round(round(m, 4) * 10000) AS BIGINT) ORDER BY pos), ',') || ']' AS sec_vec
       |FROM a JOIN c USING (entity, sec) GROUP BY a.entity, a.sec $guard""".stripMargin
  }

  /** DuckDB twin of [[tumblingTail]]: windows of 7 on the per-label dense
    * rank, per-position mean, fixed-point vector string; `floorOnly` drops
    * partial tails (win_n < 7) exactly like Windows.FloorTail. */
  private def tumblingTailSql(floorOnly: Boolean): String = {
    val guard = if (floorOnly) "HAVING max(c.win_n) = 7" else ""
    s"""WITH r AS (
       |  SELECT label, embedding,
       |    row_number() OVER (PARTITION BY label ORDER BY vec_id) - 1 AS rk
       |  FROM embeddings),
       |e AS (SELECT label, rk // 7 AS win_id, unnest(embedding)::DOUBLE AS v,
       |        unnest(range(1, len(embedding) + 1)) AS pos
       |      FROM r),
       |a AS (SELECT label, win_id, pos, avg(v) AS m FROM e GROUP BY 1, 2, 3),
       |c AS (SELECT label, rk // 7 AS win_id, count(*) AS win_n FROM r GROUP BY 1, 2)
       |SELECT a.label AS label, a.win_id AS win_id, max(c.win_n) AS win_n,
       |  '[' || array_to_string(list(CAST(round(round(m, 4) * 10000) AS BIGINT) ORDER BY pos), ',') || ']' AS win_vec
       |FROM a JOIN c USING (label, win_id) GROUP BY a.label, a.win_id $guard""".stripMargin
  }

  /** LSH ANN pipeline CTEs shared by q_ann_lsh / q_ann_recall: query set →
    * md5-derived sign planes (dimension taken from the data) → rounded-sign
    * projections → per-table bucket signatures → candidate join → cosine
    * rank. Mirrors `sim.Similarity.annLsh` stage for stage. */
  private val AnnLshCte =
    """q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      |           FROM embeddings WHERE vec_id % 50 = 0),
      |planes AS (
      |  SELECT p, d,
      |    CASE WHEN strpos('02468ace', substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1)) > 0
      |         THEN 1.0 ELSE -1.0 END AS sgn
      |  FROM (SELECT unnest(range(0, 96)) AS p),
      |       (SELECT unnest(range(0, (SELECT len(embedding) FROM embeddings LIMIT 1))) AS d)),
      |vd AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
      |              unnest(range(0, len(embedding))) AS d FROM embeddings),
      |proj AS (SELECT vec_id, p // 6 AS tbl, p % 6 AS bit, sum(v * sgn) AS pr
      |         FROM vd JOIN planes USING (d) GROUP BY vec_id, p // 6, p % 6),
      |buck AS (SELECT vec_id, tbl,
      |                CAST(sum(CASE WHEN round(pr, 6) > 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS sig
      |         FROM proj GROUP BY vec_id, tbl),
      |cand AS (SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS nn_id
      |         FROM buck qb JOIN buck cb USING (tbl, sig)
      |         WHERE qb.vec_id % 50 = 0 AND cb.vec_id <> qb.vec_id),
      |ranked AS (
      |  SELECT c.query_id, c.nn_id,
      |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cos,
      |    row_number() OVER (PARTITION BY c.query_id
      |      ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) DESC,
      |               c.nn_id) AS rank
      |  FROM cand c JOIN embeddings e ON e.vec_id = c.nn_id
      |              JOIN q ON q.query_id = c.query_id)""".stripMargin

  /** Shingle CTE shared by the dedup oracles (3-token shingles of the
    * lowercased whitespace-tokenized text, distinct). */
  private val ShinglesCte =
    """SELECT doc_id, CASE WHEN len(tk) < 3 THEN [] ELSE
      |  list_distinct([concat_ws(' ', tk[i], tk[i+1], tk[i+2]) for i in range(1, len(tk) - 1)])
      |  END AS shs
      |FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk FROM documents)""".stripMargin

  /** Full MinHash-LSH pair pipeline as CTEs ending in `pairs(doc_a, doc_b,
    * jaccard)` — shared by q_minhash_lsh and q_dedup_components (which
    * closes the pair graph transitively). */
  private lazy val MinhashPairsCte =
    s"""sh AS ($ShinglesCte),
       |e AS (SELECT doc_id, unnest(shs) AS s FROM sh),
       |m AS (SELECT doc_id, seed, min(md5(seed::VARCHAR || ':' || s)) AS mh
       |      FROM e, (SELECT unnest(range(0, 16)) AS seed) GROUP BY doc_id, seed),
       |sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM m GROUP BY doc_id),
       |band AS (SELECT doc_id, b, md5(array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), '|')) AS bh
       |         FROM sig, (SELECT unnest(range(0, 4)) AS b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM band a JOIN band b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b,
       |    round(len(list_intersect(x.shs, y.shs))::DOUBLE /
       |          (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))), 4) AS jaccard
       |  FROM cand JOIN sh x ON x.doc_id = doc_a JOIN sh y ON y.doc_id = doc_b
       |  WHERE len(list_intersect(x.shs, y.shs))::DOUBLE /
       |        (len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs))) >= 0.5)""".stripMargin

}
