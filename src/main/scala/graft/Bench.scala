package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-round benchmark (driver contract): ONE JSON line with
  *  - the headline north-rule metric FIRST: feature rows/sec of the flagship
  *    image pipeline (decode → window features) measured on identical input
  *    at 2/8/32 threads in pristine child JVMs, headline N→4N pair 2→8
  *    (reproducible ±7% on this host; 16/32 bimodal under host noise —
  *    BASELINE.md calibration), 8→32 reported honestly alongside;
  *  - per-query wall seconds over $SPARK_GRAFT_SF_DIR at local[$SPARK_GRAFT_CPUS];
  *  - skew evidence (naive vs time-bucketed as-of on a hot entity) and a
  *    pure-CPU 8→32 control (machine ceiling vs plan).
  *
  * Contention-proofing (round-2 lesson: both scaling children were killed at
  * a fixed 300 s timeout on a ~4.4×-contended driver host, so the ONE
  * north-rule artifact was absent two rounds running):
  *  - scaling runs FIRST — query timings publish incrementally and survive a
  *    partial run; a killed scaling child cannot be reconstructed;
  *  - every child is TIME-BOXED from the remaining budget (never a constant)
  *    and emits a cumulative SCALE line after every timed unit, so even a
  *    child the parent kills has already reported usable throughput;
  *  - the fixture is chunk-partitioned parquet (`__chunk` directory column)
  *    so a unit is a directory-pruned scan — a slow host shrinks the number
  *    of units, not the validity of rows/elapsed.
  * Stop rules are value-independent (fixed sweep plan, fixed unit caps,
  * time-based exits only) and every level gets the same estimator: best
  * single-unit rps per level across sweeps (host noise is strictly downward,
  * so per-level max estimates uncontended capability — BASELINE.md).
  */
object Bench {

  /** Chunk directories in the bench fixture (entity % NChunks). */
  val NChunks = 8

  /** Fixed per-child cost OUTSIDE its timed budget: JVM spin-up + Spark
    * session + the untimed warm-up unit + teardown + parent harvest
    * (~25-30 s measured on this host, QUIET). Spawn guards add this so
    * budget decisions account for what a child really costs wall-clock. */
  val ChildOverheadSec = 30L

  /** OBSERVED per-child overhead (max across the children spawned so far
    * this run), floored at [[ChildOverheadSec]]. Round-5 driver lesson:
    * under contention the UNTIMED parts of a child (JVM spin-up, session,
    * the full warm-up pass) stretch to 60-90 s, so constant-30 guards let
    * every spawn decision overshoot its window by that much — the scaling
    * phase then ate the skew box and most of the query loop. Every guard
    * uses this adaptive value: a quiet run behaves exactly as before, a
    * contended run stops spawning (and caps child budgets) correspondingly
    * earlier.
    *
    * Estimator (round-6 advice): overhead = child wall − the TIMED work the
    * child itself reported (`elapsed=` on its last SCALE line) — i.e.
    * spin-up + session + warm-up + any killed partial unit + teardown +
    * harvest, exactly the untimed cost the guards must anticipate. The old
    * wall − budget form only saw overhead once it alone exceeded the whole
    * budget (a self-limited child stops EARLY under contention, hiding its
    * stretched spin-up inside the unused budget). Children that report no
    * timed work fall back to wall − budget (still a lower bound). */
  @volatile private var observedOverheadSec: Long = ChildOverheadSec
  private def childOverhead: Long = observedOverheadSec
  private def recordChildWall(wallSec: Long, timedWorkSec: Long): Unit = {
    val oh = wallSec - timedWorkSec
    if (oh > observedOverheadSec) {
      observedOverheadSec = oh
      System.err.println(s"[bench] observed child overhead now ${oh}s (contended host)")
    }
  }

  private[graft] def session(cpus: Int): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One scaling unit: the flagship pipeline over the given fixture chunks
    * (directory-pruned scan). Returns feature rows produced. */
  def consumeChunks(spark: SparkSession, inputPath: String, chunks: Seq[Int]): Long = {
    val in = spark.read.parquet(inputPath)
    val filtered =
      if (in.columns.contains("__chunk")) in.where(col("__chunk").isin(chunks: _*))
      else in
    graft.obs.QueryReport.consume(graft.pipeline.FeaturePipeline.frameFeatures(filtered))
  }

  /** Release every persisted RDD's blocks: the between-query hygiene of
    * every timing loop (this one, `obs.QueryReport`) and ScaleChild's
    * between-unit hygiene. A query's staged relations (the flagship's
    * window pass and frame features, the dedup shingle stages, resume
    * state) are dead once its action returns; releasing them keeps a loop
    * from growing the block manager monotonically and from letting one
    * query time another's work. */
  private[graft] def releasePersistedRdds(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** Untimed session warm-up before a timed query loop: without it the
    * first query absorbs ~4s of scheduler/codegen/parquet-footer warm-up
    * that belongs to the session, not the operator. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(100000).selectExpr("sum(id)").head()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
    } catch { case _: Throwable => () }

  def materializePublic(entities: Int, frames: Int): String = materialize(entities, frames)

  /** Materialize the synthetic image table once (untimed input fixture),
    * partitioned by `__chunk = entity % NChunks` so scaling units
    * directory-prune instead of rescanning the whole fixture. A (chunk,
    * salt) repartition gives each chunk directory several files — enough
    * input splits at every thread level. */
  private def materialize(entities: Int, frames: Int): String = {
    val path = s"/tmp/graft_bench_images_${entities}x${frames}_c$NChunks"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
      val spark = session(8)
      try graft.synth.SynthImages.table(spark, entities, frames)
        .withColumn("__chunk", pmod(substring(col("image_id"), 2, 4).cast("int"), lit(NChunks)))
        .repartition(NChunks * 8, col("__chunk"), pmod(xxhash64(col("image_id")), lit(8)))
        .write.mode("overwrite").partitionBy("__chunk").parquet(path)
      finally spark.stop()
    }
    path
  }

  /** Quiet-host per-query reference seconds (sf0.1, local[32], host load
    * < 3 — round-5 base; the entries that moved ≥25% were refreshed from
    * round 7's quiet validation run 7 after the staged-tfidf /
    * streaming-state-store / pair-graph memo work landed; the memo is
    * gone since, see the q_dedup_components note). Used as the
    * repair-pass trigger (first pass above 2× reference earns one re-run)
    * and to size the watchdog cap (10×, floor 20 s — every cap keeps ≥2×
    * headroom over the worst CONTENDED timing observed in rounds 5-7).
    * Never reported as a result — the artifact always carries measured
    * wall seconds. A query absent here (e.g. added later) falls back to
    * [[DefaultQuietRef]]. */
  private val quietRef: Map[String, Double] = Map(
    "q1_agg" -> 1.27, "q_ann_lsh" -> 3.83, "q_ann_recall" -> 1.41,
    "q_ann_topk" -> 0.69, "q_anti_join" -> 0.86, "q_asof_join" -> 0.55,
    "q_asof_merge" -> 2.87, "q_asof_stateful" -> 0.88, "q_asof_tolerance" -> 0.37,
    "q_audio_clip_stats" -> 1.00, "q_audio_resample" -> 0.26, "q_audio_roundtrip" -> 0.27,
    "q_bfill" -> 0.21, "q_chunked" -> 0.20, "q_cosine_near_dup" -> 0.83,
    // q_dedup_components builds its own MinHash pair graph, so its first
    // pass exceeds 2× this reference (set in r6, when it read the graph
    // q_minhash_lsh staged for it) and earns one repair re-run.
    "q_dedup_components" -> 2.0, "q_tfidf" -> 0.7, "q_hash_split" -> 0.3,
    "q_dedup_exact" -> 0.49, "q_depth_clamp" -> 0.26, "q_depth_roundtrip" -> 0.21,
    "q_fingerprint" -> 0.18, "q_grayscale" -> 0.22, "q_histogram" -> 0.45,
    "q_image_meta" -> 1.9, "q_image_pipeline" -> 0.8,
    "q_image_seconds_ceil" -> 1.60, "q_image_seconds_floor" -> 1.40,
    "q_interval_join" -> 0.25, "q_join_agg" -> 1.39, "q_json_props" -> 0.16,
    "q_lag_lead" -> 0.19, "q_lang_id" -> 0.25, "q_leakage_audit" -> 0.43,
    "q_locf_backfill" -> 0.18, "q_locf_bucketed" -> 0.23, "q_locf_stateful" -> 0.73,
    "q_minhash_lsh" -> 4.0, "q_minhash_sig" -> 0.89, "q_ngram_jaccard" -> 3.45,
    "q_percentile" -> 0.44, "q_quality" -> 0.22, "q_range_window" -> 0.17,
    "q_resume_audit" -> 3.4, "q_resume_manifest" -> 2.8, "q_session_stats" -> 1.07,
    "q_sessionize" -> 0.16, "q_simhash" -> 0.17, "q_sliding_window" -> 0.16,
    "q_streaming_session" -> 4.5, "q_streaming_tumbling" -> 1.6,
    "q_subsample" -> 1.36, "q_token_count" -> 0.20, "q_topk" -> 0.37,
    "q_tumbling_ceil" -> 0.63, "q_tumbling_floor" -> 0.44, "q_tumbling_window" -> 0.71,
    "q_vec_avg" -> 0.47, "q_window_gather" -> 0.37)
  private val DefaultQuietRef = 0.5
  /** First-pass seconds above which a query earns a repair re-run: factor ×
    * its quiet reference (0.25 s ref floor so sub-0.2 s queries aren't
    * re-run over scheduler jitter). SPARK_GRAFT_BENCH_REPAIR_FACTOR
    * overrides the 2.0 default (mechanism-testing hook). */
  private def repairThreshold(name: String): Double =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_REPAIR_FACTOR", "2.0").toDouble *
      math.max(0.25, quietRef.getOrElse(name, DefaultQuietRef))

  /** Hard per-query wall cap for the loop's watchdog: 10× the quiet
    * reference, floored at 20 s (round-6 directive #1 — q_tfidf ran 466 s,
    * 518× its quiet ref, as an uncancellable blocking count(): it consumed
    * the whole remaining budget, 7 queries shipped at -1.0 and cpu_control
    * never ran). Clamped so even the cap itself can never displace the
    * final emit. One bad query now costs at most its cap; the repair pass
    * retries it (at double the cap) in a later window. */
  /** Worst-case cancellation grace runGuarded can add past the cap (two
    * 15 s joins when the group cancel needs full escalation). The cap
    * clamp reserves it alongside the 18 s final-emit reserve (r7 review:
    * a bare 15 s floor overrode the clamp entirely, so a query admitted
    * just inside the deadline could displace the cpu control — the exact
    * r5/r6 starvation this cap exists to prevent). The 5 s floor keeps
    * tail-of-budget queries runnable (sub-second queries complete; a
    * runaway is cancelled almost immediately) instead of skipped. In the
    * residual pathological case — a query admitted at the deadline that
    * both hangs AND resists group-cancel for the full grace — the control
    * box can still be lost, but the final emit cannot. */
  private val CancelGraceSec = 30L
  private def queryCap(name: String, elapsedSec: Long, budgetSec: Long): Long = {
    val base = math.max(20L, math.ceil(10 * quietRef.getOrElse(name, DefaultQuietRef)).toLong)
    math.max(5L, math.min(base, budgetSec - 18 - CancelGraceSec - elapsedSec))
  }

  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** One-line JVM/host telemetry for anomaly attribution (round-6 directive
    * #3: a 518× blowup landed in the artifact with zero evidence — GC, block
    * manager and host load were all unrecorded). Logged whenever a query
    * exceeds ~4× its quiet reference or hits its watchdog cap. */
  private def telemetry(spark: SparkSession, gcDeltaMs: Long): String = {
    val storageMb =
      try spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024L * 1024L)
      catch { case _: Throwable => -1L }
    val load =
      try new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")),
        "UTF-8").trim.split("\\s+").take(3).mkString(",")
      catch { case _: Throwable => "?" }
    s"gc_delta_ms=$gcDeltaMs storage_mb=$storageMb loadavg=$load"
  }

  private[graft] sealed trait RunStatus
  private[graft] case object RunOk extends RunStatus
  private[graft] case object RunCancelled extends RunStatus
  private[graft] final case class RunFailed(msg: String) extends RunStatus

  /** Run one query body on a watchdog-guarded worker thread inside its own
    * job group. The body's Spark jobs inherit the group (a thread-local
    * property set ON the worker); at `capSec` the watchdog cancels the
    * group with interrupt-on-cancel, stops any active streaming query
    * (micro-batches run on the stream's own thread, outside the group),
    * and escalates to cancelAllJobs + interrupt if the worker is still
    * blocked. Returns (wall seconds, ok | cancelled | failed) — a cancelled
    * query costs its cap plus bounded grace, never the artifact
    * (fault-injected end-to-end via SPARK_GRAFT_BENCH_FAULT_SLEEP_SEC and
    * unit-tested in BenchWatchdogSpec).
    *
    * `escalate = false` limits cancellation to the job group (no stream
    * stop, no cancelAllJobs, no interrupt) — the bench JVM is sole-tenant
    * so the default full escalation is safe THERE, but a shared-session
    * caller (the spec, whose suites run concurrently) must not be able to
    * cancel a neighbour's jobs. */
  private[graft] def runGuarded(
      spark: SparkSession, name: String, capSec: Long, escalate: Boolean = true)(
      body: => Unit): (Double, RunStatus) = {
    val group = s"bench-$name"
    @volatile var failure: Option[Throwable] = None
    val t0 = System.nanoTime()
    val worker = new Thread(
      () => {
        spark.sparkContext.setJobGroup(group, s"bench $name", interruptOnCancel = true)
        try body
        catch { case t: Throwable => failure = Some(t) }
        finally spark.sparkContext.clearJobGroup()
      },
      s"bench-worker-$name")
    worker.setDaemon(true)
    worker.start()
    worker.join(capSec * 1000)
    var cancelled = false
    if (worker.isAlive) {
      cancelled = true
      System.err.println(s"[bench] $name exceeded its ${capSec}s cap — cancelling job group")
      try spark.sparkContext.cancelJobGroup(group)
      catch { case _: Throwable => () }
      if (escalate) {
        try spark.streams.active.foreach(_.stop())
        catch { case _: Throwable => () }
      }
      worker.join(15000)
      if (worker.isAlive && escalate) {
        try spark.sparkContext.cancelAllJobs()
        catch { case _: Throwable => () }
        worker.interrupt()
        worker.join(15000)
        if (worker.isAlive)
          System.err.println(
            s"[bench] $name worker leaked (daemon thread) — blocked in a non-interruptible call")
      }
    }
    val sec = (System.nanoTime() - t0) / 1e9
    val status =
      if (cancelled) RunCancelled
      else failure.map(t => RunFailed(String.valueOf(t.getMessage))).getOrElse(RunOk)
    (sec, status)
  }

  /** Mutable partial state so a driver-timeout SIGTERM still yields a
    * parseable contract line (round-1 lesson: rc=124 ⇒ NO bench numbers). */
  private val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var qTimings: Seq[(String, Double)] = Seq.empty
  @volatile private var sfDirSeen: String = ""
  @volatile private var scalingState: Option[(Map[Int, (Long, Double)], Map[String, Double])] = None
  @volatile private var skewState: Option[String] = None
  @volatile private var cpuState: Option[String] = None
  // note_2_8 / note_8_32 honesty labels are DERIVED at emit time
  // (deriveNotes) — see the r7 review note there.
  /** fixture path + per-level draw counts from the scaling phase, kept for
    * the leftover-budget 32-thread draws of phase 5. */
  @volatile private var fixtureState: Option[(String, scala.collection.mutable.Map[Int, Int])] = None
  /** stdout file + line prefix (+ level for SCALE) of the child currently
    * running, so a SIGTERM DURING a child (the exact round-1/2 death mode)
    * still harvests that child's partial SCALE/SKEWJSON lines from the
    * shutdown hook. */
  @volatile private var inFlight: Option[(java.nio.file.Path, String, Int)] = None

  /** Fold one level measurement into the published scaling state
    * (best-of-level; recomputes pair efficiencies). */
  private val levelBest = scala.collection.concurrent.TrieMap.empty[Int, (Long, Double)]
  private def recordLevel(cpus: Int, rows: Long, rps: Double): Unit = {
    if (levelBest.get(cpus).forall(_._2 < rps)) levelBest(cpus) = (rows, rps)
    val byLevel = levelBest.toMap
    if (byLevel.nonEmpty) {
      // publish even a single level: a partial artifact (one rps) still
      // beats the round-1/2 outcome (nothing)
      val effs = Seq((2, 8, "2_8"), (8, 32, "8_32")).flatMap { case (lo, hi, name) =>
        for (l <- byLevel.get(lo); h <- byLevel.get(hi)) yield name -> (h._2 / l._2) / 4.0
      }.toMap
      scalingState = Some((byLevel, effs))
    }
  }

  /** (rows, best rps, timed work seconds) from a cumulative SCALE line;
    * `elapsed=` is the child's OWN timed-unit seconds, so wall − elapsed is
    * its real untimed overhead (see [[recordChildWall]]). */
  private def parseScale(line: String): Option[(Long, Double, Option[Double])] =
    for {
      rows <- "rows=(\\d+)".r.findFirstMatchIn(line).map(_.group(1).toLong)
      rps <- "best=([0-9.]+)".r.findFirstMatchIn(line).map(_.group(1).toDouble)
        .orElse("rps=([0-9.]+)".r.findFirstMatchIn(line).map(_.group(1).toDouble))
    } yield (rows, rps,
      "elapsed=([0-9.]+)".r.findFirstMatchIn(line).map(_.group(1).toDouble))

  private def harvestInFlight(): Unit = inFlight.foreach { case (f, prefix, cpus) =>
    try {
      val out = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      out.linesIterator.filter(_.startsWith(prefix)).toSeq.lastOption.foreach { line =>
        if (prefix == "SCALE")
          parseScale(line).foreach { case (rows, rps, _) => recordLevel(cpus, rows, rps) }
        else if (prefix == "SKEWJSON")
          skewState = Some(line.stripPrefix("SKEWJSON").trim)
      }
    } catch { case _: Throwable => () }
  }

  /** Honesty notes for the two recorded pairs, derived from CURRENT state
    * (r7 review: computing them as phase-5 side effects meant a shutdown-
    * hook emit before phase 5 shipped an inflated 2→8 with no label —
    * exactly the unflagged impossible headline the notes exist to prevent).
    * Pure functions of levelBest / cpuState / draw counts, so every emit
    * path — normal, SIGTERM, mid-phase — carries them. */
  private def deriveNotes(effs: Map[String, Double]): Seq[String] = {
    val draws = fixtureState.map(_._2)
    val controlEff = cpuState.flatMap(j =>
      """"efficiency_8_32":([0-9.]+)""".r.findFirstMatchIn(j).map(_.group(1).toDouble))
    val n28 = Seq(
      if (draws.exists(_.getOrElse(2, 0) >= 2)) Some("deep-2") else None,
      if (effs.get("2_8").exists(_ > 1.02)) Some("denominator-cut") else None).flatten
    val n32 = Seq(
      if (draws.exists(_.getOrElse(32, 0) >= 2)) Some("deep-32") else None,
      // .exists on BOTH sides: a missing recorded pair must not claim
      // "control-bound" about a pair that does not exist (r7 review —
      // forall was vacuously true on None)
      if (controlEff.exists(c => effs.get("8_32").exists(_ < c))) Some("control-bound")
      else None).flatten
    Seq(
      if (n28.nonEmpty) Some(s""""note_2_8":"${n28.mkString(",")}"""") else None,
      if (n32.nonEmpty) Some(s""""note_8_32":"${n32.mkString(",")}"""") else None).flatten
  }

  private def scalingJson(rps: Map[Int, (Long, Double)], effs: Map[String, Double]): String = {
    // "rows" = deepest per-level cumulative measurement (children are
    // time-boxed, so levels report different cumulative row counts)
    val parts =
      Seq(s""""rows":${rps.values.map(_._1).max}""") ++
        rps.toSeq.sortBy(_._1).map { case (c, (_, r)) => f""""rps_$c":$r%.1f""" } ++
        effs.toSeq.sorted.map { case (n, e) => f""""efficiency_$n":$e%.3f""" } ++
        effs.get("2_8").map(e => f""""efficiency":$e%.3f""").toSeq ++
        deriveNotes(effs)
    parts.mkString("{", ",", "}")
  }

  private def contractLine(): String = {
    val qs = qTimings.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val total = qTimings.map(_._2).filter(_ >= 0).sum
    val scale = scalingState.map { case (rps, effs) =>
      val bestRps = rps.values.map(_._2).max
      s""","feature_rows_per_sec":${f"$bestRps%.1f"},"scaling":${scalingJson(rps, effs)}"""
    }.getOrElse("")
    val skew = skewState.map(j => s""","skew":$j""").getOrElse("")
    val cpu = cpuState.map(j => s""","cpu_control":$j""").getOrElse("")
    s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"sf":"$sfDirSeen"$scale$skew$cpu}"""
  }

  private def emitOnce(): Unit =
    if (emitted.compareAndSet(false, true)) { println(contractLine()); System.out.flush() }

  /** Driver bench, TIME-BUDGETED. Phases, in artifact-criticality order:
    *  1. scaling evidence (north rule — cannot be reconstructed partially);
    *  2. per-query wall seconds (publish incrementally, -1 sentinels);
    *  3. skew pair + pure-CPU control (cheap, budget-guarded).
    * Exactly ONE JSON contract line, also emitted from a shutdown hook if
    * the driver's timeout lands first (whatever is complete by then).
    * Env knobs: SPARK_GRAFT_BENCH_BUDGET_SEC (default 780),
    * SPARK_GRAFT_BENCH_SCALING_SEC (scaling-phase share),
    * SPARK_GRAFT_BENCH_{ENTITIES,FRAMES} (fixture),
    * SPARK_GRAFT_BENCH_SWEEPS (max sweeps), SPARK_GRAFT_BENCH_SKIP_SCALING. */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // 128×1024 = the calibrated fixture (BASELINE.md matrix): smaller ones
    // make high-thread units so short that fixed per-job overhead biases
    // measured efficiency DOWN.
    val benchEntities = sys.env.getOrElse("SPARK_GRAFT_BENCH_ENTITIES", "128").toInt
    val benchFrames = sys.env.getOrElse("SPARK_GRAFT_BENCH_FRAMES", "1024").toInt
    // 740, not 780: the driver invokes this through sbt, whose ~30 s
    // startup sits OUTSIDE this clock — a 780 s internal budget ran 813 s
    // of driver wall (round-5 run 9); 740 keeps the sbt-wrapped total at
    // the nominal 780 so a driver-side timeout near it cannot race the
    // final emit (the shutdown hook would still publish, but a clean exit
    // beats relying on it)
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "740").toLong
    val start = System.nanoTime()
    def elapsedSec: Long = (System.nanoTime() - start) / 1000000000L
    sfDirSeen = sfDir
    Runtime.getRuntime.addShutdownHook(new Thread(() => { harvestInFlight(); emitOnce() }))

    // exact all-pairs cosine is oracle duty; cap its bench input (see
    // SparkEntry.q_cosine_near_dup — the scale path is Similarity.annLsh)
    sys.props("graft.bench.cosineCap") =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_COSINE_CAP", "1000")

    // ---- phase 1: scaling (north rule) ----
    val skipScaling = sys.env.contains("SPARK_GRAFT_BENCH_SKIP_SCALING")
    // 440 (was 480): the 40 s funds the skew phase's hard reserve — scaling
    // hit 0.971 in-artifact with deep guaranteed draws, so it can afford a
    // slightly tighter soft window better than skew can afford none at all
    val scalingBudget = sys.env.get("SPARK_GRAFT_BENCH_SCALING_SEC").map(_.toLong)
      .getOrElse(math.min(440L, budgetSec * 5 / 8))
    if (!skipScaling) {
      try {
        val inputPath = materialize(benchEntities, benchFrames)
        System.err.println(s"[bench] fixture $inputPath ready at t=${elapsedSec}s")
        val scalingDeadline = math.min(scalingBudget, budgetSec - 260)
        val levels = Seq(2, 8, 32)
        // Budget shares follow the LOTTERY RISK, not the per-unit cost: the
        // 2-thread level reproduces within ±3% and an under-measured
        // denominator can only push the pair UP, so the binding constraint
        // on landing the true efficiency is the 8-thread level catching a
        // clean host window AND measuring DEEP — round-4 A/B: 45–76 s
        // 8-thread children plateau at 14.4–15.4 k rps while 120 s+
        // children settle to 16.6 k+ (JIT keeps settling through the first
        // ~8 units; best-of-units only absorbs ramp it gets to see). The
        // 8-thread level therefore takes ~half of every sweep window;
        // every sub-0.8 recorded sample (r3 + r4 run 2) was the 8-thread
        // level shallow or noise-cut in all of its windows.
        val weights = Map(2 -> 0.22, 8 -> 0.48, 32 -> 0.30)
        val maxSweeps = sys.env.getOrElse("SPARK_GRAFT_BENCH_SWEEPS", "3").toInt
        // Hard reserve for the later phases (skew + query loop + control):
        // sweeps of the headline {2, 8} pair may run PAST the scaling
        // deadline (round-3 directive #1: the third sweep is unconditional)
        // as long as this floor stays intact — the artifact must always
        // carry the skew pair AND the query timings too (round-4 lesson:
        // a 170 s reserve covered only a quiet query loop, and the skew
        // phase — then scheduled last — was starved out of the artifact).
        val phaseReserve = 240L
        // Guaranteed-draw quotas: exactly ONE per level — the floor for
        // every pair to EXIST in-artifact. Round-5 driver lesson: deeper
        // hard quotas (3×8-thread) kept spawning past the soft deadline on
        // a contended host and starved the skew box + query loop — the
        // depth the lottery argument wants (time-separated 8-thread
        // windows, JIT-settled 120 s+ children) now comes ONLY from soft
        // windows (sweeps 2-3 on a quiet host) and phase 5's
        // leftover-budget draws, never from must-run overrides.
        val quota = Map(2 -> 1, 8 -> 1, 32 -> 1)
        val draws = scala.collection.mutable.Map(2 -> 0, 8 -> 0, 32 -> 0)
        // registered BEFORE the sweeps, not after: an exception mid-sweep
        // must not silently disable phase 5's top-up draws (the fixture
        // exists and whatever draws landed are real)
        fixtureState = Some((inputPath, draws))
        var sweep = 1
        while (sweep <= maxSweeps &&
          (elapsedSec < scalingDeadline - 40 ||
            draws(2) < quota(2) || draws(8) < quota(8) || draws(32) < quota(32))) {
          // sweep 1 covers all levels, sweep 2 the headline pair {2, 8},
          // later sweeps only the 8-thread level — on a contended host a
          // time-separated DEEP 8-thread draw (the binding lottery, see
          // weights above) beats any other use of the window. Fixed,
          // value-independent plan — EXCEPT a 32-level whose single
          // sweep-1 child failed rejoins later sweeps (round-6 run 6: the
          // 32 child crashed and nothing before phase 5 could retry it).
          val baseLevels =
            if (sweep == 1) levels
            else if (sweep == 2) levels.filter(_ <= 8)
            else levels.filter(_ == 8)
          val sweepLevels =
            if (sweep > 1 && draws(32) < quota(32)) baseLevels :+ 32 else baseLevels
          // Per-sweep deadline so one fat sweep cannot eat the whole window
          // (round-4 run 1: three 140 s sweep-1 children pushed the later
          // guaranteed sweeps past the soft deadline and the whole bench
          // ~55 s over budget). Sweep 1 gets just over half the window (it
          // also carries the 32-thread level); the rest split the remainder.
          val cumShare =
            if (maxSweeps <= 1) 1.0
            else 0.55 + 0.45 * (sweep - 1).toDouble / (maxSweeps - 1)
          val sweepDeadline = (scalingDeadline * cumShare).toLong
          sweepLevels.zipWithIndex.foreach { case (c, idx) =>
            val remaining = sweepDeadline - elapsedSec
            val hardLeft = budgetSec - elapsedSec - phaseReserve
            // a draw below its level's quota runs even past the soft
            // deadline (floor budget 45 s) — but never into the phase reserve
            val mustRun = draws(c) < quota.getOrElse(c, 0)
            // every guard anticipates the child's FIXED cost on top of its
            // timed budget (JVM spin-up + session + untimed warm-up pass +
            // teardown, ~25-30 s measured): without it each spawn decision
            // overshoots its window by that much, and 8 children pushed the
            // round-5 quiet-run scaling phase ~200 s past its soft deadline
            // — squeezing the query loop against its own deadline
            if ((remaining > 40 + childOverhead || mustRun) &&
              hardLeft > 45 + childOverhead) {
              // proportional share of the remaining window over the levels
              // still to run in THIS sweep — budget-derived, never a constant
              val weightsLeft = sweepLevels.drop(idx).map(weights).sum
              val share = (math.max(remaining, 0L) * weights(c) / weightsLeft).toLong
              // cap 140 s: under contention a lower cap leaves room for a
              // later sweep — two children separated in time sample two
              // host-noise windows, which beats one long child stuck in one
              val childBudget =
                math.max(45L, Seq(math.max(share, 45L), 140L, hardLeft - childOverhead).min)
              spawnChild(c, inputPath, childBudget) match {
                case Some(r) =>
                  System.err.println(
                    f"[scale] sweep$sweep cpus=$c rows=${r._1} best_rps=${r._2}%.1f (budget ${childBudget}s)")
                  // partial state survives a driver-timeout SIGTERM
                  recordLevel(c, r._1, r._2)
                  // quota counts MEASUREMENTS, not spawn attempts: a child
                  // killed before its first SCALE line must not consume a
                  // guaranteed draw (the sweep bound still caps total
                  // attempts, so failures cannot loop forever)
                  draws(c) += 1
                case None =>
                  System.err.println(s"[scale] sweep$sweep cpus=$c produced no SCALE line (budget ${childBudget}s)")
              }
            }
          }
          sweep += 1
        }
        // Tail draws, budget-guarded: (a) a third time-separated
        // DENOMINATOR sample at 2 threads (45 s is plenty — the level
        // settles within ~5 units). Without it the quota asymmetry (3
        // deep 8-thread draws vs 2 2-thread ones) lets a run whose
        // 2-thread windows were all noise-cut record a pair above its
        // true value (round-4 run 5: 1.038) — noise on the denominator
        // inflates the pair just as dishonestly as noise on the numerator
        // deflates it. (b) a second 32-thread sample: that level gets one
        // sweep-1 draw, and a single crushed window leaves an absurd
        // in-artifact 8→32 (observed 0.22 when the 32-level drew 16.8 k
        // against an 18.8 k 8-level); best-of-level over two
        // time-separated draws is the same estimator every level uses.
        // The extra 32-thread draws run LAST (phase 5 below): they are the
        // stretch metric, so they spend only budget left over after every
        // must-have phase — never the skew/query reserve.
        Seq((2, 3, 45L)).foreach { case (c, want, b) =>
          if (draws(c) < want &&
            budgetSec - elapsedSec - phaseReserve > b + childOverhead) {
            spawnChild(c, inputPath, b).foreach { r =>
              System.err.println(
                f"[scale] tail cpus=$c rows=${r._1} best_rps=${r._2}%.1f (budget ${b}s)")
              recordLevel(c, r._1, r._2)
              draws(c) += 1
            }
          }
        }
      } catch {
        case e: Throwable => System.err.println(s"[bench] scaling failed: ${e.getMessage}")
      }
    }

    // ---- phase 2: skew evidence (north rule: explicit hot-key handling) ----
    // BEFORE the query loop (round-4 directive #1): the loop publishes its
    // timings incrementally and a partial loop still emits, but a skew pair
    // starved of its window leaves the artifact with NO skew key at all —
    // exactly what round-4's contended 130 s loop did when skew ran last.
    // The child needs ~55 s quiet (1 M hot rows); a 120 s floor survives
    // moderate contention, and a partial SKEWJSON (bucketed plan only) is
    // still harvested if the box expires mid-child.
    if (!sys.env.contains("SPARK_GRAFT_BENCH_SKIP_SKEW")) {
      // cap so the query loop keeps ≥110 s of the budget. The box is the
      // child's KILL TIMEOUT verbatim — no hidden floor may raise it back
      // above the cap (round-5 review: a 120 s spawn floor plus a 150 s
      // harvest floor could eat the loop's reserve exactly when scaling
      // had already overrun). Below 100 s the child cannot finish both
      // plans even quietly (~55-70 s) — skip rather than burn the loop's
      // budget on a doomed partial.
      val skewBox = math.min(170L, budgetSec - elapsedSec - 110L)
      // round-5 driver lesson: the all-or-nothing 100 s floor SKIPPED the
      // phase entirely when scaling had overrun, leaving the artifact with
      // no skew key at all. A 60-100 s box now runs a QUARTER fixture
      // (250k hot rows, ~20-25 s/plan quiet) instead — the headline
      // max-task ROWS ratio is volume-independent, so a smaller sample is
      // a complete answer, just with less time-metric contrast. Only a
      // sub-60 s box (loop reserve already breached) skips.
      val hotRows = if (skewBox >= 100) 1000000L else 250000L
      if (skewBox >= 60) {
        try spawnSkew(skewBox, hotRows) match {
          case Some(j) => skewState = Some(j); System.err.println(s"[bench] skew: $j")
          case None    => System.err.println("[bench] skew child produced no SKEWJSON line")
        } catch { case e: Throwable => System.err.println(s"[bench] skew failed: ${e.getMessage}") }
      } else System.err.println(s"[bench] skew skipped: box ${skewBox}s too small")
    }

    // ---- phase 3: per-query timings (driver contract), deadline-guarded ----
    val queriesDeadline = budgetSec - 25 // reserve: cpu control
    val spark = session(cpus.toInt)
    warmUp(spark, sfDir)
    // publish each timing as it lands: a driver-timeout SIGTERM during the
    // query phase must still emit every COMPLETED timing
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val orderedQ = SparkEntry.orderedQueries // alphabetical
    // Fault-injection hook (validates the watchdog END-TO-END): with
    // SPARK_GRAFT_BENCH_FAULT_SLEEP_SEC=N set, an extra query whose every
    // task sleeps N seconds joins the loop — it must cost its cap (not N×
    // tasks/cores) and the artifact must still ship complete. Never set on
    // driver runs; exercised by the round-7 validation run (BASELINE.md).
    val faultQ: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      sys.env.get("SPARK_GRAFT_BENCH_FAULT_SLEEP_SEC").map { s =>
        val sleepSec = s.toLong
        "zz_fault_sleep" -> ((sp: SparkSession, _: String) => {
          // the sleep is a FILTER condition, not a projected column: a
          // filter is always evaluated, whatever columns the loop's
          // consumer (QueryReport.consume) reads
          val slp = udf((_: Long) => { Thread.sleep(sleepSec * 1000L); true })
            .asNondeterministic()
          sp.range(0, 64, 1, 64).where(slp(col("id"))).toDF()
        })
      }.toSeq
    // persisted-block hygiene after every run (first pass and repair
    // alike): no blocks survive a query
    def afterQuery(): Unit = releasePersistedRdds(spark)
    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        capSec: Long): Double = {
      val gc0 = gcMillis
      // count plus an all-column digest: a bare count() would let Catalyst
      // prune work that only unread columns need
      val (sec, status) =
        runGuarded(spark, name, capSec)(graft.obs.QueryReport.consume(fn(spark, sfDir)): Unit)
      val quiet = quietRef.getOrElse(name, DefaultQuietRef)
      if (status != RunOk || sec > 4 * quiet)
        System.err.println(
          f"[bench] anomaly $name: $sec%.1fs vs quiet $quiet%.2fs (${sec / quiet}%.1fx, " +
            s"status=$status cap=${capSec}s) ${telemetry(spark, gcMillis - gc0)}")
      status match {
        case RunOk           => sec
        case RunCancelled    => -1.0
        case RunFailed(msg)  =>
          System.err.println(s"[bench] $name FAILED: $msg")
          -1.0
      }
    }
    (orderedQ ++ faultQ).foreach { case (name, fn) =>
      val entry =
        if (elapsedSec > queriesDeadline) {
          System.err.println(s"[bench] $name skipped: query deadline ${queriesDeadline}s passed")
          name -> -1.0
        } else name -> runOne(name, fn, queryCap(name, elapsedSec, budgetSec))
      afterQuery()
      acc += entry
      qTimings = acc.toSeq
    }
    // Repair pass (round-4 directive #2): one contended host window can 18×
    // a half-second query in the recorded artifact (r4: q_tumbling_ceil
    // 0.50 → 9.26 s with the plan unchanged). Any query whose first pass
    // exceeded its quiet reference gets ONE re-run in a later time window;
    // the minimum is reported. Host noise only ever ADDS wall time, so min
    // is the honest estimator — the same best-of-windows principle every
    // scaling level already uses. Queries the deadline SKIPPED outright
    // (-1 sentinels) retry first — a missing timing hurts the artifact
    // more than a noisy one — then worst-distorted first, so a tight
    // deadline spends its seconds where the artifact is most wrong.
    val repairables = acc.zipWithIndex
      .filter { case ((n, t), _) => t < 0 || t > repairThreshold(n) }
      .sortBy { case ((n, t), _) =>
        if (t < 0) Double.NegativeInfinity else -(t / quietRef.getOrElse(n, DefaultQuietRef))
      }
    if (repairables.nonEmpty)
      System.err.println(
        s"[bench] repair pass: ${repairables.size} queries skipped or above 2x quiet reference: " +
          repairables.map { case ((n, t), _) => f"$n=$t%.2fs" }.mkString(", "))
    val allQ = (orderedQ ++ faultQ).toMap
    repairables.foreach { case ((name, t1), idx) =>
      // anticipate the re-run's own duration before starting: a repair
      // that overruns the deadline displaces the cpu control (round-5
      // run 4: a 21 s streaming re-run started 1 s before the deadline
      // and the artifact lost its cpu_control key). The conservative
      // predictor is the OBSERVED first pass — a repair only triggers
      // when the host is contended, so "2× quiet" systematically
      // underestimates the re-run on a still-contended host. Skipped
      // queries (t1 < 0) have no observation; 2× quiet is all there is.
      val expectedSec = math.ceil(
        if (t1 < 0) 2 * quietRef.getOrElse(name, DefaultQuietRef) else t1).toLong
      // Deadline-SKIPPED queries get their own reserve past queriesDeadline
      // (round-5 advice: a deadline skip only ever happens once elapsedSec
      // > queriesDeadline, so a repair guard capped at queriesDeadline made
      // deadline skips unrepairable by construction — exactly the 15
      // -1.0 entries the r5 artifact shipped). They may run up to
      // budget−18: the cpu control needs ~10 s and the emit is instant, so
      // a missing timing (worse for the artifact than anything else)
      // outranks a deep control. Merely-SLOW queries still stop at
      // queriesDeadline — their first-pass value is at least real.
      val repairDeadline = if (t1 < 0) budgetSec - 18 else queriesDeadline
      if (elapsedSec + expectedSec < repairDeadline) {
        // repairs run under the same watchdog at DOUBLE the first-pass cap
        // (a watchdog-cancelled first pass proved the cap can bind; the
        // retry exists to outlast a bad window, not to re-lose to it) —
        // still clamped against the final-emit reserve
        val cap = math.max(5L, math.min(
          2 * queryCap(name, 0L, budgetSec), budgetSec - 18 - CancelGraceSec - elapsedSec))
        val t2 = allQ.get(name).map(fn => runOne(name, fn, cap)).getOrElse(-1.0)
        if (t2 >= 0 && (t1 < 0 || t2 < t1)) {
          System.err.println(f"[bench] repair $name: $t1%.2fs -> $t2%.2fs")
          acc(idx) = name -> t2
          qTimings = acc.toSeq
        }
        afterQuery()
      }
    }
    spark.stop()

    // ---- phase 4: pure-CPU 8→32 control (is the 8→32 ceiling machine or
    //      plan? run the SAME per-row kernel with plain threads, no Spark) ----
    if (elapsedSec < budgetSec - 15) {
      try {
        val j = CpuProbe.controlJson()
        cpuState = Some(j)
        System.err.println(s"[bench] cpu_control: $j")
      } catch { case e: Throwable => System.err.println(s"[bench] cpu control failed: ${e.getMessage}") }
    }

    // ---- phase 5: leftover-budget DEEP draws (stretch) ----
    // With the phase-1 hard quotas cut to ONE draw per level (round-5:
    // deeper must-run quotas starved the skew box and query loop on a
    // contended host), the depth both pairs want now comes from HERE on a
    // quiet run: the 8-level first (numerator of the headline 2→8 pair —
    // 120 s-class children settle past the JIT ramp; a shallow 8 biases
    // the headline DOWN), then the 32-level (one crushed window records an
    // absurd 8→32 — r4 run 12: 0.223), then extras. These run dead last so
    // they can never displace skew, the query loop, or the control — they
    // spend purely what those phases left behind, and the contract line is
    // emitted after them (or by the shutdown hook with whatever landed).
    fixtureState.foreach { case (inputPath, draws) =>
      // Keep the 32-level honest under contention (round-6 directive #6):
      // when the recorded 8→32 sits below even the pure-CPU control's own
      // 8→32 (r6: 0.029 vs control ~0.8 — one crushed 32-window survived
      // best-of-level because it was the ONLY 32-window), a second
      // time-separated 32-draw is worth more than a deeper 8, so the
      // ladder runs 32-first. The artifact then says which happened:
      // note_8_32 = "deep-32" (≥2 draws landed) or "control-bound" (the
      // recorded pair still trails the control — machine ceiling, not plan).
      val controlEff = cpuState.flatMap(j =>
        """"efficiency_8_32":([0-9.]+)""".r.findFirstMatchIn(j).map(_.group(1).toDouble))
      def recorded832: Option[Double] =
        for { l8 <- levelBest.get(8); l32 <- levelBest.get(32) } yield (l32._2 / l8._2) / 4.0
      val prioritize32 =
        recorded832.isEmpty || controlEff.exists(c => recorded832.exists(_ < c))
      // The symmetric guard for the HEADLINE pair (r7): eff 2→8 > ~1 is
      // physically impossible here — it flags a crushed 2-thread window
      // surviving best-of-level as the ONLY denominator sample (every
      // starred round-6/7 run: 1.038*/1.045*/1.092*/1.096*/1.132*/1.813*).
      // A time-separated 2-draw is then worth more than any other tail
      // spend — it can only RAISE rps_2 and bring the recorded pair back
      // toward the honest converged value.
      def recorded28: Option[Double] =
        for { l2 <- levelBest.get(2); l8 <- levelBest.get(8) } yield (l8._2 / l2._2) / 4.0
      val prioritize2 = levelBest.get(2).isEmpty || recorded28.exists(_ > 1.02)
      val ladder =
        (if (prioritize2) Seq((2, draws(2) + 1, 90L)) else Seq.empty) ++
          (if (prioritize32) Seq((32, 2, 60L), (8, 2, 90L), (32, 3, 90L), (8, 3, 90L))
           else Seq((8, 2, 90L), (32, 2, 50L), (8, 3, 90L), (32, 3, 90L)))
      ladder.foreach {
        case (lvl, want, b) =>
          // only a 20 s pad here: this is the final phase, so a mild
          // overrun just delays the emit a few seconds — nothing is
          // displaced
          if (draws(lvl) < want && budgetSec - elapsedSec - 10 > b + 20) {
            try spawnChild(lvl, inputPath, b).foreach { r =>
              System.err.println(
                f"[scale] tail cpus=$lvl rows=${r._1} best_rps=${r._2}%.1f (budget ${b}s)")
              recordLevel(lvl, r._1, r._2)
              draws(lvl) += 1
            } catch {
              case e: Throwable =>
                System.err.println(s"[bench] tail-$lvl failed: ${e.getMessage}")
            }
          }
      }
      // the note_2_8 / note_8_32 labels these tail draws influence are
      // derived from the final state at emit time (deriveNotes)
    }

    emitOnce()
  }

  /** Run one time-boxed scaling level in a pristine child JVM and parse the
    * LAST cumulative SCALE line — present even if the child is killed. */
  def spawnLevelPublic(cpus: Int, inputPath: String, budgetSec: Long = 120L): Option[(Long, Double)] =
    spawnChild(cpus, inputPath, budgetSec)

  private def childCmd(main: String, extra: Seq[String]): java.util.List[String] = {
    import scala.jdk.CollectionConverters._
    val jvm = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-agentlib"))
    (Seq(jvm) ++ inherited ++ Seq("-cp", System.getProperty("java.class.path"), main) ++ extra).asJava
  }

  /** Spawn + harvest pattern shared by the scaling and skew children:
    * stdout → file (so the timeout can fire and a killed child's partial
    * output survives), stderr DISCARDED (draining it lazily would deadlock
    * the child once the 64K pipe buffer fills). */
  private def spawnAndHarvest(
      cmd: java.util.List[String],
      env: Map[String, String],
      timeoutSec: Long,
      linePrefix: String,
      trackLevel: Int = -1): Option[String] = {
    val pb = new ProcessBuilder(cmd)
    // stderr → FILE (a lazily-drained pipe would deadlock the child once
    // the 64K buffer fills — round-2 lesson — but a file redirect cannot);
    // kept only long enough to explain a child that produced no line
    // (round-6: two children died silently with stderr discarded)
    val errFile = java.nio.file.Files.createTempFile("graft_child_err", ".txt")
    pb.redirectError(errFile.toFile)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val outFile = java.nio.file.Files.createTempFile("graft_child_out", ".txt")
    pb.redirectOutput(outFile.toFile)
    val proc = pb.start()
    inFlight = Some((outFile, linePrefix, trackLevel))
    try {
      if (!proc.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly()
        proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
        System.err.println(s"[bench] child $linePrefix overran ${timeoutSec}s — killed; harvesting partial output")
      }
      val out = new String(java.nio.file.Files.readAllBytes(outFile), "UTF-8")
      val line = out.linesIterator.filter(_.startsWith(linePrefix)).toSeq.lastOption
      if (line.isEmpty) {
        // surface the crash reason (exit code + stderr tail) — a silent
        // child failure is otherwise undiagnosable (stderr was discarded)
        val rc = try proc.exitValue().toString catch { case _: Throwable => "running" }
        val errTail =
          try new String(java.nio.file.Files.readAllBytes(errFile), "UTF-8")
            .linesIterator.toSeq.takeRight(4).mkString(" | ")
          catch { case _: Throwable => "" }
        System.err.println(
          s"[bench] child $linePrefix produced no line (rc=$rc): ${errTail.take(500)}")
      }
      line
    } finally {
      inFlight = None
      java.nio.file.Files.deleteIfExists(outFile)
      java.nio.file.Files.deleteIfExists(errFile)
    }
  }

  private def spawnChild(cpus: Int, inputPath: String, budgetSec: Long): Option[(Long, Double)] = {
    val t0 = System.nanoTime()
    val r = spawnAndHarvest(
      childCmd("graft.ScaleChild", Seq(cpus.toString, inputPath)),
      Map("SPARK_GRAFT_CHILD_BUDGET_SEC" -> budgetSec.toString),
      // grace covers one in-flight unit + JVM/session teardown
      budgetSec + 90,
      "SCALE",
      trackLevel = cpus).flatMap(parseScale)
    val wallSec = (System.nanoTime() - t0) / 1000000000L
    // wall − the child's self-reported TIMED seconds = its real untimed
    // overhead (spin-up + session + warm-up + teardown + harvest + any
    // killed partial unit) — feed the adaptive guard so later spawn
    // decisions see the per-child cost THIS host is charging. A child
    // with no timed report falls back to wall − budget (lower bound).
    recordChildWall(wallSec, r.flatMap(_._3).map(_.toLong).getOrElse(budgetSec))
    r.map { case (rows, rps, _) => (rows, rps) }
  }

  private def spawnSkew(budgetSec: Long, hotRows: Long = 1000000L): Option[String] =
    spawnAndHarvest(
      // 1M hot rows ⇒ 2.31M total (cold = hot/200 per entity × 31 × 2
      // sides) — round-3 directive #3: the 9.7M fixture ate ~98 s/plan on
      // a contended host; a quarter of it still separates the plans (the
      // headline is the merge-stage max-task ROWS ratio, volume-
      // independent) and fits any budget window. hotRows shrinks further
      // when the caller's box is tight (see the phase-2 fallback).
      childCmd("graft.SkewBench", Seq(hotRows.toString, "31", "32", "json")),
      Map.empty,
      // the caller's box IS the kill timeout — the caller sized it against
      // the query loop's reserve, and a floor here would silently override
      // that decision (an overrun is still harvested partially via inFlight)
      budgetSec,
      "SKEWJSON").map(_.stripPrefix("SKEWJSON").trim)
}
