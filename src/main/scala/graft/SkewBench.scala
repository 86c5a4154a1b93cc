package graft

import org.apache.spark.sql.functions._

/** Skew evidence for the north rule's hot-phash-cluster scenario: one
  * entity holds most rows. The naive as-of plan (per-entity window ⇒ one
  * task owns the hot entity) is reproduced by calling the SAME operator
  * with a bucket width wider than the ts span (1 bucket/entity); the
  * production width spreads the hot entity over span/width tasks. Results
  * land in BASELINE.md.
  *
  * Three metrics per plan, most robust first:
  *  - merge-stage max-task ROWS (headline `max_task_ratio`) — rows pulled
  *    over the exchange by the biggest task of the per-(entity, bucket)
  *    merge stage. A property of the PLAN: bit-reproducible under any host
  *    weather, and exactly what a Spark-UI skew diagnosis reads. The naive
  *    plan's hot task carries the whole hot entity; the bucketed plan's
  *    biggest task carries ~total/partitions.
  *  - max single-task seconds (merge stage + any stage) — the same signal
  *    in time; mostly contention-robust but an OS descheduling window can
  *    inflate any one task on a loaded host (round-3/4 observation: global
  *    max-task saturates at the straggler floor under load >5).
  *  - wall seconds — the end-to-end win, but contention-SENSITIVE: the
  *    naive plan uses ~1 core, so background host load barely touches it,
  *    while the bucketed plan wants every core; under heavy external load
  *    the wall ratio can invert even though the plans haven't changed.
  *
  * Run: `runMain graft.SkewBench [hotRows] [coldEntities] [cpus] [json]
  * [window]` — with `json`, one rep per plan and machine-readable
  * `SKEWJSON {...}` lines, a partial one after the bucketed run (Bench
  * parses the LAST line, so a timeout-killed child still reports the
  * production number — same partial-evidence principle as ScaleChild).
  * With `window`, the measured operator is the flagship's FUSED window
  * stage ([[ops.BucketedWindows]]: LOCF + lag + sessionize) instead of the
  * as-of join — the round-5 directive's evidence that bucketing the window
  * stage removes the same hot-task the as-of pair demonstrates; the naive
  * shape is the SAME operator at one-bucket width (whole entity in one
  * task), exactly as in as-of mode.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val hotRows = if (args.length > 0) args(0).toInt else 400000
    val coldEntities = if (args.length > 1) args(1).toInt else 31
    val cpus = if (args.length > 2) args(2).toInt else 32
    val jsonMode = args.contains("json")
    val windowMode = args.contains("window")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      // 4× cores: max-task is the metric here, and the uniform stages' task
      // size is the FLOOR it is compared against — at cores-many partitions
      // a uniform task carries total/cores rows and the floor swallows the
      // hot-task signal at demo volume. Over-partitioning is also the
      // production advice (smaller tasks smooth stragglers); the hot KEY
      // still cannot split, which is exactly what the naive plan shows.
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE partition coalescing is BYTE-targeted: at demo volume every
      // bucket is far under the 64 MB advisory size, so coalescing merges
      // the spread buckets back into few fat tasks — un-doing the very
      // topology being measured. At production volume (10^12 rows) each
      // bucket exceeds the advisory size and coalescing is a non-factor,
      // so disabling it here makes the demo reflect the production plan.
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 10× the default listener-bus queue: the async bus permanently DROPS
      // events under backlog, and a dropped onStageCompleted would silently
      // demote the merge stage to an earlier prep stage (round-4 advice).
      // Headroom first; the task-end fallback below covers residual drops.
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Per-stage (numTasks, max task ms) of the jobs run since the last
    // reset (listener bus is async — reads happen after a short drain
    // sleep). Two max-task views per rep:
    //  - MERGE-STAGE max task: of the stages with ≥2 tasks, the one whose
    //    tasks pulled the most rows over an exchange — the stage that reads
    //    the full relation's (entity, bucket) exchange, whose biggest task
    //    IS the skew signal. (Not simply the last multi-task stage: the
    //    bucketed pass stages its windowed relation, so the final stage
    //    reads staged blocks and pulls no shuffle rows.)
    //  - ANY-STAGE max task: global, kept for transparency — under heavy
    //    external load any 300-task prep stage draws straggler tasks that
    //    have nothing to do with key skew, so the global max saturates at
    //    the straggler floor and the ratio compresses toward 1.
    val debug = sys.env.contains("SPARK_GRAFT_SKEW_DEBUG")
    val stageMax = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageMaxRows = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageRows = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    // task-END events observed per stage: the multi-task evidence that does
    // NOT depend on onStageCompleted surviving the bus (round-4 advice — a
    // dropped stage-completed event must not demote the merge stage)
    val stageTaskEnds = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val eventsSeen = new java.util.concurrent.atomic.AtomicLong
    def resetStages(): Unit = {
      stageMax.clear(); stageMaxRows.clear(); stageRows.clear(); stageTasks.clear(); stageTaskEnds.clear()
    }
    // The listener bus is async: stageTasks is only populated by
    // onStageCompleted, and reading before the merge stage's event drains
    // would silently pick an earlier prep stage as "the merge stage" (the
    // ratio then compresses toward 1 with no warning). Poll until the
    // event counter is stable across a full interval — on a contended host
    // the backlog clears in bursts, so stability beats a fixed sleep.
    def drainListeners(): Unit = {
      var prev = -1L
      var spins = 0
      while (prev != eventsSeen.get() && spins < 30) {
        prev = eventsSeen.get()
        Thread.sleep(300)
        spins += 1
      }
    }
    def mergeStageId: Option[Int] = {
      import scala.jdk.CollectionConverters._
      // ≥2-task evidence from EITHER the stage-completed record OR the
      // count of task-end events: if the bus dropped this stage's
      // onStageCompleted, the task ends still identify it as multi-task
      // instead of silently falling back to an earlier prep stage.
      val ids = stageMax.asScala.keys.toSeq
        .filter(id =>
          stageTasks.getOrDefault(id, 1) >= 2 || stageTaskEnds.getOrDefault(id, 0) >= 2)
        .sortBy(id => (-stageRows.getOrDefault(id, 0L), -id))
      ids.headOption.foreach { id =>
        if (!stageTasks.containsKey(id))
          System.err.println(
            s"[skew] WARNING stage $id has ${stageTaskEnds.get(id)} task ends but no " +
              "stage-completed record — listener bus dropped events; using task-end fallback")
      }
      ids.headOption
    }
    def mergeStageMaxMs: Long = mergeStageId.map(stageMax.getOrDefault(_, 0L)).getOrElse(0L)
    def mergeStageMaxRows: Long = mergeStageId.map(stageMaxRows.getOrDefault(_, 0L)).getOrElse(0L)
    def anyStageMaxMs: Long = {
      import scala.jdk.CollectionConverters._
      stageMax.asScala.values.foldLeft(0L)(math.max)
    }
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val d = if (t.taskInfo != null) t.taskInfo.duration else 0L
        stageMax.merge(t.stageId, d, math.max(_, _))
        // fallback COUNT gates on successful, non-speculative attempts: a
        // single-task stage with one retry would otherwise register two
        // task ends, qualify as "multi-task", and (being a later stage id)
        // displace the real merge stage from mergeStageId
        if (t.taskInfo != null && t.taskInfo.successful && !t.taskInfo.speculative)
          stageTaskEnds.merge(t.stageId, 1, _ + _)
        // rows the task PULLED over the exchange — the deterministic size of
        // the task, untouched by host weather (see the metric notes below)
        val rows =
          if (t.taskMetrics != null) t.taskMetrics.shuffleReadMetrics.recordsRead else 0L
        stageMaxRows.merge(t.stageId, rows, math.max(_, _))
        stageRows.merge(t.stageId, rows, _ + _)
        eventsSeen.incrementAndGet()
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stageTasks.put(si.stageId, si.numTasks)
        eventsSeen.incrementAndGet()
        if (debug)
          System.err.println(
            s"[skewdbg] stage ${si.stageId} tasks=${si.numTasks} " +
              s"maxTaskMs=${stageMax.getOrDefault(si.stageId, -1L)} " +
              s"maxTaskRows=${stageMaxRows.getOrDefault(si.stageId, -1L)} ${si.name.take(80)}")
      }
    })

    val span = 1000000L
    val coldRows = hotRows / 200
    // hot entity: ~87% of all rows, dense over the span; cold: sparse.
    // Inputs carry cores×8 partitions so the shared prep stages (dedupe
    // groupBy + exchange write) run ~12k-row tasks — they must not be the
    // max-task floor the naive plan's hot task is compared against.
    def side(seed: Long) = {
      val hot = spark.range(0L, hotRows, 1L, cpus * 8).select(
        lit("hot").as("entity"),
        (col("id") * span / hotRows + seed % 17).as("ts"),
        (col("id") % 1000).cast("double").as("v"))
      val cold = spark.range(0L, coldEntities.toLong * coldRows, 1L, cpus * 2).select(
        concat(lit("c"), (col("id") % coldEntities)).as("entity"),
        (col("id") * span / (coldEntities.toLong * coldRows) + seed % 13).as("ts"),
        (col("id") % 997).cast("double").as("v"))
      hot.unionByName(cold)
    }
    // pv0: a sparse (mostly-null) column so window mode's LOCF fill has
    // real carry work; harmless in as-of mode (pruned — payload is v only)
    val build = side(3L)
      .withColumn("pv0", when(col("ts") % 50 === 0, col("v")))
      .cache()
    // window mode never reads a probe side — building/caching it would
    // waste roughly half the fixture cost inside the child's kill box, and
    // its rows would overstate the fixture the reported numbers describe
    lazy val probes = side(7L).withColumnRenamed("v", "pv").cache()
    val total = build.count() + (if (windowMode) 0L else probes.count())

    /** One plan width → (best wall sec, merge-stage max-task ROWS,
      * best-rep merge-stage max task sec, best-rep any-stage max task sec);
      * stage stats reset PER REP so a cold rep-1's JIT-inflated tasks
      * cannot leak into the reported signal — time metrics are
      * best-of-reps, the rows metric is identical across reps (it is a
      * property of the PLAN, not of the run). */
    // the measured plan: as-of join (default) or the fused window stage
    // (`window` arg) — identical naive-vs-bucketed methodology, the naive
    // shape being the same operator at one-bucket width
    def planOf(width: Long): org.apache.spark.sql.DataFrame =
      if (windowMode)
        ops.BucketedWindows
          .frameWindows(
            build, "entity", "ts", width, gap = 5L,
            locfCols = Seq("pv0"), lagCols = Seq("v"))
          // every window output is referenced — count(pv0_filled) keeps the
          // LOCF branch alive (round-6 advice: an agg over only session_id
          // and v_lag1 let ColumnPruning delete the pv0 fill expression and
          // its carry aggregates, so the mode under-measured the carry work
          // it documents; both widths pruned identically, so the RATIO was
          // fair — the WORK was not what the comment claimed)
          .agg(
            count(lit(1)), sum(col("session_id")), sum(col("v_lag1")),
            count(col("pv0_filled")), sum(col("pv0_filled")))
      else
        ops.AsOfJoin
          .asOf(probes, build, "entity", "ts", Seq("v"), width)
          .agg(count(lit(1)), sum(col("v")))

    def run(name: String, width: Long): (Double, Long, Double, Double) = {
      val reps = if (jsonMode) 1 else 2
      val measured = (1 to reps).map { rep =>
        drainListeners() // previous jobs' events must not leak into this rep
        resetStages()
        val t0 = System.nanoTime()
        val n = planOf(width).head()
        val sec = (System.nanoTime() - t0) / 1e9
        drainListeners() // this rep's task/stage events must all have landed
        if (!jsonMode)
          println(f"SKEW $name rep$rep width=$width rows=$total sec=$sec%.2f check=$n")
        (sec, mergeStageMaxRows, mergeStageMaxMs / 1000.0, anyStageMaxMs / 1000.0)
      }
      (measured.map(_._1).min, measured.map(_._2).max,
        measured.map(_._3).min, measured.map(_._4).min)
    }

    // untimed warm-up of BOTH plan widths in json mode (each over a 1/8
    // data slice — the post-shuffle stages codegen identically to the full
    // plan, so both single-rep measurements start compile-warm; warming
    // only one width would hand its plan a systematic advantage). The
    // interactive mode's rep pairs absorb this via best-of-2 instead.
    if (jsonMode) {
      val bSlice = build.where(col("ts") % 8 === 0)
      Seq(span / (cpus * 8), span * 10).foreach { w =>
        if (windowMode)
          ops.BucketedWindows
            .frameWindows(
              bSlice, "entity", "ts", w, gap = 5L,
              locfCols = Seq("pv0"), lagCols = Seq("v"))
            // IDENTICAL aggregate list to the measured probe: a differing
            // list generates a different whole-stage class, so the single
            // timed rep would pay the Janino compile the warm-up exists
            // to absorb (r7 review — the first cut omitted sum(pv0_filled))
            .agg(count(lit(1)), sum(col("session_id")), sum(col("v_lag1")),
              count(col("pv0_filled")), sum(col("pv0_filled"))).head()
        else
          ops.AsOfJoin
            .asOf(probes.where(col("ts") % 8 === 0), bSlice, "entity", "ts", Seq("v"), w)
            .agg(count(lit(1))).head()
      }
    }
    // bucketed (fast) FIRST so a timeout-killed child has already reported
    // the production plan's numbers via the partial line below
    val (bucketed, bucketedMaxRows, bucketedMaxTask, bucketedAnyMax) =
      run("bucketed", span / (cpus * 8))
    if (jsonMode) {
      println(
        f"""SKEWJSON {"rows":$total,"bucketed_max_task_rows":$bucketedMaxRows,""" +
          f""""bucketed_max_task_sec":$bucketedMaxTask%.2f,"bucketed_sec":$bucketed%.2f}""")
      System.out.flush()
    }
    val (naive, naiveMaxRows, naiveMaxTask, naiveAnyMax) =
      run("naive_1_bucket", span * 10) // whole entity in one task
    // max_task_ratio LEADS (round-3 directive #3) and is measured in ROWS
    // PULLED by the biggest merge-stage task: how big a task each plan
    // schedules for the hot key. Rows are a property of the PLAN — bit-
    // reproducible under any host weather — unlike task seconds (an OS
    // descheduling window inflates any one task) or the wall pair (the
    // naive plan uses ~1 core, the bucketed plan wants all of them, so
    // background load can invert the wall ratio). Both time views are
    // reported alongside for transparency.
    if (jsonMode)
      println(
        f"""SKEWJSON {"rows":$total,"max_task_ratio":${naiveMaxRows.toDouble / math.max(bucketedMaxRows, 1L)}%.1f,""" +
          f""""naive_max_task_rows":$naiveMaxRows,"bucketed_max_task_rows":$bucketedMaxRows,""" +
          f""""naive_max_task_sec":$naiveMaxTask%.2f,"bucketed_max_task_sec":$bucketedMaxTask%.2f,""" +
          f""""naive_any_stage_max_sec":$naiveAnyMax%.2f,"bucketed_any_stage_max_sec":$bucketedAnyMax%.2f,""" +
          f""""naive_sec":$naive%.2f,"bucketed_sec":$bucketed%.2f,""" +
          f""""speedup":${naive / bucketed}%.2f}""")
    else
      println(
        f"SKEW max_task naive=$naiveMaxRows rows/$naiveMaxTask%.2f s " +
          f"bucketed=$bucketedMaxRows rows/$bucketedMaxTask%.2f s " +
          f"rows_ratio=${naiveMaxRows.toDouble / math.max(bucketedMaxRows, 1L)}%.1f")
    spark.stop()
  }
}
