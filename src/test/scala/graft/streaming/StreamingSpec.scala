package graft.streaming

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Streaming window semantics == batch semantics on the same input. */
class StreamingSpec extends SparkSpec {

  // streaming file source needs a DIRECTORY; stage the events file into one
  private val eventsPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming tumbling agg (complete mode) equals batch groupBy") {
    val schema = spark.read.parquet(eventsPath).schema
    val stream = spark.readStream.schema(schema).parquet(eventsPath)
    val q = StreamingFeatures
      .tumblingAgg(stream, "1 day", "0 seconds")
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("t_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark
      .table("t_out")
      .select(col("user_id"), col("win_start_us"), col("n"), round(col("avg_v"), 6).as("a"))
      .collect()
      .map(_.toSeq)
      .toSet
    val batch = spark.read.parquet(eventsPath)
      .withColumn("ts_t", col("ts").cast("timestamp"))
      .groupBy(window(col("ts_t"), "1 day"), col("user_id"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_v"))
      .select(col("user_id"), unix_micros(col("window.start")).as("win_start_us"),
        col("n"), round(col("avg_v"), 6).as("a"))
      .collect()
      .map(_.toSeq)
      .toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("stateful LOCF carries state across micro-batches and equals batch LOCF") {
    import spark.implicits._
    import StreamingFeatures.{LocfEvent, LocfOut}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[LocfEvent]
    val q = StreamingFeatures
      .statefulLocf(mem.toDS())
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("locf_out")
      .start()
    // batch 1: user 1 sees a value then a null; user 2 only nulls
    mem.addData(LocfEvent(1L, 10L, Some(5.0)), LocfEvent(1L, 20L, None), LocfEvent(2L, 10L, None))
    q.processAllAvailable()
    // batch 2: user 1's null must backfill from batch 1's value (cross-batch
    // state); user 2 finally observes a value
    mem.addData(LocfEvent(1L, 30L, None), LocfEvent(2L, 20L, Some(7.0)), LocfEvent(2L, 30L, None))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("locf_out").as[LocfOut].collect()
      .map(o => (o.user_id, o.ts_us) -> o.v_filled).toMap
    assert(got((1L, 10L)).contains(5.0))
    assert(got((1L, 20L)).contains(5.0))
    assert(got((1L, 30L)).contains(5.0), "cross-batch carry failed")
    assert(got((2L, 10L)).isEmpty, "no earlier observation -> stays null")
    assert(got((2L, 20L)).contains(7.0))
    assert(got((2L, 30L)).contains(7.0))

    // batch-mode equivalence vs the window-based LOCF on real events
    val e = spark.read.parquet(eventsPath)
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        when(col("event_type") === "purchase", col("value")).as("v"),
        col("event_id").as("tag"))
    val fromState = StreamingFeatures.statefulLocf(e.as[LocfEvent]).collect()
      .groupBy(o => (o.user_id, o.ts_us))
      .map { case (k, vs) => k -> vs.map(_.v_filled).toSet }
    val fromWindow = graft.ops.Backfill
      .locf(e, "user_id", "ts_us", Seq("v"))
      .select(col("user_id"), col("ts_us"), col("v_filled"))
      .collect()
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (k, rs) =>
        k -> rs.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSet
      }
    assert(fromState == fromWindow, "stateful LOCF != window LOCF in batch mode")
  }

  test("streaming session_window produces gap-bounded sessions") {
    val schema = spark.read.parquet(eventsPath).schema
    val stream = spark.readStream.schema(schema).parquet(eventsPath)
    val q = StreamingFeatures
      .sessionAgg(stream, "6 hours", "0 seconds")
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("s_out")
      .start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("s_out")
    assert(out.count() > 0)
    // every session span is a closed run: end - start bounded by n * gap
    val bad = out.where(
      col("session_end_us") - col("session_start_us") > col("n_rows") * lit(6L * 3600 * 1000000L))
    assert(bad.count() == 0L)
  }

  test("append-mode session_window emits a batch's sessions only once a later batch moves the watermark") {
    import spark.implicits._
    import StreamingSpec.SessionEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[SessionEvent]
    val q = StreamingFeatures.sessionAgg(mem.toDF(), "10 minutes", "0 seconds")
      .writeStream.outputMode("append").format("memory").queryName("sess_evict").start()
    val minUs = 60L * 1000000L
    def at(min: Long) = new java.sql.Timestamp(min * 60000L)
    // batch 1: two users' sessions, both still open at the batch's own
    // watermark (its max event time, 8 min): ends 15 and 18 min
    mem.addData(
      SessionEvent(1L, at(0), 1.0), SessionEvent(1L, at(5), 3.0),
      SessionEvent(2L, at(2), 2.0), SessionEvent(2L, at(8), 6.0))
    q.processAllAvailable()
    assert(spark.table("sess_evict").count() == 0L, "a session was emitted before the watermark passed it")
    // batch 2: one event a day later moves the watermark past both
    mem.addData(SessionEvent(1L, at(24 * 60), 9.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_evict")
      .select(col("user_id"), col("session_start_us"), col("n_rows"), col("avg_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set((1L, 0L, 2L, 2.0), (2L, 2L * minUs, 2L, 4.0)),
      "batch 1's sessions (and only they) must be evicted after batch 2")
  }

  test("q_streaming_session equals batch sessionization on events spanning more than 60 days") {
    import java.nio.file.{Files, StandardCopyOption}
    // a single-file events.parquet holding sf0.001 plus a copy shifted
    // +90 days (event ids offset), i.e. a fixture about 120 days wide
    val base = spark.read.parquet(eventsPath)
    val idOffset = base.agg(max(col("event_id"))).first().getLong(0) + 1L
    val wide = base.unionByName(
      base.withColumn("ts", col("ts") + expr("INTERVAL 90 DAYS"))
        .withColumn("event_id", col("event_id") + idOffset))
    val dir = Files.createTempDirectory("graft_wide_events")
    try {
      val out = dir.resolve("out")
      wide.coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      Files.move(part, dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)

      val got = graft.SparkEntry.queries("q_streaming_session")(spark, dir.toString)
      val ev = spark.read.parquet(s"$dir/events.parquet")
        .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      val want = graft.ops.Sessionize
        .sessionize(ev, "user_id", "ts_us", 6L * 3600 * 1000000L, Seq("event_id"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts_us")).as("session_start_us"), count(lit(1)).as("n_rows"),
          round(avg(col("value")), 4).as("avg_value"))
        .select("user_id", "session_start_us", "n_rows", "avg_value")
      val lateStart = ev.agg(min(col("ts_us"))).first().getLong(0) + 60L * 24 * 3600 * 1000000L
      assert(want.where(col("session_start_us") >= lateStart).count() > 0L, "fixture is not wide")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0L, "streaming sessions missing from batch")
      assert(want.exceptAll(got).count() == 0L, "batch sessions missing from streaming")
    } finally new scala.reflect.io.Directory(dir.toFile).deleteRecursively()
  }

  test("stateful as-of carries the build across micro-batches and equals batch asOf") {
    import spark.implicits._
    import StreamingFeatures.{AsOfEvent, AsOfOut}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AsOfEvent]
    val q = StreamingFeatures
      .statefulAsOf(mem.toDS())
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName("asof_out")
      .start()
    // batch 1: build at 10 (v=5), probe at 20 and a probe BEFORE any build
    mem.addData(
      AsOfEvent(1L, 10L, isBuild = true, Some(5.0)),
      AsOfEvent(1L, 20L, isBuild = false, None, tag = 1L),
      AsOfEvent(1L, 5L, isBuild = false, None, tag = 2L))
    q.processAllAvailable()
    // batch 2: probe served by batch-1's build (cross-batch state); a new
    // build at the SAME ts as a probe must be visible (inclusive match);
    // a build with a NULL payload is still a match (the carry advances to
    // (ts, None) — batch asOf and the DuckDB oracle both keep such rows)
    mem.addData(
      AsOfEvent(1L, 30L, isBuild = false, None, tag = 3L),
      AsOfEvent(1L, 40L, isBuild = true, Some(9.0)),
      AsOfEvent(1L, 40L, isBuild = false, None, tag = 4L),
      AsOfEvent(1L, 50L, isBuild = true, None),
      AsOfEvent(1L, 60L, isBuild = false, None, tag = 5L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_out").as[AsOfOut].collect()
      .map(o => o.tag -> ((o.src_ts, o.v))).toMap
    assert(got(1L) == ((Some(10L), Some(5.0))))
    assert(got(2L) == ((None, None)), "probe before any build must stay null")
    assert(got(3L) == ((Some(10L), Some(5.0))), "cross-batch carry failed")
    assert(got(4L) == ((Some(40L), Some(9.0))), "same-ts build must be visible")
    assert(got(5L) == ((Some(50L), None)), "null-payload build must still match")

    // batch-mode equivalence vs the flagship bucketed asOf on real events
    val e = spark.read.parquet(eventsPath)
      .where(col("event_type").isin("click", "purchase"))
      .select(
        col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        (col("event_type") === "click").as("isBuild"),
        when(col("event_type") === "click", col("value")).as("v"),
        col("event_id").as("tag"))
    val fromState = StreamingFeatures.statefulAsOf(e.as[AsOfEvent]).collect()
      .map(o => o.tag -> ((o.src_ts, o.v))).toMap
    val probes = e.where(!col("isBuild")).select("user_id", "ts_us", "tag")
    val build = e.where(col("isBuild")).select(col("user_id"), col("ts_us"), col("v"))
    val fromBatch = graft.ops.AsOfJoin
      .asOf(probes, build, "user_id", "ts_us", Seq("v"), 2L * 24 * 3600 * 1000000L)
      .collect()
      .map { r =>
        r.getLong(r.fieldIndex("tag")) -> ((
          if (r.isNullAt(r.fieldIndex(graft.ops.AsOfJoin.SrcTs))) None
          else Some(r.getLong(r.fieldIndex(graft.ops.AsOfJoin.SrcTs))),
          if (r.isNullAt(r.fieldIndex("v"))) None else Some(r.getDouble(r.fieldIndex("v")))))
      }
      .toMap
    assert(fromState == fromBatch, "stateful as-of != bucketed asOf in batch mode")
  }

  test("guarded carry: a late out-of-order build cannot regress the fast-path state") {
    import spark.implicits._
    import StreamingFeatures.{AsOfEvent, AsOfOut}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AsOfEvent]
    val q = StreamingFeatures.statefulAsOf(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("asof_guard").start()
    mem.addData(AsOfEvent(1L, 100L, isBuild = true, Some(5.0)))
    q.processAllAvailable()
    // batch 2 violates the ordering contract: an OLDER build arrives late.
    // Unguarded state would regress the carry to (50, 1.0) and serve the
    // probe stale data; the guard keeps (100, 5.0).
    mem.addData(
      AsOfEvent(1L, 50L, isBuild = true, Some(1.0)),
      AsOfEvent(1L, 200L, isBuild = false, None, tag = 1L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_guard").as[AsOfOut].collect().map(o => o.tag -> ((o.src_ts, o.v))).toMap
    assert(got(1L) == ((Some(100L), Some(5.0))), "late old build regressed the carry")
  }

  test("watermark-buffered as-of joins a build arriving in a LATER batch than its probe") {
    import spark.implicits._
    import StreamingFeatures.{AsOfEvent, AsOfOut}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // Mode OFF (fast path): the probe emits immediately and MISSES the
    // late build — the documented ordered-delivery contract.
    val memFast = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AsOfEvent]
    val qf = StreamingFeatures.statefulAsOf(memFast.toDS())
      .writeStream.outputMode("append").format("memory").queryName("asof_fast_late").start()
    memFast.addData(AsOfEvent(1L, 100000000L, isBuild = false, None, tag = 1L))
    qf.processAllAvailable()
    memFast.addData(AsOfEvent(1L, 50000000L, isBuild = true, Some(7.0)))
    qf.processAllAvailable()
    qf.stop()
    val fast = spark.table("asof_fast_late").as[AsOfOut].collect().map(o => o.tag -> o.src_ts).toMap
    assert(fast(1L).isEmpty, "fast path should document the miss on out-of-order builds")

    // Mode ON (buffered): the probe is held until the watermark passes it;
    // the build from the NEXT batch lands first, so the join is exact.
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[AsOfEvent]
    val q = StreamingFeatures.statefulAsOfBuffered(mem.toDS(), "100 seconds")
      .writeStream.outputMode("append").format("memory").queryName("asof_buf").start()
    // batch 1: probe at t=100s — watermark (max event − 100 s delay) still
    // behind it, so it buffers
    mem.addData(AsOfEvent(1L, 100000000L, isBuild = false, None, tag = 1L))
    q.processAllAvailable()
    // batch 2: the build arrives LATE (t=50s < the already-seen probe) but
    // INSIDE the 100 s watermark delay, so it buffers alongside the probe
    mem.addData(AsOfEvent(1L, 50000000L, isBuild = true, Some(7.0)))
    q.processAllAvailable()
    // batch 3: t=300s pushes the watermark to 200 s — both held rows are
    // now final and flush in event-time order: build(50) then probe(100)
    mem.addData(AsOfEvent(1L, 300000000L, isBuild = true, Some(9.0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_buf").as[AsOfOut].collect().map(o => o.tag -> ((o.src_ts, o.v))).toMap
    assert(got(1L) == ((Some(50000000L), Some(7.0))),
      "buffered mode must serve the probe with the later-arriving build")
  }

  test("watermark-buffered LOCF fills from a value arriving in a later batch") {
    import spark.implicits._
    import StreamingFeatures.{LocfEvent, LocfOut}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[LocfEvent]
    val q = StreamingFeatures.statefulLocfBuffered(mem.toDS(), "100 seconds")
      .writeStream.outputMode("append").format("memory").queryName("locf_buf").start()
    mem.addData(LocfEvent(1L, 100000000L, None, tag = 1L)) // null buffers (watermark 0)
    q.processAllAvailable()
    mem.addData(LocfEvent(1L, 50000000L, Some(3.0))) // late value, ripe with the null
    q.processAllAvailable()
    mem.addData(LocfEvent(1L, 300000000L, Some(9.0))) // advance watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("locf_buf").as[LocfOut].collect()
      .map(o => (o.ts_us, o.tag) -> o.v_filled).toMap
    assert(got((100000000L, 1L)).contains(3.0), "late value must backfill the buffered null")
  }
}

object StreamingSpec {
  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
}
