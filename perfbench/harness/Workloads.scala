package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.codec.ImageCodec
import graft.dedup.Dedup
import graft.feats.VecOps
import graft.ops.{AsOfJoin, BucketedWindows, Resume, Windows}
import graft.pipeline.FeaturePipeline
import graft.sim.Similarity
import graft.synth.SynthImages

/** What a workload sees during one call: the session, this setup's input
  * directory, a scratch directory it may fill, and the tracer. */
final case class Ctx(spark: SparkSession, in: String, scratch: String, t: Tracer)

trait Workload {
  def name: String
  /** What one unit row is, for `rows_per_s`. */
  def unit: String
  /** Layers (module names) one pass exercises. */
  def layers: Set[String]
  /** Writes this run's inputs under `c.in`; returns the unit row count. */
  def generate(c: Ctx): Long
  /** One pass: every output fully read; its digests by output name. */
  def pass(c: Ctx): Seq[(String, Digest)]
  /** Reference checks, once per run: (check name, None if it holds). */
  def check(c: Ctx): Seq[(String, Option[String])]
  /** Isolated calls into each of `only`, inside spans; harness-counted
    * per-layer metrics by name. */
  def probe(c: Ctx, only: Set[String]): Map[String, Double]

  protected def stage(df: DataFrame, path: String): DataFrame = {
    df.write.parquet(path)
    df.sparkSession.read.parquet(path)
  }
}

object Workload {
  val names = Seq("flagship_image", "temporal_skew", "resume_snapshot", "dedup_hotblock")
  val layers = Set("codec", "windows", "asof", "tumbling", "resume", "dedup", "sim")

  def apply(name: String, seed: Long): Workload = name match {
    case "flagship_image"  => new Flagship(seed, entities = 16, frames = 256)
    case "temporal_skew"   => new Temporal(seed, events = 50000)
    case "resume_snapshot" => new ResumeSnapshot(seed, rows = 20000)
    case "dedup_hotblock"  => new DedupHotblock(seed, nDocs = 2500)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'; known: ${names.mkString(", ")}")
  }

  /** Small inputs on which a traced run probes the layers its own
    * workload does not exercise, so every traced run reports every layer.
    * Order matters: a layer is probed on the first companion that has it,
    * so the temporal layers see skewed events rather than frames. */
  def companions(seed: Long): Seq[Workload] = Seq(
    new Temporal(seed, events = 10000),
    new Flagship(seed, entities = 2, frames = 128),
    new ResumeSnapshot(seed, rows = 2000, parts = 8),
    new DedupHotblock(seed, nDocs = 500))
}

/** Shared plain-Window references for the temporal operators. */
object Reference {
  /** Unbucketed LOCF of `locf`, lag-1 of `lag` and gap sessions, per entity. */
  def windows(df: DataFrame, locf: String, lag: String, gap: Long): DataFrame = {
    val w = Window.partitionBy(col("entity")).orderBy(col("ts"))
    val upTo = w.rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn(s"${locf}_filled", last(col(locf), ignoreNulls = true).over(upTo))
      .withColumn(s"${lag}_lag1", org.apache.spark.sql.functions.lag(col(lag), 1).over(w))
      .withColumn("__prev", org.apache.spark.sql.functions.lag(col("ts"), 1).over(w))
      .withColumn("is_session_start", when(col("__prev").isNull || col("ts") - col("__prev") > gap, 1).otherwise(0))
      .withColumn("session_id", sum(col("is_session_start")).over(upTo))
      .drop("__prev")
  }

  /** Brute-force as-of: for each probe the latest build row at or before it. */
  def asOf(probes: DataFrame, build: DataFrame, payload: Seq[String]): DataFrame = {
    val b = build.select((col("entity").as("__e") +: col("ts").as("__ts") +: payload.map(col)): _*)
    probes
      .join(b, col("entity") === col("__e") && col("__ts") <= col("ts"), "left")
      .groupBy(probes.columns.map(col): _*)
      .agg(max_by(struct((col("__ts").as("src") +: payload.map(col)): _*), col("__ts")).as("__m"))
      .select((probes.columns.map(col) ++ (col("__m.src").as(AsOfJoin.SrcTs) +: payload.map(p => col(s"__m.$p")))): _*)
  }

  /** Brute-force tumbling mean of an array column per (entity, ts / size). */
  def tumblingMean(df: DataFrame, vec: String, size: Long, out: String, id: String): DataFrame = {
    val g = df.select(col("entity"), floor(col("ts") / size).as(id), posexplode(col(vec).cast("array<double>")).as(Seq("__i", "__x")))
    val n = df.groupBy(col("entity"), floor(col("ts") / size).as(id)).agg(count(lit(1)).as("win_n"))
    g.groupBy("entity", id, "__i").agg(avg("__x").as("__m"))
      .groupBy("entity", id).agg(sort_array(collect_list(struct(col("__i"), col("__m")))).as("__ms"))
      .join(n, Seq("entity", id))
      .select(col("entity"), col(id), col("win_n"), transform(col("__ms"), m => m.getField("__m")).as(out))
  }

  /** Every as-of output row's source timestamp is at or before its probe's. */
  def noLeak(out: DataFrame): Option[String] = {
    val bad = out.where(col(AsOfJoin.SrcTs) > col("ts")).count()
    if (bad == 0) None else Some(s"$bad rows with ${AsOfJoin.SrcTs} > ts")
  }
}

/** Synthetic 64×64 png/jpg image+caption frames through the flagship
  * decode → window → as-of pipeline. The seed picks the entity-id range
  * fed to the program's deterministic frame renderer. */
final class Flagship(seed: Long, entities: Int, frames: Int, probesPer: Int = 64) extends Workload {
  val name = "flagship_image"
  val unit = "frame feature rows"
  val layers = Set("codec", "windows", "asof", "tumbling")
  private val base = (Rng.mix(seed, 11L) % (10000 - entities)).toInt

  def generate(c: Ctx): Long = {
    import c.spark.implicits._
    val (b, fr, pp, sd) = (base, frames, probesPer, seed)
    c.spark
      .range(0L, entities.toLong * fr, 1L, 8)
      .mapPartitions(_.flatMap { id =>
        val e = b + (id / fr).toInt
        val ts = id % fr
        if (SynthImages.framePresent(e, ts, fr)) Iterator.single(SynthImages.rowOf(e, ts)) else Iterator.empty
      })
      .toDF()
      .write
      .parquet(s"${c.in}/images")
    c.spark
      .range(0L, entities.toLong * pp, 1L, 4)
      .map { id =>
        val e = b + (id / pp).toInt
        val i = id % pp
        (id, f"e$e%04d", if (i == 0) -1L else Rng.mix(sd, e.toLong, i, 71L) % (fr + 32L))
      }
      .toDF("pid", "entity", "ts")
      .write
      .parquet(s"${c.in}/probes")
    frameCount
  }

  /** Frames the renderer emits for this run's entities: the unit row count. */
  private def frameCount: Long =
    (0 until entities).map(e => (0 until frames).count(ts => SynthImages.framePresent(base + e, ts.toLong, frames))).sum.toLong

  private def read(c: Ctx) = (c.spark.read.parquet(s"${c.in}/images"), c.spark.read.parquet(s"${c.in}/probes"))

  def pass(c: Ctx): Seq[(String, Digest)] = {
    val (images, probes) = read(c)
    val ff = c.t.span("pipeline.frameFeatures")(FeaturePipeline.frameFeatures(images))
    val sec = c.t.span("pipeline.secondFeatures")(FeaturePipeline.secondFeatures(ff, Windows.CeilTail))
    val pf = c.t.span("pipeline.probeFeatures")(FeaturePipeline.probeFeatures(ff, probes))
    c.t.span("consume")(Digest.ofAll(Seq("frames" -> ff, "seconds" -> sec, "probes" -> pf)))
  }

  def check(c: Ctx): Seq[(String, Option[String])] = {
    val (images, probes) = read(c)
    // the program's frame features, materialized once for every comparison
    val ff = FeaturePipeline.frameFeatures(images).localCheckpoint()
    val slice = Seq(f"e$base%04d", f"e${base + entities - 1}%04d")
    val inSlice = col("entity").isin(slice: _*)
    val got = ff.where(inSlice).select("entity", "ts", "caption_filled", "is_session_start", "session_id", "vec", "vec_delta")
    // the reference re-derives (entity, ts, caption) from the raw table and
    // takes the decoded vector from the pipeline: the codec is not on trial.
    // A left join, so a frame the pipeline dropped shows as a null vector.
    val frames = images
      .select(
        substring_index(col("image_id"), "/", 1).as("entity"),
        substring_index(col("image_id"), "_", -1).cast("long").as("ts"),
        regexp_replace(col("caption"), "#C C", "actor").as("caption"))
      .where(inSlice)
      .join(got.select("entity", "ts", "vec"), Seq("entity", "ts"), "left")
    val want = Reference.windows(frames, "caption", "vec", FeaturePipeline.SessionGapFrames)
      .select(
        col("entity"), col("ts"), col("caption_filled"), col("is_session_start"), col("session_id"), col("vec"),
        zip_with(col("vec").cast("array<double>"), coalesce(col("vec_lag1"), col("vec")).cast("array<double>"), (a, b) => a - b)
          .as("vec_delta"))
    val feats = got.select(col("entity"), col("ts"), col("vec"), col("caption_filled"), col("session_id"))
    val pf = FeaturePipeline.probeFeatures(ff, probes).localCheckpoint()
    val asOfWant = Reference.asOf(
      probes.where(inSlice),
      feats.select(col("entity"), col("ts"), col("vec").as("f_vec"), col("caption_filled").as("f_caption"),
        col("session_id").as("f_session")),
      Seq("f_vec", "f_caption", "f_session"))
    val sec = FeaturePipeline.secondFeatures(ff, Windows.CeilTail)
    val ffRows = ff.count()
    Seq(
      "frame_rows_vs_generated" -> (if (ffRows == frameCount) None else Some(s"$ffRows frame rows, $frameCount generated")),
      "windows_vs_plain_window" -> Compare.rows(got.collect().toSeq, want.collect().toSeq, 2),
      "asof_vs_brute_force" -> Compare.rows(
        pf.where(inSlice).select(asOfWant.columns.map(col): _*).collect().toSeq, asOfWant.collect().toSeq, 1),
      "tumbling_vs_brute_force" -> Compare.rows(
        sec.where(inSlice).select("entity", "sec", "win_n", "sec_vec").collect().toSeq,
        Reference.tumblingMean(feats, "vec", SynthImages.Fps.toLong, "sec_vec", "sec").collect().toSeq, 2, 1e-9),
      "asof_no_leak" -> Reference.noLeak(pf))
  }

  def probe(c: Ctx, only: Set[String]): Map[String, Double] = {
    val (images, probes) = read(c)
    var m = Map.empty[String, Double]
    if (only("codec")) {
      val d = c.t.span("codec.imageFeaturesCol")(
        Digest.of(images.select(col("image_id"), ImageCodec.imageFeaturesCol(col("bytes"), FeaturePipeline.ResizeTo, FeaturePipeline.CropTo))))
      m += "codec.rows" -> d.rows.toDouble
    }
    if (only("windows")) {
      val decoded = c.t.span("stage.decoded")(stage(
        SynthImages.withEntityTs(images)
          .withColumn("vec", ImageCodec.imageFeaturesCol(col("bytes"), FeaturePipeline.ResizeTo, FeaturePipeline.CropTo))
          .withColumn("caption_rw", regexp_replace(col("caption"), "#C C", "actor"))
          .drop("bytes"),
        s"${c.scratch}/decoded"))
      c.t.span("windows.frameWindows")(Digest.of(BucketedWindows.frameWindows(
        decoded, "entity", "ts", FeaturePipeline.WindowBucketFrames, FeaturePipeline.SessionGapFrames,
        locfCols = Seq("caption_rw"), lagCols = Seq("vec"))))
    }
    if (only("asof") || only("tumbling")) {
      val ff = c.t.span("stage.frameFeatures")(stage(FeaturePipeline.frameFeatures(images), s"${c.scratch}/ff"))
      if (only("asof")) c.t.span("asof.asOf")(Digest.of(FeaturePipeline.probeFeatures(ff, probes)))
      if (only("tumbling")) c.t.span("tumbling.tumblingAgg")(Digest.of(FeaturePipeline.secondFeatures(ff, Windows.CeilTail)))
    }
    m
  }
}

/** Generated events (entity, ts, nullable caption, 8-float vec) with Zipf
  * entity heat and deterministic per-entity gaps, plus as-of probes that
  * follow the same heat. */
final class Temporal(seed: Long, events: Int, entities: Int = 64) extends Workload {
  val name = "temporal_skew"
  val unit = "event rows"
  val layers = Set("windows", "asof", "tumbling")
  val BucketWidth = 256L
  val SessionGap = 8L
  val TumbleSize = 30L

  /** Rows per entity: Zipf(1.1) over a seeded ranking of the entities. */
  private val offsets: Array[Long] = {
    val rank = (0 until entities).sortBy(e => Rng.mix(seed, e.toLong, 5L)).zipWithIndex.toMap
    val w = (0 until entities).map(e => 1.0 / math.pow(rank(e) + 1.0, 1.1))
    val counts = w.map(x => math.max(1L, (x / w.sum * events).toLong)).toArray
    counts(rank.minBy(_._2)._1) += events - counts.sum
    counts.scanLeft(0L)(_ + _)
  }
  private val hot: Int = (0 until entities).maxBy(e => offsets(e + 1) - offsets(e))

  private def entityName(e: Int) = f"u$e%03d"

  def generate(c: Ctx): Long = {
    import c.spark.implicits._
    import Temporal.{locate, tsOf}
    val (off, sd, n) = (offsets, seed, events.toLong)
    c.spark
      .range(0L, n, 1L, 8)
      .map { id =>
        val (e, i) = locate(off, id)
        val cap = if (Rng.mix(sd, id, 3L) % 5L == 0L) s"c${Rng.mix(sd, id, 4L) % 50L}" else null
        val vec = Array.tabulate(8)(k => (Rng.unit(sd, id, 10L + k) * 2.0 - 1.0).toFloat)
        (f"u$e%03d", tsOf(sd, e, i), cap, vec)
      }
      .toDF("entity", "ts", "caption", "vec")
      .write
      .parquet(s"${c.in}/events")
    c.spark
      .range(0L, n / 10, 1L, 4)
      .map { id =>
        val (e, i) = locate(off, Rng.mix(sd, id, 21L) % n)
        (id, f"u$e%03d", tsOf(sd, e, i) + Rng.mix(sd, id, 22L) % 41L - 20L)
      }
      .toDF("pid", "entity", "ts")
      .write
      .parquet(s"${c.in}/probes")
    n
  }

  private def read(c: Ctx) = (c.spark.read.parquet(s"${c.in}/events"), c.spark.read.parquet(s"${c.in}/probes"))

  private def frameWindows(ev: DataFrame) =
    BucketedWindows.frameWindows(ev, "entity", "ts", BucketWidth, SessionGap, locfCols = Seq("caption"), lagCols = Seq("vec"))
  private def tumbling(ev: DataFrame) =
    Windows.tumblingAgg(
      ev.withColumn("dvec", col("vec").cast("array<double>")), "entity", "ts", TumbleSize, Windows.CeilTail,
      Seq(VecOps.vecAvg(col("dvec")).as("avg_vec")))
  private def asOf(ev: DataFrame, probes: DataFrame) =
    AsOfJoin.asOf(
      probes, ev.select(col("entity"), col("ts"), col("vec").as("f_vec"), col("caption").as("f_caption")),
      "entity", "ts", Seq("f_vec", "f_caption"), BucketWidth)

  def pass(c: Ctx): Seq[(String, Digest)] = {
    val (ev, probes) = read(c)
    val fw = c.t.span("ops.frameWindows")(frameWindows(ev))
    val tum = c.t.span("ops.tumblingAgg")(tumbling(ev))
    val aj = c.t.span("ops.asOf")(asOf(ev, probes))
    c.t.span("consume")(Digest.ofAll(Seq("windows" -> fw, "tumbling" -> tum, "asof" -> aj)))
  }

  def check(c: Ctx): Seq[(String, Option[String])] = {
    val (ev, probes) = read(c)
    val slice = Seq(entityName(hot), entityName((hot + 1) % entities), entityName((hot + 7) % entities))
    val inSlice = col("entity").isin(slice: _*)
    val cols = Seq("entity", "ts", "caption_filled", "vec_lag1", "is_session_start", "session_id")
    val evs = ev.where(inSlice)
    // a hot entity makes the brute-force as-of quadratic: check every 20th probe
    val ps = probes.where(inSlice && col("pid") % 20 === 0)
    val build = evs.select(col("entity"), col("ts"), col("vec").as("f_vec"), col("caption").as("f_caption"))
    val aj = asOf(ev, probes)
    val asOfWant = Reference.asOf(ps, build, Seq("f_vec", "f_caption"))
    Seq(
      "windows_vs_plain_window" -> Compare.rows(
        frameWindows(ev).where(inSlice).select(cols.map(col): _*).collect().toSeq,
        Reference.windows(evs, "caption", "vec", SessionGap).select(cols.map(col): _*).collect().toSeq, 2),
      "asof_vs_brute_force" -> Compare.rows(
        aj.where(inSlice && col("pid") % 20 === 0).select(asOfWant.columns.map(col): _*).collect().toSeq,
        asOfWant.collect().toSeq, 1),
      "tumbling_vs_brute_force" -> Compare.rows(
        tumbling(ev).where(inSlice).select("entity", "win_id", "win_n", "avg_vec").collect().toSeq,
        Reference.tumblingMean(evs, "vec", TumbleSize, "avg_vec", "win_id").collect().toSeq, 2, 1e-9),
      "asof_no_leak" -> Reference.noLeak(aj))
  }

  def probe(c: Ctx, only: Set[String]): Map[String, Double] = {
    val (ev, probes) = read(c)
    if (only("windows")) c.t.span("windows.frameWindows")(Digest.of(frameWindows(ev)))
    if (only("asof")) c.t.span("asof.asOf")(Digest.of(asOf(ev, probes)))
    if (only("tumbling")) c.t.span("tumbling.tumblingAgg")(Digest.of(tumbling(ev)))
    Map.empty
  }
}

object Temporal {
  /** (entity, index within entity) of global row `id`. */
  def locate(offsets: Array[Long], id: Long): (Int, Long) = {
    val k = java.util.Arrays.binarySearch(offsets, id)
    val e = if (k >= 0) k else -k - 2
    (e, id - offsets(e))
  }

  /** Timestamp of an entity's i-th event: unit steps with a seeded gap
    * after every `period` events. */
  def tsOf(seed: Long, e: Int, i: Long): Long = {
    val period = 64L + Rng.mix(seed, e.toLong, 6L) % 64L
    val gapLen = 12L + Rng.mix(seed, e.toLong, 7L) % 20L
    Rng.mix(seed, e.toLong, 8L) % 1000L + i + (i / period) * gapLen
  }
}

/** Entity-partitioned feature rows, ~40 partitions with one hot, committed
  * through the resumable writer: a capped (crashed) call, the completing
  * call, then the audit. */
final class ResumeSnapshot(seed: Long, rows: Int, parts: Int = 40) extends Workload {
  val name = "resume_snapshot"
  val unit = "committed rows"
  val layers = Set("resume")
  private var passNo = 0

  def generate(c: Ctx): Long = {
    import c.spark.implicits._
    val (sd, p, n) = (seed, parts, rows.toLong)
    val hot = (Rng.mix(sd, 3L) % p).toInt
    val hotRows = n / 4
    c.spark
      .range(0L, n, 1L, 8)
      .map { id =>
        val e = if (id < hotRows) hot else ((id - hotRows) % (p - 1)).toInt match { case k if k >= hot => k + 1; case k => k }
        (f"p$e%02d", id, Array.tabulate(8)(k => (Rng.unit(sd, id, 30L + k) * 2.0 - 1.0).toFloat))
      }
      .toDF("entity", "ts", "vec")
      .write
      .parquet(s"${c.in}/features")
    n
  }

  private def out(c: Ctx) = s"${c.scratch}/resume_$passNo"

  def pass(c: Ctx): Seq[(String, Digest)] = {
    passNo += 1
    val o = out(c)
    val feats = c.spark.read.parquet(s"${c.in}/features")
    val n1 = c.t.span("consume.processPending.crashed")(
      Resume.processPending(c.spark, feats, "entity", "ts", "vec", o, 1L, maxPartitions = parts / 2))
    val n2 = c.t.span("consume.processPending.resumed")(
      Resume.processPending(c.spark, feats, "entity", "ts", "vec", o, 2L))
    Seq(
      "partitions" -> Digest(n1, n2),
      "committed" -> c.t.span("consume.committed")(Digest.of(c.spark.read.parquet(s"$o/data").select("entity", "ts", "vec"))),
      "audit" -> c.t.span("consume.audit")(Digest.of(Resume.auditReport(c.spark, o, "entity", "ts", "vec"))))
  }

  def check(c: Ctx): Seq[(String, Option[String])] = {
    val o = out(c)
    val input = c.spark.read.parquet(s"${c.in}/features").groupBy(col("entity").as("partition")).agg(count(lit(1)).as("n"))
    val manifest = c.spark.read.parquet(s"$o/_manifest").groupBy("partition").agg(sum("rowCount").as("n"))
    val data = c.spark.read.parquet(s"$o/data").groupBy(col("entity").as("partition")).agg(count(lit(1)).as("n"))
    val audit = Resume.auditReport(c.spark, o, "entity", "ts", "vec")
    val inRows = input.collect().toSeq
    val bad = audit.where(!col("audit_ok")).count()
    Seq(
      "manifest_vs_input" -> Compare.rows(manifest.collect().toSeq, inRows, 1),
      "data_recount_vs_input" -> Compare.rows(data.collect().toSeq, inRows, 1),
      "audit_all_ok" -> (if (bad == 0) None else Some(s"$bad partitions fail the audit")))
  }

  def probe(c: Ctx, only: Set[String]): Map[String, Double] = {
    if (!only("resume")) return Map.empty
    val feats = c.spark.read.parquet(s"${c.in}/features")
    val o = s"${c.scratch}/resume_probe"
    c.t.span("resume.processPending")(
      Resume.processPending(c.spark, feats, "entity", "ts", "vec", o, 1L, maxPartitions = parts / 2))
    c.t.span("resume.processPending")(Resume.processPending(c.spark, feats, "entity", "ts", "vec", o, 2L))
    c.t.span("resume.auditReport")(Digest.of(Resume.auditReport(c.spark, o, "entity", "ts", "vec")))
    val (files, bytes) = Files2.dataFiles(o)
    Map("resume.files_written" -> files.toDouble, "resume.written_mb" -> bytes / 1e6)
  }
}

/** Captions in near-duplicate clusters, a boilerplate phrase on a hot
  * fifth of them, and seeded embeddings that follow the clusters. */
final class DedupHotblock(seed: Long, nDocs: Int) extends Workload {
  val name = "dedup_hotblock"
  val unit = "documents"
  val layers = Set("dedup", "sim")
  val Tau = 0.5
  val MaxDf = 100L
  val K = 5
  val QueryEvery = 16

  private val boilerplate = "terms and conditions apply see the site for full details"

  def generate(c: Ctx): Long = {
    import c.spark.implicits._
    val (sd, n, bp) = (seed, nDocs.toLong, boilerplate)
    c.spark
      .range(0L, n, 1L, 8)
      .map { id =>
        val d: Long = id
        // the first half sits in clusters of four near-duplicates
        val (cluster, member) = if (d < n / 2) (d / 4, d % 4) else (d, 0L)
        val words = Array.tabulate(24)(j => s"w${Rng.mix(sd, cluster, j.toLong, 1L) % 5000L}")
        if (member > 0) words((Rng.mix(sd, cluster, member, 2L) % 24L).toInt) = s"w${Rng.mix(sd, cluster, member, 3L) % 5000L}"
        val text = words.mkString(" ") + (if (Rng.unit(sd, d, 4L) < 0.2) " " + bp else "")
        val emb = Array.tabulate(16)(k =>
          (Rng.unit(sd, cluster, k.toLong, 5L) * 2.0 - 1.0 + 0.05 * (Rng.unit(sd, d, k.toLong, 6L) * 2.0 - 1.0)).toFloat)
        (d, text, emb)
      }
      .toDF("doc_id", "text", "emb")
      .write
      .parquet(s"${c.in}/docs")
    n
  }

  private def read(c: Ctx) = c.spark.read.parquet(s"${c.in}/docs")
  private def queries(docs: DataFrame) = docs.where(col("doc_id") % QueryEvery === 0)
  private def ann(docs: DataFrame) = Similarity.annLsh(docs, queries(docs), "doc_id", "emb", "doc_id", "emb", K)
  private def ngram(docs: DataFrame) = Dedup.ngramJaccard(docs, "doc_id", "text", tau = Tau, maxDf = MaxDf)
  private def minhash(docs: DataFrame) = Dedup.minhashLsh(docs, "doc_id", "text", tau = Tau)

  def pass(c: Ctx): Seq[(String, Digest)] = {
    val docs = read(c)
    val mh = c.t.span("dedup.build.minhashLsh")(minhash(docs))
    val ng = c.t.span("dedup.build.ngramJaccard")(ngram(docs))
    val comp = c.t.span("dedup.build.components")(Dedup.components(ng, "doc_a", "doc_b"))
    val nn = c.t.span("sim.build.annLsh")(ann(docs))
    c.t.span("consume")(Digest.ofAll(Seq("minhash" -> mh, "ngram" -> ng, "components" -> comp, "ann" -> nn)))
  }

  /** Word 3-gram shingles, as the documents define them: trimmed, lower-cased, split on whitespace. */
  private def shingles(text: String): Set[String] = {
    val tk = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    tk.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
  }
  private def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size

  def check(c: Ctx): Seq[(String, Option[String])] = {
    val docs = read(c)
    val ng = ngram(docs).localCheckpoint()
    val text = docs.select("doc_id", "text").collect().map(r => r.getLong(0) -> shingles(r.getString(1))).toMap
    val emb = docs.select("doc_id", "emb").collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def pairsOk(df: DataFrame, what: String): Option[String] = {
      val ps = df.collect().toSeq
      val sample = ps.sortBy(r => Rng.mix(seed, r.getLong(0), r.getLong(1))).take(300)
      if (ps.isEmpty) Some(s"$what emitted no pairs")
      else sample.collectFirst {
        case r if {
              val j = jaccard(text(r.getLong(0)), text(r.getLong(1)))
              j < Tau || math.abs(BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble - r.getDouble(2)) > 1e-9
            } => s"$what pair (${r.getLong(0)}, ${r.getLong(1)}) reports ${r.getDouble(2)}, brute force ${jaccard(text(r.getLong(0)), text(r.getLong(1)))}"
      }
    }
    val ngPairs = ng.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall: a near-duplicate pair above tau that shares a shingle below
    // the document-frequency guard must be found
    val df = text.values.toSeq.flatten.groupBy(identity).map { case (s, xs) => s -> xs.size }
    val missed = (0L until nDocs.toLong / 2 by 4).flatMap(b => for (i <- 0L until 4L; j <- i + 1 until 4L) yield (b + i, b + j))
      .filter { case (a, b) =>
        jaccard(text(a), text(b)) >= Tau && (text(a) intersect text(b)).exists(s => df(s) <= MaxDf)
      }
      .filterNot(ngPairs)
    // components: union-find over the same pairs
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    ngPairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val compWant = parent.keys.toSeq.map(v => Row(v, find(v)))
    val compGot = Dedup.components(ng, "doc_a", "doc_b").select("doc_id", "comp").collect().toSeq
    // ANN: reported cosines are the true cosines, ranked
    val nn = ann(docs).collect().toSeq
    def cos(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    val annBad = nn.collectFirst {
      case r if math.abs(cos(emb(r.getLong(0)), emb(r.getLong(2))) - r.getDouble(3)) > 1e-4 =>
        s"ann (${r.getLong(0)}, ${r.getLong(2)}) reports ${r.getDouble(3)}"
    }.orElse(nn.groupBy(_.getLong(0)).collectFirst {
      case (q, rs) if rs.sortBy(_.getInt(1)).map(_.getDouble(3)) != rs.map(_.getDouble(3)).sorted.reverse =>
        s"ann query $q ranks out of order"
    })
    Seq(
      "ngram_jaccard_vs_brute_force" -> pairsOk(ng, "ngramJaccard"),
      "minhash_jaccard_vs_brute_force" -> pairsOk(minhash(docs), "minhashLsh"),
      "ngram_recall" -> missed.headOption.map(p => s"${missed.size} near-duplicate pairs missed, e.g. $p"),
      "components_vs_union_find" -> Compare.rows(compGot, compWant, 1),
      "ann_cosine_vs_brute_force" -> annBad)
  }

  def probe(c: Ctx, only: Set[String]): Map[String, Double] = {
    val docs = read(c)
    var m = Map.empty[String, Double]
    if (only("dedup")) {
      val emitted = c.t.span("dedup.minhashLsh")(Digest.of(minhash(docs))).rows
      val pairs = c.t.span("stage.ngramPairs")(stage(ngram(docs), s"${c.scratch}/pairs"))
      c.t.span("dedup.ngramJaccard")(Digest.of(ngram(docs)))
      c.t.span("dedup.components")(Digest.of(Dedup.components(pairs, "doc_a", "doc_b")))
      // blocking statistics, counted by the harness from the public signature functions
      val (cand, maxBlock) = c.t.span("count.blocks") {
        val bands = Dedup.minhashSigDf(docs, "doc_id", "text", 3, 16)
          .select(col("doc"), posexplode(Dedup.lshBands(col("sig"), 4, 4)).as(Seq("b", "h")))
          .localCheckpoint()
        val cand = bands.select(col("doc").as("a"), col("b"), col("h"))
          .join(bands.select(col("doc").as("x"), col("b"), col("h")), Seq("b", "h"))
          .where(col("a") < col("x")).select("a", "x").distinct().count()
        val bandMax = bands.groupBy("b", "h").count().agg(max("count")).head().getLong(0)
        val dfMax = Dedup.shingleDf(docs, "doc_id", "text", 3).select(explode(col("sh")).as("s"))
          .groupBy("s").count().agg(max("count")).head().getLong(0)
        bands.rdd.unpersist(blocking = true)
        (cand, math.max(bandMax, dfMax))
      }
      m ++= Map(
        "dedup.candidate_pairs" -> cand.toDouble,
        "dedup.max_block_docs" -> maxBlock.toDouble,
        "dedup.verified_ratio" -> (if (cand > 0) emitted.toDouble / cand else 0.0))
    }
    if (only("sim")) {
      c.t.span("sim.annLsh")(Digest.of(ann(docs)))
      val cands = c.t.span("count.annCandidates") {
        val buckets = (id: String, v: String) =>
          docs.select(col(id), posexplode(Similarity.lshBuckets(col(v).cast("array<double>"))).as(Seq("tbl", "sig")))
        val q = queries(docs).select(col("doc_id").as("q"), posexplode(Similarity.lshBuckets(col("emb").cast("array<double>"))).as(Seq("tbl", "sig")))
        val all = buckets("doc_id", "emb")
        val n = q.join(all, Seq("tbl", "sig")).where(col("q") =!= col("doc_id")).select("q", "doc_id").distinct().count()
        n.toDouble / queries(docs).count()
      }
      m += "sim.candidates_per_query" -> cands
    }
    m
  }
}
