package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.SparkSession

/** One benchmark run in this JVM: `--workload W --seed N --seconds S
  * --trace 0|1 --tmp DIR --spans FILE`. Closed loop, one client: each pass
  * starts when the previous one has finished.
  *
  * Untraced (`--trace 0`), the run sets up three times (session start +
  * input generation + parquet write; the median is `setup_s`), times the
  * cold first pass, runs warm passes at local[4] for S (at least two),
  * then checks outputs against references.
  * Traced (`--trace 1`), it sets up once, runs a traced and an untraced
  * warm pass per round for S, probes each layer in isolation (layers the
  * workload does not exercise on small companion inputs), then starts a
  * local[1] session, runs one untimed pass and times a second, and reports
  * per-layer metrics.
  *
  * Prints an `EXTRA {...}` line with the samples behind the metrics, then
  * the result line `{"correct", "attempted", "failed", "metrics"}` last. */
object Main {
  val Cores = 4
  val Setups = 3
  val MinWarm = 2

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, tmp: String, spans: String)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("tmp"),
      m.getOrElse("spans", s"${need("tmp")}/spans.jsonl"))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  /** Pass bookkeeping shared by both modes: digest agreement with the first
    * pass, attempted and failed counts. */
  final class Ledger {
    var first: Seq[(String, Digest)] = Nil
    var attempted = 0
    var failed = 0
    val problems = ArrayBuffer.empty[String]

    def pass(w: Workload, c: Ctx): Double = {
      Files2.delete(c.scratch)
      Files2.mkdirs(c.scratch)
      System.gc()
      attempted += 1
      val t0 = System.nanoTime()
      val ds = c.t.span("pass") {
        val d = w.pass(c)
        if (c.t.on) c.t.attr("staged_mb", SparkInternals.blockBytes(c.spark.sparkContext) / 1e6)
        d
      }
      val s = (System.nanoTime() - t0) / 1e9
      if (first.isEmpty) first = ds
      else if (ds != first) {
        failed += 1
        problems += s"pass $attempted digests ${ds.mkString(",")} != first ${first.mkString(",")}"
      }
      s
    }

    def check(name: String, r: => Option[String]): Unit = {
      attempted += 1
      val res = try r catch { case e: Exception => Some(s"threw $e") }
      res.foreach { p => failed += 1; problems += s"$name: $p" }
      println(s"check $name: ${res.fold("ok")("FAILED " + _)}")
    }
  }

  /** Passes until `budget` seconds have gone and at least `min` were timed. */
  private def loop(budget: Double, min: Int)(pass: => Double): Seq[Double] = {
    val out = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (out.size < min || (System.nanoTime() - t0) / 1e9 < budget) out += pass
    out.toSeq
  }

  /** Block-manager bytes left once the harness holds no references: GC,
    * then wait for the context cleaner to settle. */
  private def pinnedMb(spark: SparkSession): Double = {
    var last = -1L
    var now = SparkInternals.blockBytes(spark.sparkContext)
    var tries = 0
    while (now != last && tries < 20) {
      System.gc()
      Thread.sleep(100)
      last = now
      now = SparkInternals.blockBytes(spark.sparkContext)
      tries += 1
    }
    now / 1e6
  }

  private def metric(v: Double, unit: String) = Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))

  private def result(l: Ledger, metrics: Seq[(String, Double, String)], extra: Seq[(String, String)]): Int = {
    val correct = l.failed == 0
    l.problems.foreach(p => println(s"problem: $p"))
    println("EXTRA " + Json.obj(extra ++ Seq(
      "failed_ratio" -> Json.num(l.failed.toDouble / math.max(1, l.attempted)),
      "problems" -> Json.arr(l.problems.map(Json.str).toSeq))))
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> l.attempted.toString,
      "failed" -> l.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) => k -> metric(v, u) }))))
    if (correct) 0 else 1
  }

  def run(a: Args): Int = {
    val w = Workload(a.workload, a.seed)
    val runId = s"${a.workload}-${a.seed}-${if (a.trace) "trace" else "e2e"}"
    if (a.trace) traced(a, w, runId) else untraced(a, w, runId)
  }

  private def untraced(a: Args, w: Workload, runId: String): Int = {
    val l = new Ledger
    val scratch = s"${a.tmp}/scratch"
    var spark: SparkSession = null
    var in = ""
    var units = 0L
    val setups = (1 to Setups).map { i =>
      if (spark != null) Sessions.stop(spark)
      if (in.nonEmpty) Files2.delete(in)
      in = s"${a.tmp}/in$i"
      val t0 = System.nanoTime()
      spark = Sessions.start(Cores, a.tmp)
      units = w.generate(Ctx(spark, in, scratch, new Tracer(spark.sparkContext, runId, Cores)))
      (System.nanoTime() - t0) / 1e9
    }
    val c = Ctx(spark, in, scratch, new Tracer(spark.sparkContext, runId, Cores))
    val cold = l.pass(w, c)
    val warm = loop(a.seconds, MinWarm)(l.pass(w, c))
    val pinned = pinnedMb(spark)
    val tc = System.nanoTime()
    w.check(c).foreach { case (name, r) => l.check(name, r) }
    val checkS = (System.nanoTime() - tc) / 1e9
    Sessions.stop(spark)
    println(f"${w.name}: $units ${w.unit}; warm passes ${warm.map(x => f"$x%.3f").mkString(" ")} s; " +
      f"pinned_mb $pinned%.3f")
    val nums = (xs: Seq[Double]) => Json.arr(xs.map(Json.num))
    result(
      l,
      Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("rows_per_s", units / Stats.median(warm), "rows/s"),
        ("first_pass_s", cold, "s")),
      Seq(
        "run" -> Json.str(runId),
        "unit_rows" -> units.toString,
        "unit" -> Json.str(w.unit),
        "setup_s" -> nums(setups),
        "warm_pass_s" -> nums(warm),
        "check_s" -> Json.num(checkS),
        "pinned_mb" -> Json.num(pinned)))
  }

  private def traced(a: Args, w: Workload, runId: String): Int = {
    val l = new Ledger
    val spark = Sessions.start(Cores, a.tmp)
    val t = new Tracer(spark.sparkContext, runId, Cores)
    val c = Ctx(spark, s"${a.tmp}/in", s"${a.tmp}/scratch", t)
    t.enable()
    val units = t.span("setup")(t.span("synth.generate")(w.generate(c)))
    t.disable()
    l.pass(w, c)
    val plain = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    // traced first: the passes still speed up as the JIT warms, so this
    // order can only overstate the tracing overhead
    loop(a.seconds, 1) {
      t.enable()
      traced += l.pass(w, c)
      t.disable()
      plain += l.pass(w, c)
      plain.last + traced.last
    }
    val pinned = pinnedMb(spark)
    t.enable()
    var counted = t.span("probe")(w.probe(c.copy(scratch = s"${a.tmp}/probe"), w.layers))
    // each layer this workload does not exercise is probed once, on the
    // first companion input that has it
    var missing = Workload.layers -- w.layers
    for (comp <- Workload.companions(a.seed) if (comp.layers & missing).nonEmpty) {
      val take = comp.layers & missing
      missing --= take
      val cc = Ctx(spark, s"${a.tmp}/companion/${comp.name}/in", s"${a.tmp}/companion/${comp.name}/scratch", t)
      counted ++= t.span(s"companion.${comp.name}") {
        comp.generate(cc)
        comp.probe(cc, take)
      }
    }
    val spans = t.spans()
    t.disable()
    Sessions.stop(spark)
    // the same passes on one core: rows/s at local[4] over 4 x rows/s at
    // local[1]; the session's first pass is untimed, as at local[4]
    val one = Sessions.start(1, a.tmp)
    val single = loop(0, 2)(l.pass(w, c.copy(spark = one, t = new Tracer(one.sparkContext, runId, 1)))).drop(1)
    Sessions.stop(one)

    val out = java.nio.file.Paths.get(a.spans)
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, (t.jsonl(spans).mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"spans: ${spans.size} written to ${a.spans}")
    t.selfByName(spans).foreach { case (n, s) => println(f"self $s%9.3f s  $n") }

    def named(n: String) = spans.filter(_.name == n)
    def wall(n: String) = named(n).map(_.wallS).sum
    def attr(n: String, k: String) = named(n).map(_.attrs.getOrElse(k, 0.0)).sum
    def perPass(k: String) = Stats.median(named("pass").map(_.attrs.getOrElse(k, 0.0)))
    val rpsPlain = units / Stats.median(plain.toSeq)
    val rpsTraced = units / Stats.median(traced.toSeq)
    val m = Seq(
      ("codec.decode_s", wall("codec.imageFeaturesCol"), "s"),
      ("codec.rows_per_s", counted.getOrElse("codec.rows", 0.0) / wall("codec.imageFeaturesCol"), "rows/s"),
      ("windows.frame_windows_s", wall("windows.frameWindows"), "s"),
      ("windows.shuffle_mb", attr("windows.frameWindows", "shuffle_mb"), "MB"),
      ("windows.max_task_rows", attr("windows.frameWindows", "max_task_rows"), "rows"),
      ("windows.skew_ratio", attr("windows.frameWindows", "skew_ratio"), "ratio"),
      ("asof.join_s", wall("asof.asOf"), "s"),
      ("asof.jobs", attr("asof.asOf", "jobs"), "count"),
      ("asof.shuffle_mb", attr("asof.asOf", "shuffle_mb"), "MB"),
      ("asof.max_task_rows", attr("asof.asOf", "max_task_rows"), "rows"),
      ("asof.skew_ratio", attr("asof.asOf", "skew_ratio"), "ratio"),
      ("tumbling.second_features_s", wall("tumbling.tumblingAgg"), "s"),
      ("tumbling.shuffle_mb", attr("tumbling.tumblingAgg", "shuffle_mb"), "MB"),
      ("resume.process_pending_s", wall("resume.processPending"), "s"),
      ("resume.audit_s", wall("resume.auditReport"), "s"),
      ("resume.jobs", attr("resume.processPending", "jobs") + attr("resume.auditReport", "jobs"), "count"),
      ("resume.files_written", counted("resume.files_written"), "count"),
      ("resume.written_mb", counted("resume.written_mb"), "MB"),
      ("dedup.minhash_lsh_s", wall("dedup.minhashLsh"), "s"),
      ("dedup.ngram_jaccard_s", wall("dedup.ngramJaccard"), "s"),
      ("dedup.components_s", wall("dedup.components"), "s"),
      ("dedup.components_jobs", attr("dedup.components", "jobs"), "count"),
      ("dedup.candidate_pairs", counted("dedup.candidate_pairs"), "count"),
      ("dedup.max_block_docs", counted("dedup.max_block_docs"), "count"),
      ("dedup.verified_ratio", counted("dedup.verified_ratio"), "ratio"),
      ("sim.ann_lsh_s", wall("sim.annLsh"), "s"),
      ("sim.candidates_per_query", counted("sim.candidates_per_query"), "count"),
      ("synth.generate_s", wall("synth.generate"), "s"),
      ("spark.jobs", perPass("jobs"), "count"),
      ("spark.driver_gap_s", perPass("driver_gap_s"), "s"),
      ("spark.task_s", perPass("task_s"), "s"),
      ("spark.scheduler_delay_s", perPass("scheduler_delay_s"), "s"),
      ("spark.cpu_util", perPass("cpu_util"), "ratio"),
      ("spark.spill_mb", perPass("spill_mb"), "MB"),
      ("spark.staged_mb", perPass("staged_mb"), "MB"),
      ("spark.pinned_mb", pinned, "MB"),
      ("jvm.gc_s", perPass("gc_s"), "s"),
      ("spark.scaling_eff_1_4", Stats.median(single) / (Cores * Stats.median(plain.toSeq)), "ratio"),
      ("trace.overhead_ratio", rpsTraced / rpsPlain, "ratio"))
    result(l, m, Seq(
      "run" -> Json.str(runId),
      "unit_rows" -> units.toString,
      "untraced_pass_s" -> Json.arr(plain.toSeq.map(Json.num)),
      "traced_pass_s" -> Json.arr(traced.toSeq.map(Json.num)),
      "local1_pass_s" -> Json.arr(single.map(Json.num)),
      "spans" -> Json.str(a.spans)))
  }
}
