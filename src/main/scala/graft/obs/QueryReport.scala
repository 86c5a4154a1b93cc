package graft.obs

import java.nio.file.{Files, Path, Paths}

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.json4s.JsonDSL._
import org.json4s.{JNothing, JValue}
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.{Bench, SparkEntry}

/** Where each driver query's time went. Runs the named queries in the
  * bench's session shape, warm-up, order and between-query hygiene; each
  * query gets 1 cold and [[WarmReps]] warm reps of `fn(spark, sfDir).count()`
  * and one JSON line in `out`:
  *  - `rows`, `cold_s`, `warm_s`, `warm_median_s`, `warm_spread` (quartile
  *    distance over median, as `perfbench/compare.py` computes it);
  *  - `jobs` and `job_ms` (id, ms, description) of the median warm rep,
  *    from a SparkListener;
  *  - `driver_gap_s`: wall time not covered by any job (planning, codegen,
  *    commit), median over the warm reps;
  *  - `plan`: the cold rep's formatted plan, written to
  *    `<out-stem>.plans/<query>.txt`;
  *  - `cpus`, `nproc`, `sf_dir`.
  * A query that throws gets `{"query", "error"}` and the run exits 1.
  *
  * Run: `runMain graft.obs.QueryReport <queries-csv|all> [sfDir] [cpus] [out]`
  * (defaults ~/testdata/sf0.1, 4, perf/report.jsonl).
  */
object QueryReport {

  /** Warm reps per query: the minimum sample count a timing claim needs. */
  val WarmReps = 3

  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryReport <queries-csv|all> [sfDir] [cpus] [out]")
    val names = if (args(0) == "all") SparkEntry.queries.keySet else args(0).split(",").toSet
    val unknown = names -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val sfDir = args.lift(1).getOrElse(s"${sys.props("user.home")}/testdata/sf0.1")
    val cpus = args.lift(2).fold(4)(_.toInt)
    val out = Paths.get(args.lift(3).getOrElse("perf/report.jsonl"))
    val spark = Bench.session(cpus)
    val errors =
      try report(spark, SparkEntry.orderedQueries.filter(q => names(q._1)), sfDir, out)
      finally spark.stop()
    if (errors > 0) sys.exit(1)
  }

  /** Runs `queries` in order on `spark` and writes one record per query to
    * `out`; returns the number of queries that threw. */
  def report(spark: SparkSession, queries: Seq[(String, Query)], sfDir: String, out: Path): Int = {
    val plans = out.resolveSibling(out.getFileName.toString.stripSuffix(".jsonl") + ".plans")
    Files.createDirectories(plans)
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    Bench.warmUp(spark, sfDir)
    val w = Files.newBufferedWriter(out)
    try queries.count { case (name, fn) =>
      val rec =
        try measure(spark, sfDir, name, fn, log, plans.resolve(s"$name.txt"))
        catch { case NonFatal(e) => ("query" -> name) ~ ("error" -> String.valueOf(e)) }
      w.write(compact(render(rec)))
      w.newLine()
      w.flush()
      (rec \ "error") != JNothing
    } finally {
      w.close()
      spark.sparkContext.removeSparkListener(log)
    }
  }

  private final case class Job(id: Int, start: Long, end: Long, desc: String)

  /** Job start/end stamps (driver wall clock, ms) since the last `take`. */
  private final class JobLog extends SparkListener {
    private val jobs = TrieMap.empty[Int, Job]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, e.time, Long.MaxValue, desc)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.updateWith(e.jobId)(_.map(_.copy(end = e.time)))
    def take(): Seq[Job] = {
      val js = jobs.values.toSeq.sortBy(_.id)
      jobs.clear()
      js
    }
  }

  private final case class Rep(wallMs: Long, gapMs: Long, rows: Long, jobs: Seq[Job], df: DataFrame)

  /** One timed `fn(spark, sfDir).count()`, then the between-query hygiene.
    * Wall time and job stamps share one clock (the listener's
    * System.currentTimeMillis), so the gap is never negative. */
  private def rep(spark: SparkSession, sfDir: String, fn: Query, log: JobLog): Rep = {
    ListenerBridge.drain(spark.sparkContext)
    log.take()
    try {
      val t0 = System.currentTimeMillis()
      val df = fn(spark, sfDir)
      val rows = df.count()
      val t1 = System.currentTimeMillis()
      ListenerBridge.drain(spark.sparkContext)
      val jobs = log.take()
      Rep(t1 - t0, t1 - t0 - covered(jobs, t0, t1), rows, jobs, df)
    } finally SparkEntry.releaseBetweenQueries(spark, sfDir)
  }

  /** Milliseconds of [t0, t1] inside at least one job: a union, because
    * concurrent jobs would make a plain sum exceed the wall time. */
  private def covered(jobs: Seq[Job], t0: Long, t1: Long): Long =
    jobs.map(j => (math.max(j.start, t0), math.min(j.end, t1))).filter(i => i._1 < i._2)
      .sortBy(_._1)
      .foldLeft((0L, t0)) { case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
      }._1

  private def measure(
      spark: SparkSession, sfDir: String, name: String, fn: Query, log: JobLog,
      planFile: Path): JValue = {
    val cold = rep(spark, sfDir, fn, log)
    Files.writeString(
      planFile, cold.df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    val warm = Seq.fill(WarmReps)(rep(spark, sfDir, fn, log))
    val med = warm.sortBy(_.wallMs).apply(WarmReps / 2)
    val warmS = warm.map(_.wallMs / 1e3)
    ("query" -> name) ~ ("rows" -> cold.rows) ~ ("cold_s" -> cold.wallMs / 1e3) ~
      ("warm_s" -> warmS) ~ ("warm_median_s" -> med.wallMs / 1e3) ~
      ("warm_spread" -> spread(warmS)) ~ ("jobs" -> med.jobs.size) ~
      ("job_ms" -> med.jobs.map { j =>
        ("id" -> j.id) ~ ("ms" -> (if (j.end == Long.MaxValue) -1L else j.end - j.start)) ~
          ("desc" -> j.desc.take(110))
      }) ~
      ("driver_gap_s" -> warm.map(_.gapMs).sorted.apply(WarmReps / 2) / 1e3) ~
      ("plan" -> planFile.toString) ~ ("cpus" -> spark.sparkContext.defaultParallelism) ~
      ("nproc" -> Runtime.getRuntime.availableProcessors) ~ ("sf_dir" -> sfDir)
  }

  /** (q3 − q1) / median with Python's `statistics.quantiles(n=4)` default
    * (exclusive) method, the definition `perfbench/compare.py` uses. */
  private def spread(xs: Seq[Double]): Double = {
    val d = xs.sorted
    val n = d.size
    def q(i: Int): Double = {
      val j = math.min(math.max(i * (n + 1) / 4, 1), n - 1)
      val delta = i * (n + 1) - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4
    }
    val med = if (n % 2 == 1) d(n / 2) else (d(n / 2 - 1) + d(n / 2)) / 2
    (q(3) - q(1)) / med
  }
}
