package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._

/** What the listener keeps per finished task. */
final case class TaskRec(
    stageId: Int,
    runMs: Long,
    delayMs: Long,
    rowsIn: Long,
    shuffleRead: Boolean,
    shuffleWriteBytes: Long,
    spillBytes: Long)

final case class JobRec(id: Int, startMs: Long, endMs: Long, stages: Seq[Int])

/** Spark listener registered by the benchmark: job intervals and per-task
  * metrics, attributed to spans afterwards by time. */
final class Recorder extends SparkListener {
  private val started = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int])]
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (t0, stages) => jobs += JobRec(e.jobId, t0, e.time, stages) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) {
      val sr = m.shuffleReadMetrics.recordsRead
      val delay = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      val rec = TaskRec(
        e.stageId,
        m.executorRunTime,
        math.max(0L, delay),
        if (sr > 0) sr else m.inputMetrics.recordsRead,
        sr > 0,
        m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)
      synchronized { tasks += rec }
    }
  }
}

final case class Span(
    id: Int,
    parent: Int,
    name: String,
    startMs: Long,
    endMs: Long,
    gcMs: Long,
    attrs: Map[String, Double]) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder. Spans nest by call structure (the Spark driver
  * is one thread); each span later receives the listener counts of the jobs
  * that started inside it. A disabled tracer runs the body and records nothing,
  * with no listener registered. */
final class Tracer(sc: SparkContext, val runId: String, cores: Int) {
  private val rec = new Recorder
  private var listening = false
  private val raw = ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var nextId = 1
  private val extra = scala.collection.mutable.Map.empty[Int, Map[String, Double]]

  def on: Boolean = listening

  def enable(): Unit = if (!listening) { sc.addSparkListener(rec); listening = true }

  def disable(): Unit = if (listening) {
    SparkInternals.drainListeners(sc)
    sc.removeSparkListener(rec)
    listening = false
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def span[T](name: String)(body: => T): T =
    if (!listening) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val g0 = gcMs()
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        stack = stack.tail
        raw += Span(id, parent, name, t0, t1, gcMs() - g0, Map.empty)
      }
    }

  /** Attach a harness-measured value to the innermost open span. */
  def attr(key: String, value: Double): Unit =
    if (listening) stack.headOption.filter(_ != 0).foreach { id =>
      extra(id) = extra.getOrElse(id, Map.empty) + (key -> value)
    }

  /** Spans with their listener counts, in start order. */
  def spans(): Seq[Span] = {
    if (listening) SparkInternals.drainListeners(sc)
    val (jobs, tasks) = rec.synchronized((rec.jobs.toVector, rec.tasks.toVector))
    val byStage = tasks.groupBy(_.stageId)
    raw.sortBy(s => (s.startMs, s.id)).toVector.map { s =>
      s.copy(attrs = counts(s, jobs, byStage) ++ extra.getOrElse(s.id, Map.empty))
    }
  }

  private def counts(s: Span, jobs: Seq[JobRec], byStage: Map[Int, Seq[TaskRec]]): Map[String, Double] = {
    val js = jobs.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs).sortBy(_.startMs)
    val ts = js.flatMap(_.stages).distinct.flatMap(st => byStage.getOrElse(st, Nil))
    // union of the job intervals, clipped to the span
    var covered = 0L
    var reach = s.startMs
    js.foreach { j =>
      val a = math.max(j.startMs, reach)
      val b = math.min(j.endMs, s.endMs)
      if (b > a) { covered += b - a; reach = b }
    }
    val wallMs = math.max(1L, s.endMs - s.startMs)
    val taskMs = ts.map(_.runMs).sum
    // skew: the shuffle-reading stage holding the largest task
    val shuffleStages = ts.filter(_.shuffleRead).groupBy(_.stageId).values.toSeq
    val pool = if (shuffleStages.nonEmpty) shuffleStages else ts.groupBy(_.stageId).values.toSeq
    val (maxRows, skew) =
      if (pool.isEmpty) (0L, 1.0)
      else {
        val hot = pool.maxBy(_.map(_.rowsIn).max)
        val sorted = hot.map(_.rowsIn).sorted
        val med = Stats.medianL(sorted)
        (sorted.last, if (med > 0) sorted.last / med else sorted.last.toDouble.max(1.0))
      }
    Map(
      "jobs" -> js.size.toDouble,
      "driver_gap_s" -> (wallMs - covered) / 1000.0,
      "task_s" -> taskMs / 1000.0,
      "scheduler_delay_s" -> ts.map(_.delayMs).sum / 1000.0,
      "cpu_util" -> taskMs.toDouble / (wallMs.toDouble * cores),
      "spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
      "shuffle_mb" -> ts.map(_.shuffleWriteBytes).sum / 1e6,
      "max_task_rows" -> maxRows.toDouble,
      "skew_ratio" -> skew,
      "gc_s" -> s.gcMs / 1000.0)
  }

  /** Self time of each span by id: its wall minus its direct children's. */
  private def selfMs(spans: Seq[Span]): Map[Int, Long] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endMs - c.startMs).sum }
    spans.map(s => s.id -> math.max(0L, s.endMs - s.startMs - childMs.getOrElse(s.id, 0L))).toMap
  }

  /** Spans as JSON lines, with self time. */
  def jsonl(spans: Seq[Span]): Seq[String] = {
    val self = selfMs(spans)
    spans.map { s =>
      Json.obj(
        Seq(
          "run" -> Json.str(runId),
          "id" -> s.id.toString,
          "parent" -> s.parent.toString,
          "name" -> Json.str(s.name),
          "start_ms" -> s.startMs.toString,
          "end_ms" -> s.endMs.toString,
          "wall_s" -> Json.num(s.wallS),
          "self_s" -> Json.num(self(s.id) / 1000.0)) ++
          s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    }
  }

  /** Self time summed per span name. */
  def selfByName(spans: Seq[Span]): Seq[(String, Double)] = {
    val self = selfMs(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1000.0 }.toSeq.sortBy(-_._2)
  }
}
