package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The one bucketed pass takes each bucket's summary from the bucket's last
  * row: none of `frameWindows`, `asOf` and `locfBucketed` executes an
  * aggregate (the payload-sorting `max_by(vec, ts)` / `max(struct(payload))`
  * SortAggregates), and `asOf` builds no full-outer carry timeline. All
  * three run as [[BucketedPassExec]], with no `WindowExec`, and publish its
  * metrics. Each operator's own plan and its staged windowed relation are
  * checked. */
class BucketedPassPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val events = (for {
    e <- Seq("hot", "cold")
    t <- 0L until (if (e == "hot") 90L else 12L) if t % 7 != 3
  } yield (e, t, if (t % 4 == 0) Some(s"c$t") else None, Seq(t.toFloat, -t.toFloat)))
    .toDF("entity", "ts", "cap", "vec")

  private val probes = Seq(("hot", 5L), ("hot", 44L), ("hot", 200L), ("cold", 11L), ("none", 3L))
    .toDF("entity", "ts")

  private def executed(df: DataFrame): SparkPlan = {
    df.queryExecution.toRdd.count() // finalize the adaptive plan
    df.queryExecution.executedPlan
  }

  private def offenders(plan: SparkPlan): Seq[String] =
    collect(plan) {
      case a: BaseAggregateExec => a.nodeName
      case j: BaseJoinExec if j.joinType == FullOuter => s"${j.nodeName} FullOuter"
    }

  private def fw = BucketedWindows.frameWindows(events, "entity", "ts", 8L, 2L, Seq("cap"), Seq("vec"))
  private val fwPass = BucketedWindows.Pass("entity", "ts", 8L, Nil, Seq("cap"), Seq("vec"), Some(2L))
  private val build = events.select($"entity", $"ts", $"vec".as("f_vec"), $"cap".as("f_cap"))
  private def aj = AsOfJoin.asOf(probes, build, "entity", "ts", Seq("f_vec", "f_cap"), 8L)
  private def lb = Backfill.locfBucketed(events, "entity", "ts", "cap", 8L)
  private val lbPass = BucketedWindows.Pass("entity", "ts", 8L, Nil, Seq("cap"), Nil, None)

  /** Fresh plans on every call: metrics accumulate over a plan's runs. */
  private def plans = {
    val (tagged, ajPass) = AsOfJoin.tagged(probes, build, "entity", "ts", Seq("f_vec", "f_cap"), 8L)
    Seq(
      "frameWindows" -> fw,
      "frameWindows' staged relation" -> fwPass.windowed(events),
      "asOf" -> aj,
      "asOf's staged relation" -> ajPass.windowed(tagged),
      "locfBucketed" -> lb,
      "locfBucketed's staged relation" -> lbPass.windowed(events))
  }

  test("frameWindows and asOf execute no aggregate and no full outer join") {
    plans.foreach { case (name, df) =>
      val plan = executed(df)
      assert(offenders(plan).isEmpty, s"$name executes ${offenders(plan).mkString(", ")}:\n$plan")
    }
    assert(aj.count() == probes.count())
  }

  test("both passes and both staged relations run BucketedPassExec, no WindowExec, and publish its metrics") {
    val execs = plans.map { case (name, df) =>
      val plan = executed(df)
      assert(collect(plan) { case w: WindowExec => w }.isEmpty, s"$name executes a WindowExec:\n$plan")
      val passes = collect(plan) { case p: BucketedPassExec => p }
      assert(passes.size == 1, s"$name executes ${passes.size} BucketedPassExecs:\n$plan")
      name -> passes.head.metrics.map { case (k, m) => k -> m.value }
    }.toMap
    // by hand from the fixture: (entity, ts) keys of each pass's input
    val frames = events.select($"entity", $"ts").as[(String, Long)].collect().toSeq
    val union = frames ++ probes.as[(String, Long)].collect()
    def rowMode(keys: Seq[(String, Long)]) = {
      val perBucket = keys.groupBy { case (e, t) => (e, math.floorDiv(t, 8L)) }.values.map(_.size)
      Map("numOutputRows" -> keys.size.toLong, "numBuckets" -> perBucket.size.toLong,
        "maxBucketRows" -> perBucket.max.toLong)
    }
    def carryIn(keys: Seq[(String, Long)]) = {
      val buckets = keys.map { case (e, t) => (e, math.floorDiv(t, 8L)) }.distinct
      Map("numOutputRows" -> buckets.size.toLong,
        "carryInRows" -> (buckets.size - buckets.map(_._1).distinct.size).toLong)
    }
    // hot: 77 frames in 12 buckets of at most 7 (one ts in 7 is missing),
    // cold: 10 frames in 2 buckets; the probes add hot's bucket 25 and a
    // one-bucket "none" entity
    assert(rowMode(frames) == Map("numOutputRows" -> 87L, "numBuckets" -> 14L, "maxBucketRows" -> 7L))
    assert(carryIn(union) == Map("numOutputRows" -> 16L, "carryInRows" -> 13L))
    assert(execs("frameWindows' staged relation") == rowMode(frames))
    assert(execs("frameWindows") == carryIn(frames))
    assert(execs("asOf's staged relation") == rowMode(union))
    assert(execs("asOf") == carryIn(union))
    assert(execs("locfBucketed's staged relation") == rowMode(frames))
    assert(execs("locfBucketed") == carryIn(frames))
  }

  test("the pass registers its strategy once, on the session that builds it") {
    val fresh = spark.newSession()
    assert(fresh.experimental.extraStrategies.isEmpty)
    val df = fresh.createDataFrame(events.collect().toSeq.asJava, events.schema)
    val out = BucketedWindows.frameWindows(df, "entity", "ts", 8L, 2L, Seq("cap"), Seq("vec"))
    assert(collect(executed(out)) { case p: BucketedPassExec => p }.nonEmpty)
    assert(out.collect().toSet == fw.collect().toSet)
    BucketedPassStrategy.register(fresh)
    BucketedPassStrategy.register(fresh)
    assert(fresh.experimental.extraStrategies == Seq(BucketedPassStrategy))
    val shown = new java.io.ByteArrayOutputStream
    Console.withOut(shown)(out.explain())
    assert(shown.toString.contains("BucketedPass"), shown.toString)
  }
}
