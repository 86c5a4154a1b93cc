package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.SparkSpec

/** The one bucketed pass takes each bucket's summary from the bucket's last
  * row: neither `frameWindows` nor `asOf` executes an aggregate (the
  * payload-sorting `max_by(vec, ts)` / `max(struct(payload))`
  * SortAggregates), and `asOf` builds no full-outer carry timeline. Both
  * the operator's own plan and its staged windowed relation are checked. */
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

  test("frameWindows and asOf execute no aggregate and no full outer join") {
    val fw = BucketedWindows.frameWindows(events, "entity", "ts", 8L, 2L, Seq("cap"), Seq("vec"))
    val fwPass = BucketedWindows.Pass("entity", "ts", 8L, Nil, Seq("cap"), Seq("vec"), Some(2L))
    val build = events.select($"entity", $"ts", $"vec".as("f_vec"), $"cap".as("f_cap"))
    val aj = AsOfJoin.asOf(probes, build, "entity", "ts", Seq("f_vec", "f_cap"), 8L)
    val (tagged, ajPass) = AsOfJoin.tagged(probes, build, "entity", "ts", Seq("f_vec", "f_cap"), 8L)
    Seq(
      "frameWindows" -> fw,
      "frameWindows' staged relation" -> fwPass.windowed(events),
      "asOf" -> aj,
      "asOf's staged relation" -> ajPass.windowed(tagged)).foreach { case (name, df) =>
      val plan = executed(df)
      assert(offenders(plan).isEmpty, s"$name executes ${offenders(plan).mkString(", ")}:\n$plan")
    }
    assert(aj.count() == probes.count())
  }
}
