package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[BucketedWindows.frameWindows]] must be row-for-row identical to the
  * plain entity-window formulation (locf + lag + sessionize) — the bucketed
  * op is the SAME semantics with a different physical shape. The fixture is
  * adversarial on every carry: a hot entity far longer than the bucket
  * width, session gaps that land exactly ON bucket boundaries, sparse
  * (mostly-null) LOCF columns with whole buckets of nulls, single-row
  * entities, and an entity with ts holes spanning several buckets. */
class BucketedWindowsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val W = 8L // bucket width — small so carries are exercised a lot
  private val Gap = 3L

  private val rows: Seq[(String, Long, Option[String], Double)] = {
    def cap(e: String, t: Long): Option[String] =
      if (t % 5 == 0) Some(s"c$e-$t") else None
    val hot = (0L until 200L).filter(t => t % 7 != 0).map { t =>
      // drop every 7th ts: gaps of 1-2 inside buckets; plus two long holes
      ("hot", t, cap("hot", t), t * 0.5)
    }.filterNot { case (_, t, _, _) => (t >= 40 && t < 57) || (t >= 120 && t < 124) }
    val boundary = Seq(7L, 8L, 15L, 16L, 24L, 31L, 32L).map(t => ("edge", t, cap("edge", t), t * 1.0))
    val single = Seq(("one", 5L, Option("c-one"), 1.0))
    val allNull = (0L until 30L by 2).map(t => ("nul", t, Option.empty[String], t * 2.0))
    hot ++ boundary ++ single ++ allNull
  }

  private val df = rows.toDF("entity", "ts", "cap", "v")

  private def plain(in: DataFrame = df) = {
    val w = Window.partitionBy($"entity").orderBy($"ts")
    val filled = Backfill.locf(in, "entity", "ts", Seq("cap"))
    Sessionize
      .sessionize(filled, "entity", "ts", Gap)
      .withColumn("v_lag1", lag($"v", 1).over(w))
  }

  private def bucketed = BucketedWindows.frameWindows(
    df, "entity", "ts", W, Gap, locfCols = Seq("cap"), lagCols = Seq("v"))

  test("bucketed frameWindows == plain locf+lag+sessionize on an adversarial fixture") {
    val cols = Seq("entity", "ts", "cap", "v", "cap_filled", "v_lag1", "is_session_start", "session_id")
    val a = plain().select(cols.map(col): _*).orderBy("entity", "ts").collect().map(_.toSeq).toSeq
    val b = bucketed.select(cols.map(col): _*).orderBy("entity", "ts").collect().map(_.toSeq).toSeq
    assert(a.size == rows.size)
    assert(a == b)
  }

  test("no exchange partitions on entity alone (hot-entity safety) and row count is preserved") {
    def exchanges(df: DataFrame): Seq[(Seq[String], Long)] = {
      df.queryExecution.toRdd.count() // finalize the adaptive plan
      collect(df.queryExecution.executedPlan) { case s: ShuffleExchangeExec =>
        val keys = s.outputPartitioning match {
          case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
          case other => Seq(other.toString)
        }
        keys -> s.metrics("shuffleRecordsWritten").value
      }
    }
    // The big relation must only ever hash on (entity, bucket). That
    // exchange and the window stage sit inside the pass's staged relation,
    // so read that relation's own plan (frameWindows' parameters).
    val windowed = BucketedWindows
      .Pass("entity", "ts", W, Nil, Seq("cap"), Seq("v"), Some(Gap))
      .windowed(df)
    val inner = exchanges(windowed)
    assert(inner.map(_._1).contains(Seq("entity", "__bw_bucket")), s"expected an (entity, bucket) exchange: $inner")
    assert(inner.forall(_._1.contains("__bw_bucket")), s"an exchange of the rows without the bucket: $inner")
    // Above the staged relation, an entity-alone exchange is allowed ONLY
    // over the per-bucket summaries (the carry windows): at most one row
    // per non-empty (entity, bucket).
    val out = bucketed
    assert(out.count() == rows.size)
    val buckets = rows.map(r => (r._1, math.floorDiv(r._2, W))).distinct.size
    val outer = exchanges(out)
    val entityAlone = outer.filter(_._1 == Seq("entity"))
    assert(entityAlone.size == 1, s"expected one entity-alone exchange: $outer")
    assert(entityAlone.head._2 <= buckets,
      s"the entity-alone exchange wrote ${entityAlone.head._2} rows for $buckets (entity, bucket)s")
    assert(outer.forall(x => x._1 == Seq("entity")), s"a second exchange above the staged relation: $outer")
  }

  test("null-ts rows are kept with no carries; one-bucket entities need none") {
    val extra = Seq[(String, Option[Long], Option[String], Double)](
      ("solo", Some(3L), Some("s"), 1.0), // three rows in one bucket
      ("solo", Some(5L), None, 2.0),
      ("solo", Some(7L), None, 3.0),
      ("hot", None, Some("cx"), 9.0), // a null ts in an entity with many buckets
      ("nul", None, None, 1.0),
      ("nul", None, None, 4.0),
      ("ghost", None, Some("g"), 2.0)) // an entity with no ts at all
    val in = (rows.map(r => (r._1, Option(r._2), r._3, r._4)) ++ extra).toDF("entity", "ts", "cap", "v")
    val out = BucketedWindows.frameWindows(in, "entity", "ts", W, Gap, locfCols = Seq("cap"), lagCols = Seq("v"))
    val cols = Seq("entity", "ts", "cap", "v", "cap_filled", "v_lag1", "is_session_start", "session_id").map(col)
    def sorted(d: DataFrame) = d.select(cols: _*).orderBy("entity", "ts", "v").collect().map(_.toSeq).toSeq
    // rows with a ts: the plain formulation over those rows alone
    assert(sorted(out.where($"ts".isNotNull)) == sorted(plain(in.where($"ts".isNotNull))))
    // a null-ts row keeps its columns, fills only from its own group's
    // rows (each group here has at most one non-null cap) and takes no
    // lag, session or carry
    val nulls = sorted(out.where($"ts".isNull))
    assert(nulls == Seq(
      Seq("ghost", null, "g", 2.0, "g", null, null, null),
      Seq("hot", null, "cx", 9.0, "cx", null, null, null),
      Seq("nul", null, null, 1.0, null, null, null, null),
      Seq("nul", null, null, 4.0, null, null, null, null)))
  }
}
