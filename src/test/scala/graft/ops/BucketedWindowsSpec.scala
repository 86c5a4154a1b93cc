package graft.ops

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
class BucketedWindowsSpec extends SparkSpec {
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

  private def plain = {
    val w = Window.partitionBy($"entity").orderBy($"ts")
    val filled = Backfill.locf(df, "entity", "ts", Seq("cap"))
    Sessionize
      .sessionize(filled, "entity", "ts", Gap)
      .withColumn("v_lag1", lag($"v", 1).over(w))
  }

  private def bucketed = BucketedWindows.frameWindows(
    df, "entity", "ts", W, Gap, locfCols = Seq("cap"), lagCols = Seq("v"))

  test("bucketed frameWindows == plain locf+lag+sessionize on an adversarial fixture") {
    val cols = Seq("entity", "ts", "cap", "v", "cap_filled", "v_lag1", "is_session_start", "session_id")
    val a = plain.select(cols.map(col): _*).orderBy("entity", "ts").collect().map(_.toSeq).toSeq
    val b = bucketed.select(cols.map(col): _*).orderBy("entity", "ts").collect().map(_.toSeq).toSeq
    assert(a.size == rows.size)
    assert(a == b)
  }

  test("no exchange partitions on entity alone (hot-entity safety) and row count is preserved") {
    val out = bucketed
    assert(out.count() == rows.size)
    out.queryExecution.toRdd.count() // finalize the adaptive plan
    val plan = out.queryExecution.executedPlan.toString
    // The big relation must only ever hash on (entity, bucket); an
    // entity-alone exchange is allowed ONLY over the tiny per-bucket
    // summary (the carry windows). Structural check: every
    // `hashpartitioning(entity, N)` exchange's direct child (the next plan
    // line) must be the per-(entity, __bw_bucket) aggregate — never a
    // raw-data node.
    val lines = plan.linesIterator.toVector
    val entityOnlyIdx = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Exchange hashpartitioning(entity#") && !l.contains("__bw_bucket") => i
    }
    val withBucket = "hashpartitioning\\(entity#\\d+, __bw_bucket".r.findAllIn(plan).size
    assert(withBucket >= 1, s"expected an (entity, bucket) exchange:\n$plan")
    entityOnlyIdx.foreach { i =>
      val child = lines.lift(i + 1).getOrElse("")
      assert(
        child.contains("Aggregate(key=[entity#") && child.contains("__bw_bucket"),
        s"entity-alone exchange over a non-summary relation:\n${lines(i)}\n$child")
    }
  }
}
