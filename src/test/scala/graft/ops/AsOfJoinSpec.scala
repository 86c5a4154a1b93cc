package graft.ops

import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** As-of join vs a brute-force O(n·m) reference on deterministic
  * pseudo-random inputs, plus the north-rule leakage audit. */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  // deterministic splittable "random" without java.util.Random state
  private def h(a: Long, b: Long): Long = {
    var x = a * 0x9e3779b97f4a7c15L + b
    x ^= x >>> 32; x *= 0xbf58476d1ce4e5b9L; x ^= x >>> 29
    math.abs(x)
  }

  // entities with very different densities (skew) + duplicate build ts
  private val buildRows: Seq[(String, Long, Double)] =
    for {
      e <- 0 until 7
      i <- 0 until (if (e == 0) 400 else 30) // e0 = hot entity
    } yield (s"e$e", h(e, i) % 1000, (h(e, i * 31) % 997).toDouble / 10)

  private val probeRows: Seq[(String, Long)] =
    (for {
      e <- 0 until 8 // e7 has probes but no build rows
      i <- 0 until 50
    } yield (s"e$e", h(e + 100, i) % 1100)) ++ Seq(("e0", -5L)) // before-first

  private def expected: Map[(String, Long, Int), Option[(Long, Double)]] = {
    // dedupe build per (entity, ts) by max value — the operator's contract
    val dedup = buildRows.groupBy(r => (r._1, r._2)).map { case ((e, t), rs) =>
      (e, t, rs.map(_._3).max)
    }.toSeq
    probeRows.zipWithIndex.map { case ((e, ts), i) =>
      val cands = dedup.filter(b => b._1 == e && b._2 <= ts)
      val best = if (cands.isEmpty) None else {
        val m = cands.maxBy(b => (b._2, b._3))
        Some((m._2, m._3))
      }
      (e, ts, i) -> best
    }.toMap
  }

  test("asOf (window variant) matches brute force + zero leakage") {
    val build = buildRows.toDF("entity", "ts", "v")
    val probes = probeRows.zipWithIndex.map { case ((e, t), i) => (e, t, i) }
      .toDF("entity", "ts", "probe_id")
    val out = AsOfJoin.asOf(probes, build, "entity", "ts", Seq("v"), bucketWidth = 100L)
    val got = out
      .select($"entity", $"ts", $"probe_id", col(AsOfJoin.SrcTs), $"v")
      .collect()
      .map(r =>
        (r.getString(0), r.getLong(1), r.getInt(2)) ->
          (if (r.isNullAt(3)) None else Some((r.getLong(3), r.getDouble(4)))))
      .toMap
    val want = expected
    assert(got.size == want.size, s"row count ${got.size} != ${want.size}")
    want.foreach { case (k, v) =>
      assert(got(k) == v, s"mismatch at $k: got ${got(k)}, want $v")
    }
    // leakage audit: no match may come from the future (north rule)
    val leaks = out.where(col(AsOfJoin.SrcTs) > col("ts")).count()
    assert(leaks == 0L, s"$leaks temporal leaks")
  }

  test("asOf emits asof_src_ts with the ts column's own type (int ts)") {
    val build = Seq(("e0", 1, 1.0), ("e0", 5, 5.0)).toDF("entity", "ts", "v")
    val probes = Seq(("e0", 3, 0), ("e0", 9, 1)).toDF("entity", "ts", "probe_id")
    val out = AsOfJoin.asOf(probes, build, "entity", "ts", Seq("v"), 4L)
    assert(out.schema(AsOfJoin.SrcTs).dataType == org.apache.spark.sql.types.IntegerType)
    val got = out.orderBy("ts").collect().map(r => (r.getInt(1), r.getInt(3), r.getDouble(4)))
    assert(got.toSeq == Seq((3, 1, 1.0), (9, 5, 5.0)))
  }

  test("asOfWithin: tolerance bound is inclusive; stale matches null out") {
    val build = Seq(("e0", 10L, 1.0), ("e0", 100L, 2.0)).toDF("entity", "ts", "v")
    val probes = Seq(
      ("e0", 15L, 0), // staleness 5  <= tol 5  → match kept
      ("e0", 16L, 1), // staleness 6  >  tol 5  → nulled
      ("e0", 100L, 2), // staleness 0           → kept
      ("e0", 5L, 3) // no match at all         → null (left join)
    ).toDF("entity", "ts", "probe_id")
    val got = AsOfJoin
      .asOfWithin(probes, build, "entity", "ts", Seq("v"), 7L, tolerance = 5L)
      .orderBy("probe_id")
      .collect()
      .map(r => (r.getInt(2), Option(r.get(3)), Option(r.get(4))))
      .toSeq
    assert(got == Seq(
      (0, Some(10L), Some(1.0)),
      (1, None, None),
      (2, Some(100L), Some(2.0)),
      (3, None, None)))
  }

  test("asOf plans no aggregate grouped by exactly (entity, ts): ties resolve in the window order") {
    val build = buildRows.toDF("entity", "ts", "v")
    val probes = probeRows.toDF("entity", "ts")
    val plan = AsOfJoin.asOf(probes, build, "entity", "ts", Seq("v"), 100L).queryExecution.optimizedPlan
    assert(plan.collectFirst { case r: LogicalRDD => r }.nonEmpty, s"expected the staged pass relation in:\n$plan")
    // the staged relation's own plan: the tagged union through the pass's window stage
    val (rows, pass) = AsOfJoin.tagged(probes, build, "entity", "ts", Seq("v"), 100L)
    val staged = pass.windowed(rows).queryExecution.optimizedPlan
    Seq("asOf" -> plan, "staged relation" -> staged).foreach { case (name, p) =>
      val aggs = p.collect { case a: Aggregate => a }
      assert(aggs.isEmpty, s"$name plans an aggregate (${aggs.mkString("; ")}):\n$p")
    }
  }

  test("bucket width does not change semantics") {
    val build = buildRows.toDF("entity", "ts", "v")
    val probes = probeRows.zipWithIndex.map { case ((e, t), i) => (e, t, i) }
      .toDF("entity", "ts", "probe_id")
    val a = AsOfJoin.asOf(probes, build, "entity", "ts", Seq("v"), 7L)
      .orderBy("entity", "ts", "probe_id").collect().toSeq
    val b = AsOfJoin.asOf(probes, build, "entity", "ts", Seq("v"), 100000L)
      .orderBy("entity", "ts", "probe_id").collect().toSeq
    assert(a == b)
  }

  test("null-ts rows, one-bucket entities and ties at one ts keep their matches") {
    val build = Seq[(String, Option[Long], Double)](
      ("e0", Some(10L), 1.0), // a tie at ts 10: the largest match struct wins
      ("e0", Some(10L), 3.0),
      ("e0", Some(10L), 2.0),
      ("e0", Some(250L), 7.0),
      ("e0", None, 5.0), // null-ts builds: only null-ts probes, in their own group, see them
      ("e0", None, 6.0),
      ("solo", Some(3L), 4.0)) // an entity with one bucket
      .toDF("entity", "ts", "v")
    val probes = Seq[(String, Option[Long], Int)](
      ("e0", Some(10L), 0), // at the tie
      ("e0", Some(9L), 1), // before every build
      ("e0", Some(260L), 2),
      ("e0", Some(120L), 3), // carried from bucket 0
      ("e0", None, 4), // no carry: the last of its group's builds, by match struct
      ("solo", Some(5L), 5),
      ("solo", None, 6),
      ("none", None, 7)) // no builds at all
      .toDF("entity", "ts", "probe_id")
    val got = AsOfJoin
      .asOf(probes, build, "entity", "ts", Seq("v"), bucketWidth = 100L)
      .select($"probe_id", col(AsOfJoin.SrcTs), $"v")
      .orderBy("probe_id")
      .collect()
      .map(r => (r.getInt(0), Option(r.get(1)), Option(r.get(2))))
      .toSeq
    assert(got == Seq(
      (0, Some(10L), Some(3.0)),
      (1, None, None),
      (2, Some(250L), Some(7.0)),
      (3, Some(10L), Some(3.0)),
      (4, None, Some(6.0)),
      (5, Some(3L), Some(4.0)),
      (6, None, None),
      (7, None, None)))
  }
}
