package graft.obs

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.{SparkEntry, SparkSpec}

class QueryReportSpec extends SparkSpec {

  // sf0.001 fixture tables (TESTDATA.md)
  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"
  private implicit val formats: Formats = DefaultFormats

  test("one record per query: rows, 1 cold + 3 warm reps, driver gap, plan, no memo hit") {
    val s = spark.newSession()
    // not alphabetical: the report follows the given order
    val names = Seq("q_minhash_lsh", "q_asof_join")
    val out = Files.createTempDirectory("graft_report").resolve("r.jsonl")

    assert(QueryReport.report(s, names.map(n => n -> SparkEntry.queries(n)), dir, out) == 0)
    assert(s.sparkContext.getPersistentRDDs.isEmpty,
      s"pinned after report: ${s.sparkContext.getPersistentRDDs.keys}")

    val recs = Files.readAllLines(out).asScala.toSeq.map(parse(_))
    assert(recs.map(r => (r \ "query").extract[String]) == names)
    recs.foreach { r =>
      val q = (r \ "query").extract[String]
      assert((r \ "rows").extract[Long] == SparkEntry.queries(q)(s, dir).count(), q)
      assert((r \ "cold_s").extract[Double] > 0, q)
      val warm = (r \ "warm_s").extract[Seq[Double]]
      assert(warm.size == QueryReport.WarmReps, q)
      val median = (r \ "warm_median_s").extract[Double]
      assert(median == warm.sorted.apply(1), q)
      val gap = (r \ "driver_gap_s").extract[Double]
      assert(gap >= 0 && gap <= median, s"$q: gap $gap, warm median $median")
      assert((r \ "jobs").extract[Int] == (r \ "job_ms").children.size, q)
      val plan = Paths.get((r \ "plan").extract[String])
      assert(plan == out.resolveSibling(s"r.plans/$q.txt"))
      assert(Files.readString(plan).contains("== Physical Plan =="), q)
    }
  }

  test("compiles: a fresh plan's cold rep compiles its generated classes, its warm reps reuse them") {
    val s = spark.newSession()
    // the literal is inlined into the generated code, so no earlier
    // suite can have compiled these classes
    val nonce = System.nanoTime() % 1000000007L
    val probe = (ss: SparkSession, _: String) => ss.range(0, 1000, 1, 2).selectExpr(s"id * $nonce AS x")
    val out = Files.createTempDirectory("graft_report").resolve("c.jsonl")

    assert(QueryReport.report(s, Seq("codegen_probe" -> probe), dir, out) == 0)

    val r = parse(Files.readAllLines(out).asScala.head)
    assert((r \ "rows").extract[Long] == 1000L)
    assert((r \ "cold_compiles").extract[Long] > 0, r)
    assert((r \ "compiles").extract[Long] == 0, r)
  }
}
