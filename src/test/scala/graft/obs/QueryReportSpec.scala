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
    // a fresh session: no memo built by another suite applies
    val s = spark.newSession()
    val sc = s.sparkContext
    val names = Seq("q_asof_join", "q_minhash_lsh")
    // the pair graph each q_minhash_lsh rep builds
    val graphs = Seq.newBuilder[Set[Int]]
    val queries = names.map { n =>
      val fn = SparkEntry.queries(n)
      n -> ((ss: SparkSession, d: String) => {
        val df = fn(ss, d)
        if (n == SparkEntry.PairGraphOwner) graphs += SparkEntry.pairGraphStagedIds(ss, d)
        df
      })
    }
    val out = Files.createTempDirectory("graft_report").resolve("r.jsonl")

    assert(QueryReport.report(s, queries, dir, out) == 0)

    val reps = graphs.result()
    assert(reps.size == 4 && reps.forall(_.nonEmpty))
    assert(reps.distinct.size == 4, s"a q_minhash_lsh rep reused the memo: $reps")
    assert(sc.getPersistentRDDs.keySet == reps.last, "only the live pair graph stays pinned")

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
