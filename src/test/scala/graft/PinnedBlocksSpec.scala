package graft

/** Between-query block hygiene, as every timing loop applies it
  * (`Bench.releasePersistedRdds`): no query may keep blocks pinned for
  * another query. A cross-query cache would either survive the hygiene or,
  * staged with truncated lineage, fail its next reader once released; and
  * it would make one query time another's work. */
class PinnedBlocksSpec extends SparkSpec {

  // sf0.001 fixture tables (TESTDATA.md)
  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"

  test("no query keeps blocks pinned after between-query hygiene") {
    val s = spark.newSession()
    val sc = s.sparkContext
    // the queries that stage; q_minhash_lsh runs before q_dedup_components,
    // so a graph staged by one for the other would be read after its release
    val names = Seq("q_ann_lsh", "q_ann_recall", "q_ann_topk", "q_image_seconds_ceil",
      "q_image_seconds_floor", "q_locf_bucketed", "q_minhash_lsh", "q_dedup_components")
    def loop(): Seq[Long] = names.map { n =>
      val rows = graft.obs.QueryReport.consume(SparkEntry.queries(n)(s, dir))
      Bench.releasePersistedRdds(s)
      assert(sc.getPersistentRDDs.isEmpty, s"$n: pinned after hygiene: ${sc.getPersistentRDDs.keys}")
      rows
    }
    val first = loop()
    assert(loop() == first, "a query's rows changed after another query's blocks were released")
  }
}
