package graft

/** Between-query block hygiene, as the bench loop applies it
  * (`SparkEntry.releaseBetweenQueries`: unpersist every persisted RDD not
  * backing the memoized pair graph): no query may keep blocks pinned for
  * another query, except the pair graph its owner q_minhash_lsh stages for
  * q_dedup_components. A cross-query memo would both survive the hygiene
  * and make one query time another's work. */
class PinnedBlocksSpec extends SparkSpec {

  // sf0.001 fixture tables (TESTDATA.md)
  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"

  test("only the memoized pair graph survives between-query hygiene") {
    // a fresh session: no memo built by another suite applies
    val s = spark.newSession()
    val sc = s.sparkContext
    def run(name: String): Unit = {
      SparkEntry.queries(name)(s, dir).count()
      SparkEntry.releaseBetweenQueries(s, dir)
    }

    Seq("q_ann_lsh", "q_ann_recall", "q_ann_topk", "q_image_seconds_ceil", "q_image_seconds_floor")
      .foreach(run)
    assert(SparkEntry.pairGraphStagedIds(s, dir).isEmpty)
    assert(sc.getPersistentRDDs.isEmpty, s"pinned after hygiene: ${sc.getPersistentRDDs.keys}")

    Seq("q_minhash_lsh", "q_dedup_components").foreach(run)
    val graph = SparkEntry.pairGraphStagedIds(s, dir)
    assert(graph.size == 1)
    assert(sc.getPersistentRDDs.keySet == graph)
    run("q_minhash_lsh")
    assert(SparkEntry.pairGraphStagedIds(s, dir) != graph,
      "a second q_minhash_lsh run read the memo instead of building")
    assert(sc.getPersistentRDDs.keySet == SparkEntry.pairGraphStagedIds(s, dir),
      "only the new graph stays pinned")
  }
}
