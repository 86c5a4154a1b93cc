package graft.sim

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.synth.SynthImages

/** annLsh recall vs the exact bruteTopK baseline, measured — an approximate
  * operator with no measured recall is unverified (round-1 gap).
  *
  * The corpus is the workload sign-LSH is built for: clustered embeddings
  * (near-dup phash clusters, north rule) — 60 clusters × 5 members, members
  * = center + small deterministic noise, so each query's true top-4 are its
  * cluster mates at cosine ≈ 1. Recall is asserted at a hard floor; exact
  * determinism is asserted by running the operator twice.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val Clusters = 60
  private val PerCluster = 5
  private val Dim = 32
  private val K = 4 // = cluster mates per query

  /** deterministic uniform in [-1, 1) from the engine's splitmix. */
  private def u(a: Long, b: Long, c: Long): Double =
    (SynthImages.mix(a, b, c) % 100000L) / 50000.0 - 1.0

  private val corpus = {
    val rows = for {
      cl <- 0 until Clusters
      m <- 0 until PerCluster
    } yield {
      val id = (cl * PerCluster + m).toLong
      val vec = (0 until Dim).map { d =>
        u(cl.toLong, d.toLong, 7L) + 0.05 * u(id, d.toLong, 11L)
      }
      (id, vec)
    }
    rows.toDF("vec_id", "embedding")
  }

  // one query per cluster: the first member
  private val queries = corpus.where($"vec_id" % PerCluster === 0)

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select($"query_id", $"nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("annLsh recall@4 >= 0.9 vs bruteTopK on clustered embeddings") {
    val brute = pairs(
      Similarity.bruteTopK(corpus, queries, "vec_id", "embedding", "vec_id", "embedding", K))
    val ann = pairs(
      Similarity.annLsh(corpus, queries, "vec_id", "embedding", "vec_id", "embedding", K))
    assert(brute.size == Clusters * K)
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.9, s"annLsh recall@$K = $recall < 0.9 (16 tables x 6 bits)")
  }

  test("annLsh recall law holds at a non-default (8 tables x 10 bits) shape on a larger corpus") {
    // 150 clusters x 5 = 750 rows: wider corpus, narrower buckets (2^10 per
    // table) — the shape the sizing rule B ~ log2(corpus/targetBucket)
    // prescribes as the corpus grows. Recall floor is lower than the
    // 16x6 default's (fewer tables = fewer OR-chances per pair).
    val bigCorpus = {
      val rows = for {
        cl <- 0 until 150
        m <- 0 until PerCluster
      } yield {
        val id = (cl * PerCluster + m).toLong
        val vec = (0 until Dim).map { d =>
          u(cl.toLong, d.toLong, 7L) + 0.05 * u(id, d.toLong, 11L)
        }
        (id, vec)
      }
      rows.toDF("vec_id", "embedding")
    }
    val qs = bigCorpus.where($"vec_id" % PerCluster === 0)
    val brute = pairs(
      Similarity.bruteTopK(bigCorpus, qs, "vec_id", "embedding", "vec_id", "embedding", K))
    val ann = pairs(
      Similarity.annLsh(
        bigCorpus, qs, "vec_id", "embedding", "vec_id", "embedding", K,
        tables = 8, bitsPerTable = 10))
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.75, s"annLsh recall@$K = $recall < 0.75 (8 tables x 10 bits)")
    // every emitted neighbor is still a genuine candidate with correct rank bound
    assert(ann.forall { case (q, n) => q != n })
  }

  test("annLsh hot-bucket guard drops oversized buckets but keeps clustered recall") {
    // Poison the corpus with 40 near-identical rows (one hot bucket in
    // EVERY table): uncapped, each contributes ~40^2 candidate pairs per
    // table; capped at 20, those buckets are excluded while the clustered
    // rows keep their recall through their own (small) buckets.
    // EXACTLY identical vectors (the constant-embedding-mass case): every
    // copy lands in the same bucket of every table, so the cap provably
    // drops all of them — a perturbed copy could cross a sign boundary in
    // a table whose base projection is 0 and hide in a small bucket.
    val poison = (0 until 40).map { i =>
      val id = (10000 + i).toLong
      val vec = (0 until Dim).map(d => 0.5 + 0.01 * d)
      (id, vec)
    }.toDF("vec_id", "embedding")
    val poisoned = corpus.unionByName(poison)
    // building the guarded DataFrame is lazy: no Spark job before an action
    // (jobs are attributed by a thread-local tag, so nothing else counts)
    val sc = spark.sparkContext
    val buildJobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec") == "annLshBuild"))
          buildJobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec", "annLshBuild")
    val capped =
      try Similarity.annLsh(
        poisoned, queries, "vec_id", "embedding", "vec_id", "embedding", K,
        maxBucketSize = 20L)
      finally {
        sc.setLocalProperty("graft.spec", null)
        org.apache.spark.sql.graftbridge.ListenerBridge.drain(sc)
        sc.removeSparkListener(listener)
      }
    assert(buildJobs.get == 0, s"building the guarded annLsh ran ${buildJobs.get} Spark job(s)")
    val brute = pairs(
      Similarity.bruteTopK(corpus, queries, "vec_id", "embedding", "vec_id", "embedding", K))
    val got = pairs(capped)
    // no query's neighbor set may contain a poison row (their buckets are
    // gone), and recall over the REAL clusters survives the cap
    assert(got.forall { case (_, n) => n < 10000 }, "capped annLsh emitted a hot-bucket row")
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.9, s"hot-bucket cap destroyed clustered recall: $recall")
    // non-vacuity: a poison row queried directly finds its 39 near-identical
    // mates uncapped (they share every table's bucket) and NONE capped (its
    // bucket is dropped from every table) — proof the guard actually fired
    val poisonQ = poison.where($"vec_id" === 10000L)
    val uncapped = pairs(Similarity.annLsh(
      poisoned, poisonQ, "vec_id", "embedding", "vec_id", "embedding", K))
    assert(uncapped.count(_._2 >= 10000) == K, "poison mates should dominate uncapped top-k")
    val cappedQ = pairs(Similarity.annLsh(
      poisoned, poisonQ, "vec_id", "embedding", "vec_id", "embedding", K,
      maxBucketSize = 20L))
    assert(cappedQ.forall(_._2 < 10000), "hot-bucket guard did not drop the poison bucket")
  }

  test("annLsh is deterministic and never emits self-matches or rank > k") {
    val run1 = Similarity.annLsh(corpus, queries, "vec_id", "embedding", "vec_id", "embedding", K)
    val run2 = Similarity.annLsh(corpus, queries, "vec_id", "embedding", "vec_id", "embedding", K)
    val r1 = run1.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val r2 = run2.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(r1 == r2, "annLsh must be deterministic (hyperplanes derived from seed)")
    assert(r1.nonEmpty)
    run1.collect().foreach { r =>
      assert(r.getAs[Long]("query_id") != r.getAs[Long]("nn_id"), "self-match")
      assert(r.getAs[Int]("rank") <= K)
    }
  }
}
