package graft.dedup

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sim.Similarity

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words describing spark engines here"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "a b")) // under shingle width
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 4)
    val dupGroup = out.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) == 1L) // keeps min id
  }

  test("minhash LSH finds the near-dup pair and skips unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", tau = 0.5)
      .select($"doc_a", $"doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact dup must surface")
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L)), "near-dup must surface")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("ngram jaccard: exact dup = 1.0, short doc yields no shingles") {
    val out = Dedup.ngramJaccard(docs, "doc_id", "text", tau = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((1L, 4L)) == 1.0)
    assert(!out.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash: identical texts equal, near-dups closer than unrelated") {
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val h = docs.select($"doc_id", Dedup.simhash($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(4L))
    assert(hamming(h(1L), h(2L)) < hamming(h(1L), h(3L)))
    assert(h.values.forall(v => v >= 0 && v < (1L << 48)))
  }

  test("shingles UDF is semantics-identical to the column-algebra form") {
    val edge = Seq(
      (100L, null.asInstanceOf[String]),
      (101L, ""),
      (102L, "  a b  "),
      (103L, "a\tb\nc d"), // tabs/newlines: NOT trimmed (Spark trim = spaces only)
      (104L, "x y"), // under shingle width
      (105L, "Mixed CASE tokens repeated mixed case tokens repeated"))
      .toDF("doc_id", "text")
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").unionByName(edge)
    val both = all.select(
      $"doc_id",
      Dedup.shingles($"text", 3).as("u"),
      Dedup.shinglesCol($"text", 3).as("c"))
    val diff = both.where(
      ($"u".isNull =!= $"c".isNull) || ($"u".isNotNull && !($"u" <=> $"c"))).count()
    assert(diff == 0L, s"$diff docs differ between UDF and column shingles")
  }

  test("simhash UDF == pure-column simhash bit-for-bit (incl. edge cases)") {
    val edge = Seq(
      (201L, "  leading and trailing  "),
      (202L, ""),
      (203L, "one"),
      (204L, "Mixed CASE tokens repeated mixed case tokens repeated"))
      .toDF("doc_id", "text")
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").unionByName(edge)
    val both = all.select(
      $"doc_id",
      Dedup.simhash($"text").as("u"),
      Dedup.simhashCol($"text").as("c"))
    val diff = both.where(!($"u" <=> $"c")).count()
    assert(diff == 0L, s"$diff docs differ between UDF and column simhash")
  }

  test("ANN LSH top-k achieves recall vs brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where($"vec_id" % 50 === 0)
    val brute = Similarity.bruteTopK(emb, q, "vec_id", "embedding", "vec_id", "embedding", 5)
      .select($"query_id", $"nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annLsh(emb, q, "vec_id", "embedding", "vec_id", "embedding", 5)
      .select($"query_id", $"nn_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(ann.nonEmpty, "LSH must return candidates")
    assert(recall >= 0.2, s"ANN recall vs brute force too low: $recall")
  }

  test("connected components close the pair graph transitively (min-id canonical)") {
    import spark.implicits._
    // two clusters: a 5-chain (diameter stresses the propagation loop) and
    // a 3-cycle; plus an isolated pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // chain -> comp 1
      (20L, 21L), (21L, 22L), (22L, 20L),     // cycle -> comp 20
      (10L, 11L))                             // pair  -> comp 10
      .toDF("doc_a", "doc_b")
    val got = Dedup.components(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      10L -> 10L, 11L -> 10L))
  }

  test("components over the minhash pair graph merge the dup triangle") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", tau = 0.5)
    val got = Dedup.components(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1, 2, 4 pair up pairwise -> one component labeled 1
    assert(got == Map(1L -> 1L, 2L -> 1L, 4L -> 1L))
  }

  test("components close a 40-link chain within the iteration bound (pointer jumping)") {
    import spark.implicits._
    // diameter 39: plain min-label propagation needs 39 rounds; the
    // pointer-jumping form must close it within maxIter = 15 (2^15 >> 39)
    val chain = (1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("doc_a", "doc_b")
    val got = Dedup.components(chain, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 40 && got.values.forall(_ == 1L))
  }

  test("ngram jaccard df-guard (r8 posting-list form): guarded == unguarded where both emit") {
    // real corpus + a tiny maxDf so MANY shingles go hot: exercises the
    // r8 pair-explode + hot-array correction against the unguarded
    // reference, an exact Jaccard over every doc pair computed outside
    // Spark. Every pair the guard emits must carry the EXACT J, and the
    // guard may only LOSE pure-boilerplate pairs (every shared shingle hot).
    val (tau, maxDf) = (0.3, 3L)
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val guarded = Dedup.ngramJaccard(real, "doc_id", "text", tau = tau, maxDf = maxDf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val sh = real.select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
      .map { case (id, t) => id -> Option(Dedup.shingleStrings(t, 3)).toSet.flatten }
    val df = sh.toSeq.flatMap(_._2).groupMapReduce(identity)(_ => 1)(_ + _)
    val pairs = for (i <- sh.indices; j <- i + 1 until sh.length) yield (sh(i), sh(j))
    assert(pairs.size == 124750, "all pairs of the 500 sf0.001 docs")
    // (pair, unrounded J, shares a shingle with df <= maxDf) for J >= tau
    val exact = pairs.flatMap { case ((a, sa), (b, sb)) =>
      val shared = sa & sb
      val j = shared.size.toDouble / (sa.size + sb.size - shared.size)
      if (j >= tau) Some(((a, b), j, shared.exists(df(_) <= maxDf))) else None
    }
    val exactJ = exact.map { case (p, j, _) =>
      p -> BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    assert(guarded.nonEmpty, "guard must not wipe out the pair set")
    guarded.foreach { case (pair, j) =>
      assert(exactJ.get(pair).contains(j), s"pair $pair: guarded J $j != exact ${exactJ.get(pair)}")
    }
    val missed = exact.collect { case (p, _, true) if !guarded.contains(p) => p }
    assert(missed.isEmpty, s"pairs sharing a cold shingle not emitted: ${missed.take(5)}")
  }
}
