package graft.feats

import org.apache.spark.sql.functions._
import graft.SparkSpec

class VecOpsSpec extends SparkSpec {
  import spark.implicits._

  test("vecAvg equals element-wise arithmetic mean") {
    val data = Seq(
      (1, Seq(1.0, 2.0, 3.0)),
      (1, Seq(3.0, 2.0, 1.0)),
      (2, Seq(10.0, 0.0, -10.0)))
    val out = data
      .toDF("g", "vec")
      .groupBy($"g")
      .agg(VecOps.vecAvg($"vec").as("m"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
      .toMap
    assert(out(1) == Seq(2.0, 2.0, 2.0))
    assert(out(2) == Seq(10.0, 0.0, -10.0))
  }

  test("vecAvg partial/merge law: mean invariant under partition split") {
    val vecs = (0 until 100).map(i => Seq(i.toDouble, (i * 7 % 13).toDouble))
    val expect = Seq(vecs.map(_.head).sum / 100, vecs.map(_(1)).sum / 100)
    for (parts <- Seq(1, 3, 8)) {
      val got = spark.sparkContext
        .parallelize(vecs, parts)
        .toDF("vec")
        .agg(VecOps.vecAvg($"vec"))
        .head()
        .getSeq[Double](0)
      assert(got.zip(expect).forall { case (a, b) => math.abs(a - b) < 1e-12 },
        s"parts=$parts: $got != $expect")
    }
  }

  test("dot / cosine / l2 against scalar math") {
    val df = Seq((Seq(1.0, 2.0, 2.0), Seq(2.0, 0.0, 1.0))).toDF("a", "b")
    val r = df
      .select(
        VecOps.dot($"a", $"b").as("d"),
        VecOps.l2Norm($"a").as("na"),
        VecOps.cosine($"a", $"b").as("c"))
      .head()
    assert(r.getDouble(0) == 4.0)
    assert(r.getDouble(1) == 3.0)
    assert(math.abs(r.getDouble(2) - 4.0 / (3.0 * math.sqrt(5.0))) < 1e-12)
  }

  test("cosine: column algebra == native, ragged pairs == scalar common-prefix") {
    // deterministic pseudo-random vectors incl. a zero vector and ragged pairs
    val rows = (0 until 200).map { i =>
      def h(k: Int) = ((i * 2654435761L + k * 40503L) % 997L).toDouble / 499.0 - 1.0
      (Seq.tabulate(24)(h), Seq.tabulate(if (i % 7 == 0) 20 else 24)(k => h(k + 100)))
    } :+ ((Seq.fill(24)(0.0), Seq.fill(24)(1.0)))
    // the native contract in scalar Scala: left-to-right over the common
    // prefix, a zero norm gives null
    def prefixCosine(a: Seq[Double], b: Seq[Double]): Option[Double] = {
      val n = math.min(a.length, b.length)
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until n) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) None else Some(d / den)
    }
    val out = rows.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("i", "a", "b")
      .select(
        $"i",
        VecOps.cosine($"a", $"b").as("alg"),
        VecOps.cosineFast($"a", $"b").as("fast"))
      .collect()
      .map(r => r.getInt(0) -> (1 to 2).map(j => if (r.isNullAt(j)) None else Some(r.getDouble(j))))
      .toMap
    assert(out.size == rows.size)
    rows.zipWithIndex.foreach { case ((a, b), i) =>
      val Seq(alg, fast) = out(i)
      assert(fast == prefixCosine(a, b), s"row $i: native vs scalar")
      // zip_with/aggregate is only defined for equal lengths
      if (a.length == b.length) assert(alg == fast, s"row $i: column algebra vs native")
    }
    assert(rows.exists { case (a, b) => a.length != b.length })
  }

  test("psnr: identical vectors -> +inf, known mse -> exact dB") {
    val df = Seq((Seq(0.5, 0.5), Seq(0.5, 0.5), Seq(0.5, 0.6))).toDF("a", "b", "c")
    val r = df.select(VecOps.psnr($"a", $"b"), VecOps.psnr($"a", $"c")).head()
    assert(r.getDouble(0).isPosInfinity)
    val mse = 0.1 * 0.1 / 2
    assert(math.abs(r.getDouble(1) - 10 * math.log10(1 / mse)) < 1e-9)
  }
}
