package graft.feats

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Vector (Array[Float/Double]) column math.
  *
  * `vecAvg` is the engine's element-wise mean aggregate — the Spark-native
  * form of the reference's `torch.mean(embeddings, dim=0)` window means
  * (`segment_features/multimodal_segment_feature_extractor.py:74,84,104`,
  * `text_features/imagebind_feature_extractor.py:68-73`). Implemented as an
  * `Aggregator` so Spark runs it as a partial (map-side) + final aggregation:
  * the merge is an element-wise sum, so at 10^12 rows each shuffle moves one
  * partial vector per (group × partition), not the raw rows.
  *
  * Scalar vector math (dot/cosine/l2) is pure `functions._` (`zip_with` +
  * `aggregate`) so it stays inside whole-stage codegen — no UDF boundary.
  */
object VecOps {

  final case class VecBuf(var sums: Array[Double], var n: Long)

  /** Element-wise mean of array<double> columns; null vectors ignored.
    * Empty group → null out (Spark drops the row only if group empty). */
  class VecAvg extends Aggregator[Seq[Double], VecBuf, Seq[Double]] {
    override def zero: VecBuf = VecBuf(Array.empty, 0L)
    override def reduce(b: VecBuf, a: Seq[Double]): VecBuf = {
      if (a == null) return b
      if (b.sums.isEmpty) b.sums = new Array[Double](a.length)
      require(b.sums.length == a.length, s"vecAvg: ragged vectors ${b.sums.length} vs ${a.length}")
      var i = 0
      while (i < a.length) { b.sums(i) += a(i); i += 1 }
      b.n += 1
      b
    }
    override def merge(x: VecBuf, y: VecBuf): VecBuf = {
      if (y.sums.isEmpty) return x
      if (x.sums.isEmpty) return VecBuf(y.sums, y.n)
      var i = 0
      while (i < x.sums.length) { x.sums(i) += y.sums(i); i += 1 }
      x.n += y.n
      x
    }
    override def finish(b: VecBuf): Seq[Double] =
      if (b.n == 0L) null else b.sums.map(_ / b.n).toSeq
    override def bufferEncoder: Encoder[VecBuf] = Encoders.product[VecBuf]
    override def outputEncoder: Encoder[Seq[Double]] = {
      import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
      ExpressionEncoder[Seq[Double]]()
    }
  }

  /** Register-once UDAF handle: `df.agg(vecAvg(col("vec")))`.
    * Input column must be array<double> (cast array<float> first). */
  lazy val vecAvg = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    implicit val inEnc: Encoder[Seq[Double]] = ExpressionEncoder[Seq[Double]]()
    udaf(new VecAvg)
  }

  /** Element-wise a-b (lag-delta features, SURVEY.md W6). */
  def vecSub(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x - y)

  /** Dot product via codegen'd higher-order functions. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0-vector guarded to null. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n === 0.0d, lit(null).cast("double")).otherwise(d / n)
  }

  /** Cosine as a native codegen'd Catalyst expression — the production hot
    * path (same left-to-right accumulation as [[cosine]], but no
    * higher-order functions; see graft.plans.CosineSim). */
  def cosineFast(a: Column, b: Column): Column = graft.plans.CosineSim(a, b)

  /** round every element to `d` decimals — for oracle-stable output. */
  def vecRound(a: Column, d: Int): Column = transform(a, x => round(x, d))

  /** PSNR between two same-length pixel vectors in [0,1] (parity metric,
    * BASELINE.json invariant): 10*log10(1 / mse). */
  def psnr(a: Column, b: Column): Column = {
    val se = aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, x) => acc + x)
    val mse = se / size(a)
    when(mse === 0.0d, lit(Double.PositiveInfinity)).otherwise(lit(10.0d) * log10(lit(1.0d) / mse))
  }
}
