package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Minimal JSON writer: values are pre-rendered strings. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def medianL(sorted: Seq[Long]): Double = median(sorted.map(_.toDouble))
}

/** Seeded, position-addressable randomness: every generated value is a pure
  * function of (seed, coordinates), so any partition regenerates alone. */
object Rng {
  def mix(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long = {
    var x = seed * 0xd6e8feb86659fd93L ^ (a * 0x9e3779b97f4a7c15L) ^ (b * 0xc2b2ae3d27d4eb4fL) ^
      (c * 0x165667b19e3779f9L)
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x & Long.MaxValue
  }
  /** Uniform in [0, 1). */
  def unit(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Double =
    (mix(seed, a, b, c) >>> 10) * (1.0 / (1L << 53))
}

object Sessions {
  /** The benchmark's session: the session shape of `graft.Bench`, with
    * every scratch location inside the run's temp dir. */
  def start(cores: Int, tmp: String): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Order-independent digest of a whole DataFrame: row count plus the XOR of
  * per-row hashes over every column. Floating values are rounded to 6
  * decimals (as decimals, so -0.0 and 0.0 agree), which absorbs
  * summation-order noise between passes. */
final case class Digest(rows: Long, hash: Long) {
  override def toString: String = f"$rows:$hash%016x"
}

object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType =>
      when(isnan(c.cast("double")), lit(null)).otherwise(round(c.cast("double"), 6).cast("decimal(38,6)"))
    case ArrayType(et @ (FloatType | DoubleType), _) => transform(c, x => canon(x, et))
    case _ => c
  }

  private def summary(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType).as(f.name))
    df.select(xxhash64(struct(cols: _*)).as("__h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("__h")), lit(0L)))
  }

  def of(df: DataFrame): Digest = {
    val r = summary(df).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  /** Digests of several outputs in one action, so that independent parts of
    * the plans may run side by side as they would in one query. */
  def ofAll(outs: Seq[(String, DataFrame)]): Seq[(String, Digest)] = {
    val r = outs.zipWithIndex
      .map { case ((_, df), i) => summary(df).toDF(s"n$i", s"h$i") }
      .reduce(_ crossJoin _)
      .head()
    outs.zipWithIndex.map { case ((n, _), i) => n -> Digest(r.getLong(2 * i), r.getLong(2 * i + 1)) }
  }
}

/** Row-set comparison for reference checks: rows are matched after sorting
  * by their rendered key columns; floating values agree within `tol`. */
object Compare {
  private def close(a: Any, b: Any, tol: Double): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Number, y: Number) if isFloating(x) || isFloating(y) =>
      val (dx, dy) = (x.doubleValue, y.doubleValue)
      math.abs(dx - dy) <= tol * math.max(1.0, math.max(math.abs(dx), math.abs(dy)))
    case (x: Number, y: Number) => x.longValue == y.longValue
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => close(p, q, tol) }
    case (x: Row, y: Row) => x.length == y.length && (0 until x.length).forall(i => close(x.get(i), y.get(i), tol))
    case (x, y) => x == y
  }
  private def isFloating(n: Number) = n.isInstanceOf[java.lang.Double] || n.isInstanceOf[java.lang.Float]

  /** None when equal, else a one-line description of the first difference. */
  def rows(got: Seq[Row], want: Seq[Row], keyCols: Int, tol: Double = 1e-6): Option[String] = {
    def key(r: Row) = (0 until keyCols).map(i => String.valueOf(r.get(i))).mkString("|")
    if (got.length != want.length) return Some(s"row count ${got.length} != ${want.length}")
    val g = got.sortBy(key)
    val w = want.sortBy(key)
    g.zip(w).collectFirst { case (a, b) if !close(a, b, tol) => s"got $a want $b" }
  }
}

object Files2 {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toVector.reverse
      all.foreach(Files.deleteIfExists)
    }
  def delete(p: String): Unit = delete(Paths.get(p))

  /** (count, bytes) of the data files under `dir` (hidden and marker files excluded). */
  def dataFiles(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.toVector
      (fs.size.toLong, fs.map(Files.size).sum)
    }
  }

  def mkdirs(p: String): String = { new File(p).mkdirs(); p }
}
