package graft.props

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lag}

import graft.SparkSpec
import graft.ops.{AsOfJoin, Backfill, BucketedWindows, IntervalJoin, Sessionize, Windows}

/** Property-based laws for the core temporal operators: randomized inputs
  * (duplicate timestamps, empty sides, skewed entities, arbitrary bucket
  * widths) against executable-specification brute forces. Complements the
  * example-based specs: these explore the corner lattice (empty group ×
  * duplicate ts × negative ts × bucket boundary) no hand-written case
  * list covers. */
object EngineProps extends Properties("graft") {

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  // keep Spark-job count sane: each case runs real (local) jobs
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12).withMaxDiscardRatio(10)

  private val rowGen: Gen[(String, Long, Double)] = for {
    e <- Gen.oneOf("a", "b", "c") // few entities → dense ts collisions
    ts <- Gen.choose(-20L, 120L)
    v <- Gen.choose(-400, 400).map(_.toDouble / 4)
  } yield (e, ts, v)

  private val rowsGen: Gen[List[(String, Long, Double)]] =
    Gen.choose(0, 50).flatMap(n => Gen.listOfN(n, rowGen))

  property("asOf == brute force for any input and bucket width") =
    Prop.forAll(rowsGen, rowsGen, Gen.oneOf(1L, 3L, 7L, 64L, 1000L)) { (b, p, width) =>
      val build = b.toDF("entity", "ts", "v")
      val probes = p.zipWithIndex
        .map { case ((e, ts, _), i) => (e, ts, i) }
        .toDF("entity", "ts", "pid")
      // executable spec: dedupe build per (entity, ts) by max v, then for
      // each probe the latest build at-or-before, ties by max v
      val dedup = b.groupBy(r => (r._1, r._2)).map { case ((e, t), rs) => (e, t, rs.map(_._3).max) }
      val want = p.zipWithIndex.map { case ((e, ts, _), i) =>
        val c = dedup.filter(x => x._1 == e && x._2 <= ts)
        i -> (if (c.isEmpty) None else Some(c.maxBy(x => (x._2, x._3))).map(x => (x._2, x._3)))
      }.toMap
      val got = AsOfJoin
        .asOf(probes, build, "entity", "ts", Seq("v"), width)
        .collect()
        .map { r =>
          val i = r.getInt(r.fieldIndex("pid"))
          val src = r.fieldIndex(AsOfJoin.SrcTs)
          i -> (if (r.isNullAt(src)) None
                else Some((r.getLong(src), r.getDouble(r.fieldIndex("v")))))
        }
        .toMap
      (got == want) :| s"asOf($width): $got != $want"
    }

  // a two-field payload: a low-cardinality int that often ties, then an
  // array that decides — duplicate (entity, ts) rows must resolve by
  // Spark's struct ordering (fields in order, arrays lexicographic)
  private val structRowGen: Gen[(String, Long, Int, List[Double])] = for {
    e <- Gen.oneOf("a", "b")
    ts <- Gen.choose(0L, 20L)
    k <- Gen.choose(0, 1)
    n <- Gen.choose(0, 3)
    arr <- Gen.listOfN(n, Gen.choose(-2, 2).map(_.toDouble))
  } yield (e, ts, k, arr)

  property("asOf == brute force on a struct payload: ties at one ts go to the max (int, array)") =
    Prop.forAll(
      Gen.choose(0, 40).flatMap(Gen.listOfN(_, structRowGen)),
      Gen.listOfN(20, Gen.zip(Gen.oneOf("a", "b"), Gen.choose(-1L, 22L))),
      Gen.oneOf(1L, 4L, 64L)) { (b, p, width) =>
      import scala.math.Ordering.Implicits.seqOrdering
      implicit val doubles: Ordering[Double] = Ordering.Double.TotalOrdering
      val build = b.toDF("entity", "ts", "k", "arr")
      val probes = p.zipWithIndex.map { case ((e, ts), i) => (e, ts, i) }.toDF("entity", "ts", "pid")
      val want = p.zipWithIndex.map { case ((e, ts), i) =>
        val c = b.filter(x => x._1 == e && x._2 <= ts)
        i -> (if (c.isEmpty) None else Some(c.map(x => (x._2, x._3, x._4)).max))
      }.toMap
      val got = AsOfJoin
        .asOf(probes, build, "entity", "ts", Seq("k", "arr"), width)
        .collect()
        .map { r =>
          val src = r.fieldIndex(AsOfJoin.SrcTs)
          r.getInt(r.fieldIndex("pid")) ->
            (if (r.isNullAt(src)) None
             else Some((r.getLong(src), r.getInt(r.fieldIndex("k")), r.getSeq[Double](r.fieldIndex("arr")).toList)))
        }
        .toMap
      (got == want) :| s"asOf($width): $got != $want"
    }

  property("frameWindows == plain locf + lag + sessionize for any bucket width and gap") =
    Prop.forAll(rowsGen, Gen.oneOf(1L, 3L, 7L, 64L), Gen.oneOf(0L, 5L, 40L)) { (rows, width, gap) =>
      // unique (entity, ts) — the operator's input contract; `s` is a
      // sparse copy of v (every third ts), so LOCF carries cross buckets
      val uniq = rows.groupBy(r => (r._1, r._2)).map { case ((e, t), rs) =>
        val v = rs.map(_._3).max
        (e, t, v, if (Math.floorMod(t, 3L) == 0L) Some(v) else None)
      }.toList
      val df = uniq.toDF("entity", "ts", "v", "s")
      val cols = Seq("entity", "ts", "s_filled", "v_lag1", "is_session_start", "session_id")
      def out(d: DataFrame): Seq[Seq[Any]] =
        d.select(cols.map(col): _*).orderBy("entity", "ts").collect().map(_.toSeq).toSeq
      val plain = Sessionize
        .sessionize(Backfill.locf(df, "entity", "ts", Seq("s")), "entity", "ts", gap)
        .withColumn("v_lag1", lag(col("v"), 1).over(Window.partitionBy("entity").orderBy("ts")))
      val want = out(plain)
      val got = out(BucketedWindows.frameWindows(
        df, "entity", "ts", width, gap, locfCols = Seq("s"), lagCols = Seq("v")))
      (want.size == uniq.size) :| s"plain reference lost rows: ${want.size} != ${uniq.size}" &&
      (got == want) :| s"frameWindows($width, $gap): $got != $want"
    }

  property("locf: fill equals last non-null at-or-before, in any bucket width") =
    Prop.forAll(rowsGen, Gen.oneOf(1L, 5L, 64L)) { (rows, width) =>
      // unique (entity, ts): keep max v, null out ~half the values as gaps
      val uniq = rows.groupBy(r => (r._1, r._2)).map { case ((e, t), rs) =>
        (e, t, if (t % 2 == 0) Some(rs.map(_._3).max) else None)
      }.toList
      val df = uniq.toDF("entity", "ts", "v")
      val want = uniq.map { case (e, t, _) =>
        (e, t) -> uniq.filter(x => x._1 == e && x._2 <= t && x._3.isDefined)
          .sortBy(_._2).lastOption.flatMap(_._3)
      }.toMap
      def toMapOut(df2: org.apache.spark.sql.DataFrame, c: String) =
        df2.collect().map { r =>
          (r.getString(r.fieldIndex("entity")), r.getLong(r.fieldIndex("ts"))) ->
            (if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c))))
        }.toMap
      val plain = toMapOut(Backfill.locf(df, "entity", "ts", Seq("v")), "v_filled")
      val bucketed = toMapOut(
        Backfill.locfBucketed(df, "entity", "ts", "v", width), "v_filled")
      // duplicate ts kept, ordered by a unique tie-break id that runs
      // against the input order; every other row's value is null, so ties
      // mix null and non-null values
      val tied = rows.zipWithIndex.map { case ((e, t, v), i) => (e, t, -i, if (i % 2 == 0) Some(v) else None) }
      val tiedDf = tied.toDF("entity", "ts", "id", "v")
      val wantTied = tied.map { case (e, t, i, _) =>
        i -> tied.filter(x => x._1 == e && (x._2 < t || x._2 == t && x._3 <= i) && x._4.isDefined)
          .sortBy(x => (x._2, x._3)).lastOption.flatMap(_._4)
      }.toMap
      def byId(df2: DataFrame) =
        df2.collect().map { r =>
          r.getInt(r.fieldIndex("id")) ->
            (if (r.isNullAt(r.fieldIndex("v_filled"))) None else Some(r.getDouble(r.fieldIndex("v_filled"))))
        }.toMap
      val plainTied = byId(Backfill.locf(tiedDf, "entity", "ts", Seq("v"), Seq("id")))
      val bucketedTied = byId(Backfill.locfBucketed(tiedDf, "entity", "ts", "v", width, Seq("id")))
      (plain == want) :| s"locf: $plain != $want" &&
      (bucketed == want) :| s"locfBucketed($width): $bucketed != $want" &&
      (plainTied == wantTied) :| s"locf with ties: $plainTied != $wantTied" &&
      (bucketedTied == wantTied) :| s"locfBucketed($width) with ties: $bucketedTied != $wantTied"
    }

  property("sessionize: consecutive gaps <= threshold inside, > threshold across") =
    Prop.forAll(rowsGen, Gen.oneOf(1L, 10L, 40L)) { (rows, gap) =>
      val uniq = rows.groupBy(r => (r._1, r._2)).map { case ((e, t), rs) =>
        (e, t, rs.head._3)
      }.toList
      val out = Sessionize.sessionize(uniq.toDF("entity", "ts", "v"), "entity", "ts", gap)
        .select("entity", "ts", "session_id")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      out.values.forall { es =>
        val sorted = es.sortBy(_._2)
        sorted.zip(sorted.drop(1)).forall { case ((_, t1, s1), (_, t2, s2)) =>
          if (t2 - t1 > gap) s2 == s1 + 1 else s2 == s1
        }
      }
    }

  property("asOfWithin: infinite tolerance == asOf; any tolerance == brute bound") =
    Prop.forAll(rowsGen, rowsGen, Gen.oneOf(0L, 3L, 25L, Long.MaxValue)) { (b, p, tol) =>
      val build = b.toDF("entity", "ts", "v")
      val probes = p.zipWithIndex
        .map { case ((e, ts, _), i) => (e, ts, i) }
        .toDF("entity", "ts", "pid")
      val dedup = b.groupBy(r => (r._1, r._2)).map { case ((e, t), rs) => (e, t, rs.map(_._3).max) }
      val want = p.zipWithIndex.map { case ((e, ts, _), i) =>
        val c = dedup.filter(x => x._1 == e && x._2 <= ts && ts - x._2 <= tol)
        i -> (if (c.isEmpty) None else Some(c.maxBy(x => (x._2, x._3))).map(x => (x._2, x._3)))
      }.toMap
      val got = AsOfJoin
        .asOfWithin(probes, build, "entity", "ts", Seq("v"), 7L, tol)
        .collect()
        .map { r =>
          val pid = r.getInt(r.fieldIndex("pid"))
          pid -> (if (r.isNullAt(r.fieldIndex(AsOfJoin.SrcTs))) None
                  else Some((r.getLong(r.fieldIndex(AsOfJoin.SrcTs)), r.getDouble(r.fieldIndex("v")))))
        }
        .toMap
      (got == want) :| s"asOfWithin($tol): $got != $want"
    }

  property("rangeJoin == brute-force interval filter for any window/bucket") =
    Prop.forAll(
      rowsGen, rowsGen,
      Gen.oneOf(0L, 2L, 10L), Gen.oneOf(0L, 3L, 15L), Gen.oneOf(0L, 1L, 7L, 100L)) {
      (ls, rs, before, after, width) =>
        (before + after > 0) ==> {
          val left = ls.zipWithIndex
            .map { case ((e, ts, _), i) => (e, ts, i) }
            .toDF("entity", "lts", "lid")
          val right = rs.zipWithIndex
            .map { case ((e, ts, _), i) => (e, ts, i) }
            .toDF("entity", "rts", "rid")
          val want = (for {
            ((le, lts, _), li) <- ls.zipWithIndex
            ((re, rts, _), ri) <- rs.zipWithIndex
            if le == re && rts >= lts - before && rts < lts + after
          } yield (li, ri)).toSet
          val got = IntervalJoin
            .rangeJoin(left, right, "entity", "lts", "rts", before, after, width)
            .select("lid", "rid")
            .collect()
            .map(r => (r.getInt(0), r.getInt(1)))
            .toSet
          (got == want) :| s"rangeJoin($before,$after,$width): $got != $want"
        }
    }

  property("nocb == locf on the time-reversed axis") =
    Prop.forAll(rowsGen) { rows =>
      val uniq = rows.groupBy(r => (r._1, r._2)).map { case ((e, t), rs) =>
        (e, t, if (t % 2 == 0) Some(rs.map(_._3).max) else None)
      }.toList
      val df = uniq.toDF("entity", "ts", "v")
      def toMapOut(df2: org.apache.spark.sql.DataFrame, c: String, negate: Boolean) =
        df2.collect().map { r =>
          val t = r.getLong(r.fieldIndex("ts"))
          (r.getString(r.fieldIndex("entity")), if (negate) -t else t) ->
            (if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getDouble(r.fieldIndex(c))))
        }.toMap
      val bfill = toMapOut(Backfill.nocb(df, "entity", "ts", Seq("v")), "v_bfilled", negate = false)
      val mirrored = toMapOut(
        Backfill.locf(
          uniq.map { case (e, t, v) => (e, -t, v) }.toDF("entity", "ts", "v"),
          "entity", "ts", Seq("v")),
        "v_filled", negate = true)
      (bfill == mirrored) :| s"nocb: $bfill != mirrored locf $mirrored"
    }

  property("tumbling tails: ceil keeps every row, floor drops only short tails") =
    Prop.forAll(rowsGen, Gen.oneOf(2L, 7L, 30L)) { (rows, width) =>
      val uniq = rows.groupBy(r => (r._1, r._2)).map { case ((e, t), rs) =>
        (e, math.abs(t), rs.head._3) // tumblingAgg buckets need ts >= 0
      }.toList
      val df = uniq.toDF("entity", "ts", "v")
      import org.apache.spark.sql.functions._
      def total(tail: Windows.TailMode) = Windows
        .tumblingAgg(df, "entity", "ts", width, tail, Seq(count(lit(1)).as("n")))
        .agg(coalesce(sum("win_n"), lit(0L))).head().getLong(0)
      val n = uniq.size.toLong
      // FloorTail's criterion is win_n == size (dense-axis fullness)
      val floorWant = uniq
        .groupBy(r => (r._1, r._2 / width))
        .values.map(_.size.toLong).filter(_ == width).sum
      val ceil = total(Windows.CeilTail)
      val floor = total(Windows.FloorTail)
      (ceil == n) :| s"ceil lost rows: $ceil != $n" &&
      (floor == floorWant) :| s"floor: $floor != $floorWant"
    }
}
