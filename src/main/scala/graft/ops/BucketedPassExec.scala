package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._
import org.apache.spark.util.AccumulatorV2

/** The logical node of [[BucketedWindows.Pass]]: one ordered scan of each
  * cluster of rows with equal `keys`, in `order` (ascending, nulls first).
  * It keeps every child row and appends `added`, in this order:
  *  - row mode only: `lead(ts)`, then `lag(ts)` with `lagIn` columns or a
  *    `gap` (the stitch finds each bucket's first row by it), then
  *    `first(ts)` with a `gap`;
  *  - `lag(c)` per `lagIn` entry;
  *  - the LOCF of each `locfIn` entry, the last non-null value so far:
  *    including the row in row mode, of the EARLIER rows only in carry-in
  *    mode;
  *  - with a `gap`: the row's session flag, then the running sum of
  *    `flag + inner`, again inclusive in row mode and exclusive in
  *    carry-in mode.
  *
  * The flag is 1 when `start - lag(ts) > gap`. For a cluster's first row
  * (and any row whose `lag(ts)` is null) it is 0 in row mode, where the
  * carry decides, and 1 in carry-in mode, where an entity's first bucket
  * starts a session. Row mode runs over `(entity, bucket)` clusters with
  * `start = ts` and `inner = 0`; carry-in mode runs over one summary row
  * per bucket, clustered on entity and ordered by bucket, with `start` the
  * bucket's first ts, `ts` its last and `inner` its boundary count. */
private[ops] final case class BucketedPass(
    keys: Seq[Expression],
    order: Seq[Expression],
    ts: Expression,
    start: Expression,
    inner: Expression,
    lagIn: Seq[Expression],
    locfIn: Seq[Expression],
    gap: Option[Long],
    carryIn: Boolean,
    added: Seq[Attribute],
    child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ added
  override def producedAttributes: AttributeSet = AttributeSet(added)
  override protected def withNewChildInternal(c: LogicalPlan): BucketedPass = copy(child = c)
}

private[ops] object BucketedPass {

  /** `df` through one pass, as a DataFrame; `names` names the added
    * columns in the node's order. `inner = None` reads as 0. The session's
    * planner learns the node here ([[BucketedPassStrategy.register]]). */
  def apply(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[String],
      ts: String,
      start: String,
      inner: Option[String],
      lagIn: Seq[String],
      locfIn: Seq[String],
      gap: Option[Long],
      carryIn: Boolean,
      names: Seq[String]): DataFrame = {
    val child = df.queryExecution.analyzed
    def attr(n: String): Attribute =
      child.output.find(_.name == n).getOrElse(sys.error(s"no column $n in ${child.output.mkString(", ")}"))
    val t = attr(ts)
    if (gap.nonEmpty)
      require(
        Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType).contains(t.dataType),
        s"a session gap needs a numeric ts, not ${t.dataType}")
    val rowTs = if (carryIn) Nil else Seq(t) ++ (if (lagIn.nonEmpty || gap.nonEmpty) Seq(t) else Nil) ++ gap.map(_ => t)
    val types = (rowTs ++ lagIn.map(attr) ++ locfIn.map(attr)).map(_.dataType) ++ gap.toSeq.flatMap(_ => Seq(LongType, LongType))
    require(types.size == names.size, s"${names.size} names for ${types.size} added columns")
    val added = names.zip(types).map { case (n, dt) => AttributeReference(n, dt)() }
    BucketedPassStrategy.register(df.sparkSession)
    PlanBridge.ofRows(
      df.sparkSession,
      BucketedPass(
        keys.map(attr), order.map(attr), t, attr(start), inner.fold[Expression](Literal(0L))(attr),
        lagIn.map(attr), locfIn.map(attr), gap, carryIn, added, child))
  }
}

/** Plans [[BucketedPass]] into [[BucketedPassExec]]. */
private[ops] object BucketedPassStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: BucketedPass =>
      BucketedPassExec(
        p.keys, p.order, p.ts, p.start, p.inner, p.lagIn, p.locfIn, p.gap, p.carryIn, p.added,
        planLater(p.child)) :: Nil
    case _ => Nil
  }

  /** Adds this strategy to the session's planner once, however often it is
    * called (the live-session form of a `spark.sql.extensions` entry). */
  def register(spark: SparkSession): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(this)) ex.extraStrategies = this +: ex.extraStrategies
    }
  }
}

/** The physical bucketed pass. It asks for its input clustered on exactly
  * `keys` and sorted by `keys ++ order`, so `EnsureRequirements` plans the
  * one exchange and the sort; then one streaming iterator with a one-row
  * lookahead computes every added column per row. It generates no window
  * projections: the only generated class is the output row's
  * `UnsafeProjection`, one per output schema.
  *
  * Metrics: `numOutputRows`; in row mode `numBuckets` (non-empty clusters)
  * and `maxBucketRows` (the most rows in one cluster); in carry-in mode
  * `carryInRows` (buckets that take a carry from an earlier bucket of
  * their entity). */
private[ops] final case class BucketedPassExec(
    keys: Seq[Expression],
    order: Seq[Expression],
    ts: Expression,
    start: Expression,
    inner: Expression,
    lagIn: Seq[Expression],
    locfIn: Seq[Expression],
    gap: Option[Long],
    carryIn: Boolean,
    added: Seq[Attribute],
    child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ added
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys, requireAllClusterKeys = true) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (keys ++ order).map(SortOrder(_, Ascending)) :: Nil

  override lazy val metrics: Map[String, SQLMetric] = {
    val sc = sparkContext
    Map("numOutputRows" -> SQLMetrics.createMetric(sc, "number of output rows")) ++ (
      if (carryIn) Map("carryInRows" -> SQLMetrics.createMetric(sc, "carry-in rows"))
      else
        Map(
          "numBuckets" -> SQLMetrics.createMetric(sc, "non-empty buckets"),
          "maxBucketRows" -> MaxMetric(sc, "max bucket rows")))
  }

  override protected def withNewChildInternal(c: SparkPlan): BucketedPassExec = copy(child = c)

  protected override def doExecute(): RDD[InternalRow] = {
    val in = child.output
    def bind(e: Expression): Expression = BindReferences.bindReference(e, in)
    val sameKeys = new InterpretedOrdering(keys.map(k => SortOrder(bind(k), Ascending)))
    val (t, s, k) = (bind(ts), bind(start), bind(inner))
    val (lags, locfs) = (lagIn.map(bind).toArray, locfIn.map(bind).toArray)
    val limit = gap.getOrElse(0L)
    val above: (Any, Any) => Boolean = ts.dataType match {
      case FloatType | DoubleType =>
        (a, b) => a.asInstanceOf[Number].doubleValue - b.asInstanceOf[Number].doubleValue > limit
      case _ => (a, b) => a.asInstanceOf[Number].longValue - b.asInstanceOf[Number].longValue > limit
    }
    val types = (in ++ added).map(_.dataType).toArray
    val (g, carry, prevTs, nAdded) = (gap, carryIn, lagIn.nonEmpty || gap.nonEmpty, added.size)
    val rowsOut = longMetric("numOutputRows")
    val (buckets, maxRows, carried) = (metrics.get("numBuckets"), metrics.get("maxBucketRows"), metrics.get("carryInRows"))

    child.execute().mapPartitions({ rows =>
      val proj = UnsafeProjection.create(types)
      val vals = new Array[Any](nAdded)
      val extra = new GenericInternalRow(vals)
      val joined = new JoinedRow
      val fill = new Array[Any](locfs.length)
      var prev: InternalRow = null // the previous row of this cluster
      var cur: InternalRow = if (rows.hasNext) rows.next().copy() else null
      var first: Any = null
      var running = 0L
      var clusterRows, mostRows = 0L
      new Iterator[InternalRow] {
        def hasNext: Boolean = cur != null

        def next(): InternalRow = {
          val row = cur
          cur = if (rows.hasNext) rows.next().copy() else null
          val last = cur == null || sameKeys.compare(row, cur) != 0
          if (prev == null) {
            java.util.Arrays.fill(fill.asInstanceOf[Array[AnyRef]], null)
            first = t.eval(row)
            running = 0L
            clusterRows = 0L
            buckets.foreach(_ += 1)
          } else carried.foreach(_ += 1)
          clusterRows += 1
          val lagTs = if (prev == null) null else t.eval(prev)
          var i = 0
          def put(v: Any): Unit = { vals(i) = v; i += 1 }
          if (!carry) {
            put(if (last) null else t.eval(cur))
            if (prevTs) put(lagTs)
            if (g.nonEmpty) put(first)
          }
          lags.foreach(e => put(if (prev == null) null else e.eval(prev)))
          var j = 0
          while (j < locfs.length) {
            val v = locfs(j).eval(row)
            if (carry) put(fill(j))
            if (v != null) fill(j) = v
            if (!carry) put(fill(j))
            j += 1
          }
          if (g.nonEmpty) {
            val st = s.eval(row)
            val flag =
              if (lagTs == null) { if (carry) 1L else 0L }
              else if (st != null && above(st, lagTs)) 1L
              else 0L
            val step = flag + k.eval(row).asInstanceOf[Long]
            put(flag)
            put(if (carry) running else running + step)
            running += step
          }
          if (last) {
            prev = null
            if (clusterRows > mostRows) {
              mostRows = clusterRows
              maxRows.foreach(_.set(mostRows))
            }
          } else prev = row
          rowsOut += 1
          proj(joined(row, extra))
        }
      }
    }, preservesPartitioning = true)
  }
}

/** A SQL metric whose driver value is the largest of its task values. */
private final class MaxMetric extends SQLMetric("sum", 0L) {
  override def merge(other: AccumulatorV2[Long, Long]): Unit =
    if (other.value > value) set(other.value)
  override def copy(): MaxMetric = {
    val m = new MaxMetric
    m.set(value)
    m
  }
}

private object MaxMetric {
  def apply(sc: SparkContext, name: String): MaxMetric = {
    val m = new MaxMetric
    sc.register(m, name)
    m
  }
}
