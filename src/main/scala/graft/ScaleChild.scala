package graft

/** Time-boxed scaling child: one parallelism level in a pristine JVM
  * (sequential SparkSessions in one JVM degrade — JIT/metaspace churn).
  *
  * args = cpus [fixturePath]; SPARK_GRAFT_CHILD_BUDGET_SEC bounds wall time
  * measured from JVM start (session startup + warm-up included), so the
  * parent derives the timeout from ITS budget instead of a constant.
  *
  * Protocol: after EVERY timed unit print a cumulative line
  *   `SCALE cpus=N units=U rows=R elapsed=S rps=X best=Y`
  * and flush — a child killed mid-run has already reported everything it
  * measured. A unit is `unitChunks` fixture chunk directories (pruned scan
  * of entity % NChunks groups, wrap-around over units so coverage tiles the
  * whole fixture); the first unit is the untimed JIT warm-up. `rps` is
  * cumulative rows/elapsed over timed units; `best` is the best single-unit
  * rps — the per-level estimator (host noise is strictly downward, see
  * BASELINE.md). Unit sizes per level keep per-unit work ≳5 s quiet so
  * fixed per-job overhead stays small at every level; the unit cap is
  * value-independent. */
object ScaleChild {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val cpus = args(0).toInt
    val path = if (args.length > 1) args(1) else s"/tmp/graft_bench_images_128x1024_c${Bench.NChunks}"
    val budgetSec =
      if (args.length > 2) args(2).toLong
      else sys.env.getOrElse("SPARK_GRAFT_CHILD_BUDGET_SEC", "120").toLong
    // more draws at 8/32 threads (and the pair efficiency is only as good
    // as the fast level's best clean window); 2-thread units are ~7s and
    // that level reproduces within ±3%. 8-thread units are 6 chunks (~6s
    // quiet, round-4 directive: was 4/~4s) so each draw spans more
    // host-noise windows — every sub-0.8 sample in the round-3 envelope was
    // an 8-thread level noise-cut in ALL of its windows.
    val maxUnits = sys.env.get("SPARK_GRAFT_CHILD_MAX_UNITS").map(_.toInt)
      .getOrElse(if (cpus <= 2) 12 else 24)
    val unitChunks = sys.env.get("SPARK_GRAFT_CHILD_UNIT_CHUNKS").map(_.toInt).getOrElse(
      if (cpus <= 2) 2 else if (cpus <= 8) 6 else Bench.NChunks)
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    val spark = Bench.session(cpus)
    try {
      def unit(u: Int): Long = {
        val ids = (0 until unitChunks).map(j => (u * unitChunks + j) % Bench.NChunks)
        Bench.consumeChunks(spark, path, ids)
      }
      // warm-up: 1 chunk at 2 threads, half a unit above — enough rows
      // (13-52k) to JIT-settle the decode path, cheap enough that a starved
      // budget still leaves room for timed units (best-of-units absorbs the
      // residual ramp; an expensive warm-up cannot be absorbed by anything)
      val warmChunks = if (cpus <= 2) 1 else math.max(2, unitChunks / 2)
      Bench.consumeChunks(spark, path, (0 until warmChunks).map(_ % Bench.NChunks))
      var rows = 0L
      var work = 0.0
      var best = 0.0
      var u = 1
      // `u == 1 ||`: ALWAYS measure at least one unit. Round-6 diagnosis:
      // under contention session init + warm-up alone can exceed the wall
      // budget, so the loop never ran and the child exited rc=0 with ZERO
      // SCALE lines — indistinguishable from a crash and wasting the whole
      // spawn. One overrun unit is covered by the parent's kill grace
      // (budget+90) and partial harvesting; a cold-ish single unit only
      // under-reports (the same downward direction as host noise, which
      // the best-of-level estimator already absorbs).
      while ((u == 1 || elapsed < budgetSec) && u <= maxUnits) {
        val s = System.nanoTime()
        val n = unit(u)
        val dt = (System.nanoTime() - s) / 1e9
        rows += n
        work += dt
        best = math.max(best, n / dt)
        println(f"SCALE cpus=$cpus units=$u rows=$rows elapsed=$work%.2f rps=${rows / work}%.1f best=$best%.1f")
        System.out.flush()
        // each unit's frameFeatures stages two relations (the decoded
        // frames and its own output); the blocks are consumed within the
        // unit and never read again — release them so a long child's block
        // manager does not grow per unit (review finding r6)
        Bench.releasePersistedRdds(spark)
        u += 1
      }
    } finally spark.stop()
  }
}
