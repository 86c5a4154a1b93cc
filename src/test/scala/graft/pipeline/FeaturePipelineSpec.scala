package graft.pipeline

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.types.BinaryType

import graft.SparkSpec
import graft.ops.Windows
import graft.synth.SynthImages

/** Plan shape of the flagship pipeline: `frameFeatures` is staged, so the
  * decode and the window stage run once however many readers its output
  * has. */
class FeaturePipelineSpec extends SparkSpec {

  test("frameFeatures' readers plan no frameWindows attribute: the window stage sits below the staged scan") {
    val ff = FeaturePipeline.frameFeatures(SynthImages.table(spark, 2, 64))
    val probes = SynthImages.probes(spark, 2, 64, 4).withColumnRenamed("asOfTs", "ts")
    Seq(
      "secondFeatures" -> FeaturePipeline.secondFeatures(ff, Windows.CeilTail),
      "probeFeatures" -> FeaturePipeline.probeFeatures(ff, probes)).foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      // the as-of runs its own bucketed pass, so `__bw_*` names may appear;
      // frameFeatures' window inputs and outputs, and the decode, may not
      val fw = plan.flatMap(p => p.output ++ p.references).map(_.name)
        .filter(Set("bytes", "caption_rw", "caption_rw_filled", "vec_lag1")).distinct
      assert(fw.isEmpty, s"$name re-plans frameFeatures' window stage (${fw.mkString(", ")}):\n$plan")
      val decode = plan.flatMap(_.expressions.flatMap(_.collect {
        case u: ScalaUDF if u.children.exists(_.dataType == BinaryType) => u
      }))
      assert(decode.isEmpty, s"$name re-plans the image decode UDF:\n$plan")
    }
  }
}
