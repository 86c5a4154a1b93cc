package graft.pipeline

import graft.SparkSpec
import graft.ops.Windows
import graft.synth.SynthImages

/** Plan shape of the flagship pipeline: `frameFeatures` is staged, so the
  * window stage runs once however many readers its output has. */
class FeaturePipelineSpec extends SparkSpec {

  test("frameFeatures' readers plan no frameWindows attribute: the window stage sits below the staged scan") {
    val ff = FeaturePipeline.frameFeatures(SynthImages.table(spark, 2, 64))
    val probes = SynthImages.probes(spark, 2, 64, 4).withColumnRenamed("asOfTs", "ts")
    Seq(
      "secondFeatures" -> FeaturePipeline.secondFeatures(ff, Windows.CeilTail),
      "probeFeatures" -> FeaturePipeline.probeFeatures(ff, probes)).foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      val bw = plan.flatMap(p => p.output ++ p.references).map(_.name).filter(_.startsWith("__bw_")).distinct
      assert(bw.isEmpty, s"$name re-plans frameWindows (${bw.mkString(", ")}):\n$plan")
    }
  }
}
