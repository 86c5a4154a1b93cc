package graft

import org.apache.spark.sql.functions._

/** Dedup-suite scale probe: a deterministic synthetic corpus 20-100× the
  * sf0.1 documents fixture, each operator timed end-to-end, one
  * `DEDUPBENCH {...}` JSON line. Evidence for the 100 TB question "does the
  * candidate topology stay linear when the corpus grows?" — candidate/pair
  * counts are printed next to the times so a super-linear blow-up would be
  * visible immediately.
  *
  * Corpus: ~60-word docs over a mixing-hash vocabulary; 1-in-37 docs is a
  * 90% near-duplicate of its neighbor (exercises LSH/Jaccard candidate
  * paths), 1-in-101 is an exact duplicate. No runtime randomness — any
  * partition regenerates independently (same property as SynthImages).
  *
  * Run: `runMain graft.DedupBench [nDocs] [cpus]` (default 100000 32).
  */
object DedupBench {

  /** Deterministic doc text: wordCount words drawn by splittable mix;
    * near-dup neighbors share all but the last 6 words. */
  private[graft] def docText(id: Long): String = {
    val exactDupOf = if (id % 101 == 100) id - 1 else id
    val nearDupOf = if (exactDupOf % 37 == 36) exactDupOf - 1 else exactDupOf
    val words = new StringBuilder
    var j = 0
    val n = 54 + (graft.synth.SynthImages.mix(nearDupOf, 997L) % 12).toInt
    while (j < n) {
      // last 6 words come from the doc's OWN id unless it's an exact dup —
      // a near-dup pair shares the first n-6 words only
      val src = if (j < n - 6 || exactDupOf != id) nearDupOf else id
      val w = graft.synth.SynthImages.mix(src, j.toLong, 31L) % 5000
      words.append("w").append(w)
      if (j < n - 1) words.append(' ')
      j += 1
    }
    words.toString
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toInt else 100000
    val cpus = if (args.length > 1) args(1).toInt else 32
    val spark = Bench.session(cpus)
    import spark.implicits._
    val textUdf = udf((id: Long) => docText(id))
    val docs = graft.ops.Staging.stage(
      spark.range(nDocs).select(col("id").as("doc_id"), textUdf(col("id")).as("text")))
    docs.count() // generation excluded from every op's timing
    def timed(name: String)(f: => Long): (String, Double, Long) = {
      val t0 = System.nanoTime()
      val out = f
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[dedup] $name sec=$sec%.2f out=$out")
      (name, sec, out)
    }
    val results = Seq(
      timed("exact")(graft.dedup.Dedup.exact(docs, "doc_id", "text")
        .where(col("n_dups") > 1).count()),
      timed("minhash_sig")(graft.dedup.Dedup.minhashSigDf(docs, "doc_id", "text", 3, 16)
        .agg(count(lit(1)), expr("bit_xor(xxhash64(concat_ws('|', sig)))")).head().getLong(0)),
      timed("minhash_lsh")(graft.dedup.Dedup.minhashLsh(docs, "doc_id", "text").count()),
      timed("ngram_jaccard")(graft.dedup.Dedup.ngramJaccard(docs, "doc_id", "text").count()),
      timed("simhash")(docs.select(graft.dedup.Dedup.simhash(col("text")).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).head().getLong(0)))
    val parts = results.map { case (n, s, out) =>
      f""""$n":{"sec":$s%.2f,"docs_per_sec":${nDocs / s}%.1f,"out":$out}"""
    }
    println(s"""DEDUPBENCH {"docs":$nDocs,"cpus":$cpus,${parts.mkString(",")}}""")
    spark.stop()
  }
}
