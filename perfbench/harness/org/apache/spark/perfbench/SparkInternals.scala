package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two Spark-internal reads the benchmark needs, reachable only from
  * inside the `org.apache.spark` package. */
object SparkInternals {

  /** Block until every listener event posted so far has been delivered, so
    * span accounting sees the jobs and tasks that ran inside the span. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Bytes held by every block manager right now (memory + disk, RDD and
    * broadcast blocks alike). */
  def blockBytes(sc: SparkContext): Long =
    sc.env.blockManager.master.getStorageStatus.map(s => s.memUsed + s.diskUsed).sum
}
