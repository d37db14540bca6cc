package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Probe-side shuffle-volume meter: accumulates shuffle read/write bytes
  * across all tasks while attached. Local wall-clock hides shuffled-VOLUME
  * asymmetry (memory-speed exchanges), so maintenance-fold probes
  * (TriIncProbe) report bytes next to seconds — the
  * quantity that becomes the bottleneck on a network-bound cluster. */
class ShuffleMeter extends SparkListener {
  val read = new AtomicLong
  val write = new AtomicLong
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

object ShuffleMeter {
  /** Run `f` with a fresh meter attached; returns (result, readMB,
    * writtenMB). Sleeps briefly after the run so the listener bus drains
    * (probe-grade accuracy, not accounting-grade). */
  def measure[A](spark: SparkSession)(f: => A): (A, Double, Double) = {
    val m = new ShuffleMeter
    spark.sparkContext.addSparkListener(m)
    try {
      val r = f
      Thread.sleep(500)
      (r, m.read.get() / 1e6, m.write.get() / 1e6)
    } finally spark.sparkContext.removeSparkListener(m)
  }
}
