package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Engine-layer counts for the traced run: jobs, tasks, executor run and
  * CPU time, GC, shuffle bytes, spill, result bytes, and the RDDs
  * unpersisted (for the checkpoint census). Registered by the benchmark.
  */
final class EngineListener extends SparkListener {
  private val unpersisted = new ConcurrentLinkedQueue[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.add("engine.jobs")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Trace.add("engine.tasks")
    if (m != null) {
      Trace.add("engine.executor_run_ms", m.executorRunTime)
      Trace.add("engine.executor_cpu_ns", m.executorCpuTime)
      Trace.add("engine.gc_ms", m.jvmGCTime)
      Trace.add("engine.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      Trace.add("engine.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      Trace.add("engine.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      Trace.add("engine.result_bytes", m.resultSize)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = unpersisted.add(e.rddId)

  /** RDD ids unpersisted since the last call. */
  def takeUnpersisted(): Seq[Int] = {
    val out = unpersisted.asScala.toIndexedSeq
    unpersisted.clear()
    out
  }
}
