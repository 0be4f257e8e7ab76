package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Whole-process Spark counts for a program the benchmark launches but
  * does not drive itself (the runner CLI). Attached from outside with
  * JVM options only:
  * {{{
  * -Dspark.extraListeners=perfbench.SparkProbe
  * -Dspark.sql.queryExecutionListeners=perfbench.SparkProbe
  * -Dperfbench.probe.out=FILE
  * }}}
  * Spark makes one instance for each setting; they share the counters
  * below. When the application ends (the listener bus has delivered
  * every earlier event by then) the probe runs a few full collections
  * and writes one JSON object to FILE: job, task, shuffle, scan and plan
  * counts, each job's start and end (epoch ms), the JVM's GC time and
  * the least heap in use. */
class SparkProbe(conf: SparkConf) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  def this() = this(new SparkConf())

  import SparkProbe._

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    c.jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach(t0 => c.jobSpans += ((t0, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val m = e.stageInfo.taskMetrics
      c.tasks += e.stageInfo.numTasks
      if (m != null) {
        c.taskS += m.executorRunTime / 1e3
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.inputRows += m.inputMetrics.recordsRead
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = lock.synchronized {
    val plan = qe.executedPlan
    c.exchanges += collectWithSubqueries(plan) {
      case x: ShuffleExchangeLike => x }.size
    c.broadcastJoins += collectWithSubqueries(plan) {
      case j: BroadcastHashJoinExec => j
      case j: BroadcastNestedLoopJoinExec => j }.size
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    val out = conf.getOption("perfbench.probe.out")
      .orElse(sys.props.get("perfbench.probe.out"))
    out.foreach { path =>
      val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ > 0).sum
      val heap = ManagementFactory.getMemoryMXBean
      val heapMb = (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(100)
        heap.getHeapMemoryUsage.getUsed / 1e6
      }.min
      val json = lock.synchronized {
        Json.obj(
          "jobs" -> c.jobs, "tasks" -> c.tasks, "task_s" -> c.taskS,
          "shuffle_write_b" -> c.shuffleWrite,
          "shuffle_read_b" -> c.shuffleRead, "spill_b" -> c.spill,
          "input_rows" -> c.inputRows, "exchanges" -> c.exchanges,
          "broadcast_joins" -> c.broadcastJoins,
          "job_spans_ms" -> c.jobSpans.map { case (a, b) =>
            Json.Raw(s"[$a,$b]") },
          "gc_s" -> gcMs / 1e3, "heap_live_mb" -> heapMb)
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
    }
  }
}

object SparkProbe {
  private val lock = new Object
  private val c = QueryHarness.Counts()
  private val jobStart = mutable.Map[Int, Long]()
}
