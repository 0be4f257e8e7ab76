package graft.io

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Run-level I/O accounting (SURVEY.md §2.1 A13–A15).
  *
  * The reference counts read ops and bytes by wrapping DuckDB's FileSystem
  * (reference runner.cc:75–172); the Spark-idiomatic seam for the same
  * observation on a cluster is a SparkListener over task input metrics.
  * A per-HTTP-GET "read ops" count has no task-level Spark analog, so
  * `readTasks` (scan tasks that actually read input) is reported as the
  * documented approximation (SURVEY.md §3.3). In local mode the runner
  * reports [[Metrics.monitored]] instead: the filesystems count their
  * own requests and bytes.
  */
class Metrics extends SparkListener {
  private val bytes = new LongAdder
  private val records = new LongAdder
  private val tasks = new AtomicLong

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val in = taskEnd.taskMetrics.inputMetrics
    if (in.bytesRead > 0 || in.recordsRead > 0) {
      bytes.add(in.bytesRead)
      records.add(in.recordsRead)
      tasks.incrementAndGet()
    }
  }

  def bytesRead: Long = bytes.sum
  def recordsRead: Long = records.sum
  def readTasks: Long = tasks.get
}

object Metrics {
  /** This JVM's read requests and bytes over every monitored filesystem,
    * as (ops, bytes): ghttp's GETs ([[GraftHttpFileSystem]]), counted
    * `file://` reads ([[CountingLocalFileSystem]]) and s3a's
    * `stream_read_operations` / `stream_read_bytes` from Hadoop's global
    * storage statistics (≈ HTTP range GETs, the closest analog to the
    * reference's per-read counter, runner.cc:86–94,109–117). The three
    * are disjoint.
    *
    * The counters are JVM-global and monotonic, and in-JVM only — they
    * see nothing from remote executors — so they are only meaningful in
    * local mode and as a before/after delta around the measured window;
    * the caller (runner/Main) gates on `sparkContext.isLocal` and
    * snapshots around the run. */
  def monitored(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val s3 = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .iterator().asScala.toSeq
      .filter(s => s.getScheme == "s3a" || s.getScheme == "s3")
    def s3Stat(key: String): Long =
      s3.flatMap(s => Option(s.getLong(key)).map(_.longValue())).sum
    val (httpOps, _, httpBytes) = GraftHttpFileSystem.snapshot
    val (localOps, localBytes) = CountingLocalFileSystem.snapshot
    (httpOps + localOps + s3Stat("stream_read_operations"),
     httpBytes + localBytes + s3Stat("stream_read_bytes"))
  }
}
