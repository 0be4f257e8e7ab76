package graft.io

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.executor.InputMetrics

/** Run-level I/O accounting (SURVEY.md §2.1 A13–A15).
  *
  * The reference counts read ops and bytes by wrapping DuckDB's FileSystem
  * (reference runner.cc:75–172); the runner does the same with
  * [[Metrics.monitored]]: the filesystems count their own requests and
  * bytes. For a scheme that is not monitored, an instance sums the input
  * metrics of the runner's runs, and `readTasks` (runs that actually read
  * input) stands in for the per-request op count (SURVEY.md §3.3).
  */
final class Metrics {
  private val bytes = new LongAdder
  private val tasks = new LongAdder

  /** Counts one run's input, if it read any. */
  def add(in: InputMetrics): Unit =
    if (in.bytesRead > 0 || in.recordsRead > 0) {
      bytes.add(in.bytesRead)
      tasks.increment()
    }

  def bytesRead: Long = bytes.sum
  def readTasks: Long = tasks.sum
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
    * The counters are JVM-global and monotonic, so they are meaningful as
    * a before/after delta around the measured window; the runner reads
    * every file in its own JVM, so they see all of its reads. */
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
