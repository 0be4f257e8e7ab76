package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop, single-client query workload over `graft.SparkEntry`.
  *
  * `--warm` untimed passes come first: the first runs every query once
  * and writes its rows under `<out>/results/<name>`, and each query's
  * DuckDB oracle SQL to `<out>/oracle_sql.json`, for the oracle check;
  * the others run as the timed passes do, to settle the JIT. Then
  * `--passes` timed passes run, each starting one query later in the
  * mix than the one before. Each timed query is the constructor call
  * `SparkEntry.queries(name)(spark, dir)` followed by a `noop` write,
  * which executes every output column without file I/O. The engine's
  * release hooks run between all passes, so every pass pays its own
  * shared builds.
  *
  * Prints `PB session` when the session is up, `PB cold_done <s>` with
  * the process CPU seconds so far when the first pass has finished, `PB warm_done` when all untimed passes have
  * finished and, last, one `PB {json}` line with the samples (and, with `--trace 1`,
  * the per-span listener counts) and the count of untimed queries run
  * and failed. Usage:
  * {{{
  * QueryHarness --data DIR --queries q1,q2 --warm W --passes P
  *              --trace 0|1 --out DIR --cpus N --run-id ID
  * }}}
  */
object QueryHarness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val dir = opt("data")
    val names = opt("queries").split(",").toSeq
    val warm = opt("warm").toInt
    val timedPasses = opt("passes").toInt
    val trace = opt("trace") == "1"
    val out = opt("out")
    val spark = graft.SessionDefaults.builder(opt("cpus")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println("PB session")
    val queries = names.map(n => n -> graft.SparkEntry.queries(n))
    val tracer = if (trace) Some(new Tracer(spark)) else None

    // untimed queries run and failed, counted with the timed samples
    var untimed, untimedFailed = 0
    def untimedRun(n: String)(body: => Unit): Unit = {
      untimed += 1
      try body
      catch { case e: Exception => untimedFailed += 1; report(n, e) }
    }
    queries.foreach { case (n, fn) =>
      untimedRun(n) {
        fn(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/results/$n")
      }
    }
    val oracles = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.obj(names.flatMap(n => oracles.get(n).map(n -> _)): _*))
    println("PB cold_done " + cpuS())
    for (_ <- 1 until warm) {
      release(spark)
      queries.foreach { case (n, fn) =>
        untimedRun(n) {
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        }
      }
    }
    graft.MemoLog.drain()
    println("PB warm_done")

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum
    val samples = mutable.ArrayBuffer[Sample]()
    val passCpu, passWall = mutable.ArrayBuffer[Double]()
    for (pass <- 0 until timedPasses) {
      release(spark)
      val cpu0 = cpuS()
      val p0 = System.nanoTime()
      // timed pass p starts at the mix's query p, so over a multiple of
      // the mix's length every query runs once in every position
      val k = pass % queries.size
      for ((n, fn) <- queries.drop(k) ++ queries.take(k)) {
        val key = s"$n#$pass"
        tracer.foreach(_.open(key))
        val g0 = gcMs()
        val c0 = cpuS()
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, dir)
          val t1 = System.nanoTime()
          val w1 = System.currentTimeMillis()
          df.write.format("noop").mode("overwrite").save()
          val t2 = System.nanoTime()
          val w2 = System.currentTimeMillis()
          samples += Sample(n, pass, false, (t1 - t0) / 1e9,
                            (t2 - t1) / 1e9, (gcMs() - g0) / 1e3,
                            cpuS() - c0, w1, w2)
        } catch { case e: Exception =>
          report(n, e)
          samples += Sample(n, pass, true, 0, 0, 0, 0, 0, 0)
        }
      }
      passCpu += cpuS() - cpu0
      passWall += (System.nanoTime() - p0) / 1e9
    }
    // The least heap in use over several full collections: Spark's
    // context cleaner frees shuffle and broadcast state only after a GC
    // has cleared the references to it, so one collection is not enough.
    val heap = ManagementFactory.getMemoryMXBean
    val heapMb = (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(100)
      heap.getHeapMemoryUsage.getUsed / 1e6
    }.min
    val memo = graft.MemoLog.drain()
    val spans = tracer.map(_.finish()).getOrElse(Map.empty)

    val json = Json.obj(
      "run_id" -> opt("run-id"),
      "passes" -> timedPasses,
      "untimed" -> untimed,
      "untimed_failed" -> untimedFailed,
      "pass_cpu_s" -> passCpu,
      "pass_wall_s" -> passWall,
      "heap_live_mb" -> heapMb,
      "memo_builds" -> memo.size,
      "memo_build_s" -> memo.map(_.selfSec).sum,
      "samples" -> samples.map { s =>
        val span = spans.getOrElse(s"${s.name}#${s.pass}", Counts())
        val base = Json.fields(
          "name" -> s.name, "pass" -> s.pass, "failed" -> s.failed,
          "build_s" -> s.buildS,
          "action_s" -> s.actionS, "gc_s" -> s.gcS,
          "cpu_s" -> s.cpuS)
        Json.Raw("{" + base +
          (if (trace) "," + span.toJson(s.w1, s.w2) else "") + "}")
      })
    println("PB " + json)
    spark.stop()
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** User + system CPU seconds of this process so far. */
  private def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** The engine's public release hooks: drop every session-shared frame
    * and memo so the next pass builds them again. */
  private def release(spark: SparkSession): Unit = {
    graft.ops.DedupOps.clearPairsCache()
    graft.ops.SimOps.clearSimCaches()
    graft.ops.GraphOps.clearMessageCache()
    graft.ops.TextOps.clearBpeCache()
    graft.ops.JoinOps.clearHotKeyCache()
    spark.catalog.clearCache()
  }

  private def report(name: String, e: Exception): Unit = {
    System.err.println(s"[perfbench] $name failed: $e")
    e.printStackTrace()
  }

  final case class Sample(name: String, pass: Int, failed: Boolean,
                          buildS: Double,
                          actionS: Double, gcS: Double, cpuS: Double,
                          w1: Long, w2: Long)

  /** Listener counts of one query span. */
  final case class Counts(
      var jobs: Long = 0, var tasks: Long = 0, var taskS: Double = 0,
      var shuffleWrite: Long = 0, var shuffleRead: Long = 0,
      var spill: Long = 0, var inputRows: Long = 0,
      var exchanges: Long = 0, var broadcastJoins: Long = 0,
      jobSpans: mutable.ArrayBuffer[(Long, Long)] =
        mutable.ArrayBuffer.empty) {

    /** Action wall with no job of this span running, in seconds. */
    def driverOnlyS(a: Long, b: Long): Double = {
      var covered = 0L
      var reach = a
      for ((s, e) <- jobSpans.sorted) {
        val lo = math.max(s, reach)
        val hi = math.min(e, b)
        if (hi > lo) { covered += hi - lo; reach = hi }
      }
      (b - a - covered) / 1e3
    }

    def toJson(a: Long, b: Long): String = Json.fields(
      "driver_only_s" -> driverOnlyS(a, b), "jobs" -> jobs,
      "tasks" -> tasks, "task_s" -> taskS,
      "shuffle_write_b" -> shuffleWrite, "shuffle_read_b" -> shuffleRead,
      "spill_b" -> spill, "input_rows" -> inputRows,
      "exchanges" -> exchanges, "broadcast_joins" -> broadcastJoins)
  }

  /** Attributes scheduler events and executed plans to the query span
    * open when they were submitted, through a job-group-like local
    * property. Everything is kept in memory and read once at the end. */
  final class Tracer(spark: SparkSession) extends SparkListener
      with QueryExecutionListener with AdaptiveSparkPlanHelper {
    private val Prop = "perfbench.span"
    private val Sentinel = "__sentinel__"
    private val counts = mutable.Map[String, Counts]()
    private val stageSpan = mutable.Map[Int, String]()
    private val jobSpan = mutable.Map[Int, (String, Long)]()
    // the span of the latest job: plan events arrive on the same listener
    // queue right after the jobs of their execution
    private var lastSpan: Option[String] = None
    private val sentinelJobs = mutable.Set[Int]()
    @volatile private var sentinelSeen = false

    spark.sparkContext.addSparkListener(this)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(this)

    def open(key: String): Unit =
      spark.sparkContext.setLocalProperty(Prop, key)

    private def span(key: String): Counts =
      counts.getOrElseUpdate(key, Counts())

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val key = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      key.filter(_ == Sentinel).foreach(_ => sentinelJobs += e.jobId)
      key.filter(_ != Sentinel).foreach { k =>
        span(k).jobs += 1
        jobSpan(e.jobId) = (k, e.time)
        e.stageIds.foreach(stageSpan(_) = k)
        lastSpan = Some(k)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (k, t0) =>
        span(k).jobSpans += ((t0, e.time))
      }
      if (sentinelJobs.contains(e.jobId)) sentinelSeen = true
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach { k =>
          val c = span(k)
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
      }

    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = synchronized {
      lastSpan.foreach { k =>
        val plan = qe.executedPlan
        val c = span(k)
        c.exchanges += collectWithSubqueries(plan) {
          case x: ShuffleExchangeLike => x }.size
        c.broadcastJoins += collectWithSubqueries(plan) {
          case j: BroadcastHashJoinExec => j
          case j: BroadcastNestedLoopJoinExec => j }.size
      }
    }

    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()

    /** Wait until the listener bus has delivered every event posted so
      * far (a marker job's end arrives after them), then detach. */
    def finish(): Map[String, Counts] = {
      spark.sparkContext.setLocalProperty(Prop, Sentinel)
      spark.range(1).count()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(5)
      spark.sparkContext.removeSparkListener(this)
      synchronized(counts.toMap)
    }
  }
}

/** Minimal JSON writer for the harness's one result line. */
object Json {
  /** Already-serialized JSON, embedded as is. */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case Raw(json) => json
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  /** `"k": v` pairs without braces, so objects can be concatenated. */
  def fields(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${value(k)}:${value(v)}" }.mkString(",")
  def obj(kv: (String, Any)*): String = "{" + fields(kv: _*) + "}"
}
