package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The session memo store for shared builds (dedup shingle/pair frames,
  * the contraction gate, PQ index artifacts, k-means cells, graph
  * message bases, hot join keys, BPE merges) and the ledger of those
  * builds. Every memo in `graft.ops` lives here under one key —
  * (session, dir, ledger tag) — and is released by one call,
  * [[release]].
  *
  * Three rounds of bench postmortems hit the same wall: a memoized
  * frame's build cost is charged to whichever query happens to trigger
  * it first, so official per-query rows were irreproducible between
  * same-code full-suite runs (q_dedup_incremental read 11.5 s on one
  * run vs 2.7 s on another at the same HEAD with healthy CPU+IO
  * yardsticks — the runs differed only in which row paid the
  * rep-shingle build). Every memo build now:
  *
  *  1. runs inside [[timed]], which appends (tag, self seconds,
  *     triggering context) to a ledger the measurement harnesses drain
  *     into their artifacts — an inflated row is attributable from the
  *     artifact alone; and
  *  2. when it is a [[frame]], MATERIALIZES a persisted frame inside
  *     that charged window: a lazy persist() would charge plan
  *     construction here but leave the expensive first fill on the
  *     first consumer — exactly the misattribution again. Unpersisted
  *     memo frames (the deliberately-lazy contracted-path listings) are
  *     NOT counted: forcing them would compute a frame the consumer
  *     streams.
  *
  * Builds nest (a pair frame reads the contraction gate, which reads
  * the copy map), so a key is built under its own lock, not inside a
  * map's atomic compute: the first caller builds, concurrent callers of
  * the same key wait for it, and a build that throws stores nothing.
  * Nested builds subtract child time, so each ledger row is SELF
  * seconds and the rows sum to the run's total shared-infrastructure
  * cost regardless of nesting. The store is a snapshot — if the files
  * under a dir are rewritten mid-session, [[release]] first. The ledger
  * is driver-side, a few entries per run — never a memory concern for a
  * session that doesn't drain it.
  */
object MemoLog {

  /** One recorded build: `selfSec` excludes nested memo builds,
    * `totalSec` includes them, `by` is the harness context (query name
    * or shared-builds step) active when the build fired. */
  final case class Build(tag: String, selfSec: Double, totalSec: Double,
                         by: String)

  private val ledger = scala.collection.mutable.ArrayBuffer[Build]()

  @volatile private var context: String = ""

  /** Name the work unit (query, pass step) that subsequent builds are
    * attributed to. Harness-side only; defaults to "". */
  def setContext(c: String): Unit = context = c

  // per-thread stack of accumulated-child-seconds frames: two threads
  // may build different keys at once, and a thread-local keeps the
  // self-time math correct per thread
  private val childStack =
    new ThreadLocal[java.util.ArrayDeque[Array[Double]]] {
      override def initialValue() = new java.util.ArrayDeque[Array[Double]]()
    }

  /** Time an arbitrary build (driver-side collects included). */
  def timed[T](tag: String)(build: => T): T = {
    val st = childStack.get()
    st.push(Array(0.0))
    val t0 = System.nanoTime()
    try build finally {
      val total = (System.nanoTime() - t0) / 1e9
      val child = st.pop()(0)
      if (!st.isEmpty) st.peek()(0) += total
      ledger.synchronized {
        ledger += Build(tag, math.max(total - child, 0.0), total, context)
      }
    }
  }

  /** Remove and return everything recorded since the last drain. */
  def drain(): Seq[Build] = ledger.synchronized {
    val r = ledger.toList
    ledger.clear()
    r
  }

  /** Where one key's value is built once; null until a build succeeds. */
  private final class Slot { @volatile var value: Any = _ }

  private val store =
    new ConcurrentHashMap[(SparkSession, String, String), Slot]()

  /** Checkpoint RDDs whose frames the store's consumers still read. */
  private val held = scala.collection.mutable.ArrayBuffer[RDD[_]]()

  /** The memoized value of (`s`, `dir`, `tag`), built and ledgered
    * under `tag` by the first call. For scalar memos and for builds
    * that materialize their own frames. */
  def value[T](s: SparkSession, dir: String, tag: String)
              (build: => T): T = {
    val slot = store.computeIfAbsent((s, dir, tag), _ => new Slot)
    if (slot.value == null) slot.synchronized {
      if (slot.value == null) slot.value = timed(tag)(build)
    }
    slot.value.asInstanceOf[T]
  }

  /** A memoized frame; a persisted one is materialized in the build's
    * charged window. */
  def frame(s: SparkSession, dir: String, tag: String)
           (build: => DataFrame): DataFrame = value(s, dir, tag) {
    val df = build
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      df.count()
    df
  }

  /** true ⇒ (`s`, `dir`, `tag`) is built this session. */
  def has(s: SparkSession, dir: String, tag: String): Boolean =
    Option(store.get((s, dir, tag))).exists(_.value != null)

  /** Keep `rdd`'s blocks until the next [[release]]: a frame read from
    * a checkpoint (lineage truncated) outlives the call that made it. */
  def hold(rdd: RDD[_]): Unit = held.synchronized { held += rdd }

  /** Unpersist every stored frame (both halves of a frame pair) and
    * every held RDD, then empty the store. The ledger is untouched. */
  def release(): Unit = {
    def unpersist(v: Any): Unit = v match {
      case df: Dataset[_] =>
        try df.unpersist() catch { case _: Exception => () }
      case (a, b) => unpersist(a); unpersist(b)
      case _ => ()
    }
    store.values.forEach(slot => unpersist(slot.value))
    store.clear()
    held.synchronized {
      held.foreach(r =>
        try r.unpersist(blocking = false) catch { case _: Exception => () })
      held.clear()
    }
  }
}
