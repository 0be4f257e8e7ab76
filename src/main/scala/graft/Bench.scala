package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Per-window scheduler telemetry: job count and summed executor task
    * run time since the last snapshot. Listener events post
    * asynchronously (millisecond-scale lag after an action returns), so
    * a window's numbers can shed/absorb a trailing stage — fine for
    * attribution, which compares seconds, not milliseconds. */
  private final class SchedStats
      extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) { taskMs.addAndGet(m.executorRunTime); () }
    }
    def snap(): (Long, Long) = (jobs.get, taskMs.get)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionDefaults.builder(SessionDefaults.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // harness-only per-query stream teardown (StreamOps runStreamN)
    spark.conf.set("spark.graft.stream.teardown", "true")
    // Warm the session: scheduler, codegen cache, parquet footer caches,
    // and the JIT on the common physical operators (scan, hash agg,
    // sort-merge join, window, generate/explode, sort) — so the first
    // measured query doesn't absorb JVM init. Query-specific codegen
    // still lands in the cold pass; that's what the warm pass isolates.
    // Best-effort: a broken sfDir must still fall through to the
    // per-query isolation below.
    try {
      import org.apache.spark.sql.functions._
      spark.range(1000000).selectExpr("sum(id)").collect()
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .limit(20000).cache()
      val or = spark.read.parquet(s"$sfDir/orders.parquet").limit(20000)
      li.groupBy("l_returnflag").count().collect()
      li.join(or, li("l_orderkey") === or("o_orderkey"))
        .groupBy("l_linestatus").count().collect()
      li.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("l_returnflag").orderBy("l_orderkey")))
        .filter(col("rn") <= 3).collect()
      li.select(explode(split(lit("a b c"), " "))).count()
      li.orderBy("l_extendedprice").limit(10).collect()
      li.unpersist()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup skipped: ${e.getMessage}")
    }
    // noop sink: executes every declared column (count() lets Catalyst
    // prune unreferenced projections, under-measuring projection-heavy
    // queries) without paying file-write I/O.
    // Streaming state-store telemetry (max state rows/bytes per stateful
    // query, harvested from the harness after each run) — the measured
    // backing for the inventory's "state is O(horizon)" claims.
    val streamState = scala.collection.mutable.Map[String, (Long, Long)]()
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ > 0).sum
    }
    // JVM GC time spent INSIDE the most recent once() timed window
    // (after the deliberate between-query collection) — per-sample
    // attribution for the flagship tail below. lastRunJobs/lastRunTaskSec
    // carry the scheduler-side view of the same window (SchedStats): an
    // official row far above its standalone number decomposes from the
    // artifact alone — same jobs + same task_sec + bigger wall = the
    // host/scheduler window was slow; more jobs = plan-side drift.
    var lastRunGcMs = 0L
    var lastRunJobs = 0L
    var lastRunTaskSec = 0.0
    val sched = new SchedStats
    spark.sparkContext.addSparkListener(sched)
    def once(name: String,
             fn: (SparkSession, String) => DataFrame): Double = {
      // Collect cross-query garbage (shuffle bookkeeping, freed page-cache
      // buffers) outside the timed window: without it, each query pays the
      // GC debt of whichever queries happened to run before it — measured
      // ~0.2 s of drift on sub-second queries late in the alphabet.
      System.gc()
      // ledger context: any memoized shared-frame build that fires inside
      // this run is attributed to this query in the artifact (MemoLog)
      MemoLog.setContext(name)
      // reset BEFORE the try: a failed run's early return must not leave
      // the previous sample's GC delta to be stamped on this one
      lastRunGcMs = 0L
      lastRunJobs = 0L
      lastRunTaskSec = 0.0
      val g0 = gcMillis()
      val (j0, tm0) = sched.snap()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable =>
        // Drain (and discard) any state metrics the failed run populated
        // before dying — otherwise they'd be attributed to the next
        // successful query's name.
        graft.streaming.StreamOps.takeStateMetrics()
        return -1.0
      }
      val dt = (System.nanoTime() - t0) / 1e9
      lastRunGcMs = gcMillis() - g0
      val (j1, tm1) = sched.snap()
      lastRunJobs = j1 - j0
      lastRunTaskSec = (tm1 - tm0) / 1e3
      graft.streaming.StreamOps.takeStateMetrics()
        .foreach(m => streamState(name) = m)
      dt
    }
    // Host-speed calibration: a fixed CPU-bound workload (codegen'd
    // range-sum across all cores), median-of-3. Same-code flagship
    // timings measured 0.49 s vs 0.94 s in one afternoon on this build
    // host — raw seconds are NOT comparable across rounds unless the
    // host ran at the same speed, so the JSON carries the yardstick
    // (start AND end of the run; the host can drift mid-run too).
    // Compare rounds on sec/calib, not sec.
    // median-of-3 over the ONE shared workload (graft.Yardstick): three
    // spellings of the calibration had crept in across Bench/ScaleStress,
    // and a retune of any one would silently break cross-round
    // comparability of the others.
    def calibrate(): Double =
      (1 to 3).map(_ => Yardstick.calibQuick(spark)).sorted.apply(1)
    val calibStart = calibrate()
    // Local-iteration subset (comma-separated names); the driver never
    // sets it, so round artifacts always carry the full inventory.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Per-FAMILY host yardstick (r12 postmortem): one calibration pair
    // bracketing a 32-minute suite cannot say how fast the host was when
    // a given family ran — that round benched two dedup queries at 13×
    // their true cost because the host's slow window covered the early
    // alphabet only (calib 1.416 at start, 0.116 at end). The suite runs
    // alphabetically, so a single ~0.5 s probe at each family-prefix
    // boundary stamps every family with the host speed of ITS OWN
    // window; the judge normalizes per family from the artifact alone
    // instead of re-running outliers.
    def family(n: String): String = n.stripPrefix("q_").split("_")(0)
    def calibQuick(): Double = Yardstick.calibQuick(spark)
    // IO-side host yardstick (r16 postmortem; see graft.Yardstick): the
    // CPU-bound calibration cannot see disk/page-cache degradation, and
    // that blind spot cost two rounds of analysis — q_dedup_incremental's
    // official r16 row read 41.9 s warm against 3.0 s re-measured at
    // HEAD, and the artifact could not say whether the plan or the
    // host's IO was at fault. One probe per family boundary, per pass.
    val ioProbeFile = Yardstick.probeFileFor(sfDir)
    type IoProbe = Yardstick.IoProbe
    def ioProbe(): IoProbe = Yardstick.ioProbe(ioProbeFile)
    // Shared-infrastructure prebuild, once per pass (VERDICT r17 #1):
    // the suite memoizes big shared frames (shingle sets, band pairs,
    // the CC fixpoint, PQ index, k-means cells) and used to charge each
    // build to whichever query triggered it first in that pass's
    // alphabetical order — making the official dedup rows irreproducible
    // between same-code full-suite runs. Building them in an explicit,
    // separately-timed step makes every per-query row measure the QUERY
    // against warm shared frames; the build costs land in the artifact's
    // shared_builds fields, itemized per frame by the MemoLog ledger.
    // Skipped for SPARK_GRAFT_ONLY subsets (a subset run would prebuild
    // frames its queries never read — pure added cost).
    def sharedBuilds(label: String): Double =
      if (only.nonEmpty) 0.0
      else {
        MemoLog.setContext(label)
        val t0 = System.nanoTime()
        try {
          graft.ops.DedupOps.prebuildShared(spark, sfDir)
          graft.ops.SimOps.prebuildShared(spark, sfDir)
          graft.ops.GraphOps.prebuildShared(spark, sfDir)
          graft.ops.TextOps.prebuildShared(spark, sfDir)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] shared prebuild failed: " +
            Option(e.getMessage).getOrElse(e.getClass.getName))
        }
        (System.nanoTime() - t0) / 1e9
      }
    // Hot-row attribution (VERDICT r18 #3): the family calib is stamped
    // once at the family-prefix boundary, but a family like dedup spans
    // minutes — it cannot say how fast the host was when a given
    // multi-second query ran, which left q_dedup_incremental's official
    // 10.6 s vs the builder's 3.2 s unattributed for three rounds. The
    // hottest rows (top-6 by cold time — the contested set) get the
    // flagship-tail treatment IN the warm passes: a throughput
    // mini-calibration immediately before and after the query, plus the
    // per-window GC/jobs/task_sec every query now carries. ~0.5 s × 12
    // brackets × passes of overhead, outside every timed window.
    case class HotSample(sec: Double, calibBefore: Double,
                         calibAfter: Double, gcMs: Long, jobs: Long,
                         taskSec: Double)
    val hotDetail =
      scala.collection.mutable.Map[String,
        scala.collection.mutable.ArrayBuffer[HotSample]]()
    def runPass(label: String, hot: Set[String] = Set.empty):
        (Seq[(String, Double)], Double,
         Seq[(String, Double)], Seq[(String, IoProbe)]) = {
      val shared = sharedBuilds(s"shared:$label")
      val fams = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      val ios = scala.collection.mutable.ArrayBuffer[(String, IoProbe)]()
      var lastFam = ""
      val p = named.map { case (n, fn) =>
        val f = family(n)
        if (f != lastFam) {
          lastFam = f; fams += f -> calibQuick(); ios += f -> ioProbe()
        }
        if (hot(n)) {
          val cb = calibQuick()
          val sec = once(n, fn)
          val ca = calibQuick()
          hotDetail.getOrElseUpdate(n,
            scala.collection.mutable.ArrayBuffer()) +=
            HotSample(sec, cb, ca, lastRunGcMs, lastRunJobs, lastRunTaskSec)
          n -> sec
        } else n -> once(n, fn)
      }
      (p, shared, fams.toSeq, ios.toSeq)
    }
    val (cold, sharedCold, famCold, ioCold) = runPass("cold")
    // top-10 (was top-6): VERDICT r19 #1 grades the calib gate below on
    // "any top-10 warm row", so the bracket coverage must reach that far.
    val hotSet = cold.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map(_._1).toSet
    def releaseCaches(): Unit = {
      // (called BEFORE each warm pass, not after: the last pass's frames
      // stay warm so the IO-gate retries below measure queries, not
      // shared-frame rebuilds; the post-everything release is explicit)
      // Release every frame a pass persisted (session memos, per-query
      // persist()s, completed stream runs' sink dirs): carrying them
      // into the next pass doubles cached storage in the bench heap and
      // the resulting GC pressure distorts warm timings far more than
      // the cache reuse helps them.
      SessionDefaults.release(spark)
    }
    // Warm passes: codegen/JIT/page-cache warm — the steady-state number a
    // long-lived cluster session sees. Per-query local[*] timings swing up
    // to 1.5x run-to-run (GC pauses, page-cache state), so a single warm
    // pass is not a trustworthy round-over-round comparator: run N warm
    // passes and report the per-query MEDIAN.
    val warmN = sys.env.getOrElse("SPARK_GRAFT_WARM_PASSES", "3").toInt
    // One calibration PER WARM PASS: the host can drift ~2x WITHIN a
    // bench run (measured calib 0.30 -> 0.16 across one round-9 run), so
    // a start/end pair cannot say how fast the host was when a given
    // pass ran. Per-pass yardsticks let the gate ratio normalize each
    // flagship sample against the host speed of ITS OWN pass.
    val warmPasses = (1 to warmN).map { i =>
      releaseCaches()
      val (p, shared, fams, ios) = runPass(s"warm$i", hotSet)
      (p, calibrate(), fams, ios, shared)
    }
    val calibPasses = warmPasses.map(_._2)
    val sharedWarm = warmPasses.map(_._5)
    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else ok(ok.size / 2) // odd N -> true median; even N -> upper median
    }
    val famNames = famCold.map(_._1)
    val ioWarmSeries = famNames.map { f =>
      f -> warmPasses.map(_._4.toMap.apply(f))
    }
    // ---- IO quality gate (VERDICT r17 task 5) ----
    // The IO probes existed since r17 but nothing ACTED on them: a pass
    // whose family window shows fsync > 3× the run median (writeback /
    // compaction contention) or reread < 1/3 of it (page cache evicted,
    // disk contended) still landed its samples in the official medians,
    // and the round burned judge+builder time re-measuring. Now such a
    // family is re-run once on a PROBE-VERIFIED clean window (bounded:
    // ≤ 3 families, ≤ 2 extra probe attempts each) and the flagged
    // passes' samples are replaced for that family; the artifact records
    // what was retried and why (no silent substitution).
    val allIo = ioCold.map(_._2) ++ ioWarmSeries.flatMap(_._2)
    val medFsync = median(allIo.map(_.fsyncMs).filter(_ > 0))
    val medReread = median(allIo.map(_.rereadMbps).filter(_ > 0))
    def ioFlagged(p: IoProbe): Boolean =
      Yardstick.ioFlagged(p, medFsync, medReread)
    val ioWarmMap = ioWarmSeries.toMap
    val flaggedFams: Seq[(String, Seq[Int])] = famNames.map { f =>
      f -> ioWarmMap(f).zipWithIndex.collect {
        case (p, i) if ioFlagged(p) => i
      }
    }.filter(_._2.nonEmpty)
    val retries: Map[String, (Seq[Int], Map[String, Double], IoProbe)] =
      flaggedFams.take(3).flatMap { case (f, passes) =>
        var attempt = 0
        var probe = ioProbe()
        while (ioFlagged(probe) && attempt < 2) {
          Thread.sleep(2000); probe = ioProbe(); attempt += 1
        }
        if (ioFlagged(probe)) {
          System.err.println(s"[bench] io-gate: family $f flagged in " +
            s"warm passes ${passes.mkString(",")} but no clean retry " +
            "window found; medians keep all samples")
          None
        } else {
          System.err.println(s"[bench] io-gate: re-running family $f " +
            s"(flagged warm passes ${passes.mkString(",")})")
          val times = named.filter { case (n, _) => family(n) == f }
            .map { case (n, fn) => n -> once(n, fn) }.toMap
          Some(f -> ((passes, times, probe)))
        }
      }.toMap
    // ---- Hot-row calib gate (VERDICT r19 #1) ----
    // The io_gate above acts on FAMILY-level IO probes; hot rows
    // additionally carry per-sample CPU calib brackets (HotSample). For
    // three rounds running, q_dedup_incremental's official row was 3-4×
    // its clean-window number, and the hot_rows telemetry could PROVE
    // the host contention (calib_after 4-5× calib_before mid-sample)
    // but nothing ACTED on it — the judge still had to do forensics.
    // Now a hot sample whose bracket shows the host slowing mid-query
    // (max/min > 1.5) or running entirely inside a slow window
    // (min > 2× the run's median quick-calib) is dropped from the
    // median, and the row re-runs once on a CALIB-VERIFIED clean window
    // (bounded: ≤ 4 rows, ≤ 2 wait attempts, ≤ 2 run attempts each);
    // the artifact records what was dropped/retried and why — no
    // silent substitution, same contract as the io_gate.
    val runCalibMed = median(warmPasses.flatMap(_._3.map(_._2)))
    def calibDirty(cb: Double, ca: Double): Boolean = {
      val hi = math.max(cb, ca); val lo = math.max(math.min(cb, ca), 1e-9)
      hi / lo > 1.5 || (runCalibMed > 0 && lo > 2.0 * runCalibMed)
    }
    case class HotRetry(sec: Double, calibBefore: Double,
                        calibAfter: Double, used: Boolean)
    case class HotGate(dirtyIdx: Seq[Int], retriesRun: Seq[HotRetry])
    val hotGate: Map[String, HotGate] = {
      val flagged = hotDetail.toSeq.map { case (n, ss) =>
        n -> ss.zipWithIndex.collect {
          case (s, i) if s.sec >= 0 &&
            calibDirty(s.calibBefore, s.calibAfter) => i
        }.toSeq
      }.filter(_._2.nonEmpty)
      // worst contamination first: rows with the most dirty samples,
      // then the slowest
      val ordered = flagged.sortBy { case (n, idx) =>
        (-idx.size, -hotDetail(n).map(_.sec).max)
      }.take(4)
      val fnByName = named.toMap
      ordered.map { case (n, dirtyIdx) =>
        val rs = scala.collection.mutable.ArrayBuffer[HotRetry]()
        var accepted = false
        var runAttempt = 0
        while (!accepted && runAttempt < 2) {
          // wait (bounded) for a clean window before burning a run
          var waitAttempt = 0
          var cb = calibQuick()
          while (runCalibMed > 0 && cb > 1.5 * runCalibMed &&
                 waitAttempt < 2) {
            Thread.sleep(2000); cb = calibQuick(); waitAttempt += 1
          }
          val sec = once(n, fnByName(n))
          val ca = calibQuick()
          val clean = sec >= 0 && !calibDirty(cb, ca)
          rs += HotRetry(sec, cb, ca, clean)
          accepted = clean
          runAttempt += 1
        }
        if (!accepted)
          System.err.println(s"[bench] calib-gate: $n dirty samples " +
            s"${dirtyIdx.mkString(",")} but no clean retry achieved; " +
            "medians keep all samples")
        else
          System.err.println(s"[bench] calib-gate: $n replaced dirty " +
            s"samples ${dirtyIdx.mkString(",")} with a clean-window rerun")
        n -> HotGate(dirtyIdx, rs.toSeq)
      }.toMap
    }
    val warm = named.map { case (n, _) =>
      val samples = warmPasses.map(_._1.toMap.apply(n))
      val famFlagged = retries.get(family(n)).map(_._1).getOrElse(Nil)
      val famTimes = retries.get(family(n))
        .flatMap(_._2.get(n)).toSeq
      // calib-dirty samples are only EXCLUDED when a clean retry exists
      // to stand in — a gate that could not find a clean window keeps
      // the original samples (loudly, above) rather than thinning the
      // median to nothing.
      val g = hotGate.get(n).filter(_.retriesRun.exists(_.used))
      val calibDirtyIdx = g.map(_.dirtyIdx).getOrElse(Nil)
      val calibTimes = g.map(_.retriesRun.filter(_.used).map(_.sec))
        .getOrElse(Nil)
      val kept = samples.zipWithIndex.collect {
        case (v, i) if !famFlagged.contains(i) &&
          !calibDirtyIdx.contains(i) => v
      }
      val all = kept ++ famTimes ++ calibTimes
      n -> (if (all.exists(_ >= 0)) median(all) else median(samples))
    }
    // Machine-readable dirty-median tagging (VERDICT r20 #2): a hot row
    // whose calib gate found dirty samples but NO clean retry window
    // keeps the contaminated median as official (above) — r20's
    // q_dedup_incremental published 37.6 s that way while its own
    // hot_rows bracket proved a 25× host stall, and the judge had to do
    // forensics. Emit, per such row, the dirty verdict plus the minimum
    // across its CLEAN samples and all retry attempts (the best
    // host-noise-free estimate the run holds) in a SIBLING map —
    // queries_warm itself stays a flat name→seconds map (driver parse
    // contract).
    val warmDirty: Seq[(String, Double)] = hotGate.toSeq.collect {
      case (n, g) if !g.retriesRun.exists(_.used) =>
        val ss = hotDetail(n)
        val cleanSamples = ss.zipWithIndex.collect {
          case (s, i) if s.sec >= 0 && !g.dirtyIdx.contains(i) => s.sec
        }
        val candidates =
          cleanSamples ++ g.retriesRun.filter(_.sec >= 0).map(_.sec)
        n -> (if (candidates.nonEmpty) candidates.min
              else ss.map(_.sec).filter(_ >= 0)
                     .minOption.getOrElse(-1.0))
    }.sortBy(_._1)
    // Family yardsticks: cold pass raw; warm = per-family median across
    // passes (and the full per-pass series, so a judge can line any
    // pass's outlier up against the host speed of that same window).
    val famWarm = famNames.map { f =>
      f -> median(warmPasses.map(_._3.toMap.apply(f)))
    }
    val famWarmSeries = famNames.map { f =>
      f -> warmPasses.map(_._3.toMap.apply(f))
    }
    def js(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = cold.map(_._2).filter(_ >= 0).sum
    val totalWarm = warm.map(_._2).filter(_ >= 0).sum
    val calibEnd = calibrate()
    // Gate ratios, computed at write time so cross-round comparison stops
    // being re-derived by hand. Raw: warm flagship tail vs the
    // reference's published 0.33 s (BASELINE.md — hardware unspecified).
    // The round-comparable field (flagship_gate_calib, below) normalizes
    // by the SINGLE-THREAD yardstick, not the 32-thread throughput
    // calibration: the flagship is bound by one task's scan latency, and
    // the two yardsticks demonstrably diverge (one measured run: the
    // throughput calib got faster while the flagship got slower). Round 9
    // carried both a 1.03× raw and a 2.93× throughput-normalized number
    // for the same run — the 2× gate is defined on flagship_gate_calib
    // (BASELINE.md names it), raw stays alongside for context.
    val baselineSec = 0.33
    val flagshipWarm = warm.toMap.getOrElse("q_scan_flagship", -1.0)
    // Flagship TAIL: the flagship's gate is graded on a sub-second query
    // whose per-sample swing on this infrastructure is ~1.5-2x — three
    // pass-position-dependent samples spread over a 20-minute run give a
    // noisy median. Sample it 7 more times back-to-back (one locality,
    // post-everything-warm), bracketed by a SINGLE-THREAD calibration:
    // the 32-thread throughput yardstick above does not track the
    // single-task scan latency the flagship is actually bound by (one
    // measured run: throughput calib got FASTER while the flagship got
    // slower). The gate fields use this tail.
    // ONE single-thread workload, two sampling policies: the bracket
    // calibrations take the median of 3 reps, the per-sample tail
    // mini-calibrations one rep — same yardstick by construction (a
    // drifted copy of the body would silently break the normalization
    // the gate depends on).
    def calibSingleOne(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 60000000L, 1, 1).selectExpr("sum(id * 2 + 1)")
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    def calibrateSingle(): Double =
      (1 to 3).map(_ => calibSingleOne()).sorted.apply(1)
    val flagshipFn = named.toMap.get("q_scan_flagship")
    // Release the last warm pass's caches (kept through the io-gate
    // retries above so retried rows measured queries, not rebuilds)
    // BEFORE the tail: every prior round's gate samples ran against an
    // empty block manager, and a heap full of persisted frames would
    // shift the tail's GC regime — the 2× gate is compared round over
    // round, so its measurement conditions must not drift.
    releaseCaches()
    val calibSingleA = calibrateSingle()
    // Per-SAMPLE attribution (VERDICT r17 task 2): official tail samples
    // swung 0.27–0.46 s within one run whose bracket calibrations looked
    // healthy, so the gate median inherited unexplained spread. Each
    // sample now carries its own single-thread mini-calibration (one
    // rep, ~0.13 s) and the JVM GC-time delta across the sample, so an
    // outlier sample is attributable from the artifact alone: slow
    // calib → the host's window was slow; big gc_ms → the sample paid a
    // collection; neither → the spread is real and plan-side.
    def tailBatch(): Seq[(Double, Double, Long)] =
      flagshipFn.toSeq.flatMap(fn =>
        (1 to 7).map { _ =>
          val sec = once("q_scan_flagship_tail", fn)
          (sec, calibSingleOne(), lastRunGcMs)
        })
    val tailFirst = tailBatch()
    // Tail gate (round 20 — the hot_gate standard applied to the GATE
    // SAMPLES themselves): on a host that oscillates between windows, a
    // 7-sample tail can land half its samples on a dirty window and the
    // official gate median inherits it (observed same-HEAD gates of
    // 0.91 and 1.55 hours apart, the difference fully explained by
    // per-sample calib 0.21–0.28 and GC 84–132 ms). A sample is CLEAN
    // when its mini-calib is within 1.5× the run's fastest observed
    // single-thread speed AND its in-window GC stays under 15% of the
    // sample's wall — the two dirty signatures the per-sample
    // attribution already records. If fewer than 4 of 7 are clean, ONE
    // bounded resample batch is taken; the official tail is the median
    // of clean samples (all samples kept in the artifact; fallback to
    // the all-sample median if under 3 clean exist, recorded in
    // tail_gate).
    def cleanOf(batch: Seq[(Double, Double, Long)])
        : Seq[(Double, Double, Long)] = {
      val floor = (calibSingleA +: batch.map(_._2)).filter(_ > 0).min
      batch.filter(t => t._2 <= 1.5 * floor &&
                        t._3 <= 0.15 * t._1 * 1000)
    }
    val (flagshipTailDetail, tailResampled) =
      if (cleanOf(tailFirst).size >= 4) (tailFirst, false)
      else (tailFirst ++ tailBatch(), true)
    val tailClean = cleanOf(flagshipTailDetail)
    val flagshipTailSamples = flagshipTailDetail.map(_._1)
    val calibSingleB = calibrateSingle()
    val tailFallback = tailClean.size < 3
    val flagshipTail =
      if (!tailFallback) median(tailClean.map(_._1))
      else median(flagshipTailSamples)
    // The all-sample median rides beside the clean median (ADVICE r20):
    // the clean filter only ever drops SLOW samples, so a widening
    // clean-vs-all gap is the signal that a plan-side regression is
    // being misread as host noise — visible from the artifact alone.
    val tailMedianAll = median(flagshipTailSamples)
    val tailGateJs =
      s"""{"clean_used":${tailClean.size},""" +
      s""""dropped":${flagshipTailSamples.size - tailClean.size},""" +
      s""""resampled":$tailResampled,"fallback_all":$tailFallback,""" +
      s""""median_all":${Yardstick.jnum("%.3f", tailMedianAll)}}"""
    val vsRaw =
      if (flagshipTail > 0) flagshipTail / baselineSec
      else if (flagshipWarm > 0) flagshipWarm / baselineSec else -1.0
    // Rescale the raw ratio to the single-thread speed of the round-9
    // judged host (bracket pair [0.163, 0.143] s around that run's tail;
    // raw read 1.03× there) — i.e. "what the raw gate would read on the
    // host the 2× gate was last adjudicated on". The normalizer stays
    // the A/B median-of-3 bracket every prior round used (cross-round
    // gate comparability); the tail gate above fixes the actual failure
    // mode, a dirty mid-tail window inflating the tail median while the
    // brackets looked clean.
    val calibSingleRef = 0.153
    val calibSingleNow = Seq(calibSingleA, calibSingleB).filter(_ > 0)
    val vsCalib =
      if (flagshipTail > 0 && calibSingleNow.nonEmpty)
        (flagshipTail / baselineSec) *
          (calibSingleRef / (calibSingleNow.sum / calibSingleNow.size))
      else -1.0
    val stateJs = streamState.toSeq.sortBy(_._1).map { case (k, (r, b)) =>
      s"""\"$k\":{"rows":$r,"bytes":$b}"""
    }.mkString("{", ",", "}")
    // The memo ledger: every shared-frame build that fired anywhere in
    // this run — (frame, self seconds, which step triggered it). With
    // the per-pass prebuild above, builds should carry "shared:*"
    // contexts; a build showing a QUERY context is exactly the
    // misattribution signal the r17 verdict asked the artifact to
    // expose (e.g. a frame the prebuild list misses).
    val memoBuilds = MemoLog.drain()
    def jq(s: String): String = Yardstick.jstr(s)
    val memoJs = memoBuilds.map { b =>
      s"""{"tag":${jq(b.tag)},"sec":${Yardstick.jnum("%.3f", b.selfSec)}""" +
      s""","total_sec":${Yardstick.jnum("%.3f", b.totalSec)}""" +
      s""","by":${jq(b.by)}}"""
    }.mkString("[", ",", "]")
    val sharedJs =
      s"""{"cold":${Yardstick.jnum("%.3f", sharedCold)},"warm":${
        sharedWarm.map(Yardstick.jnum("%.3f", _)).mkString("[", ",", "]")}}"""
    val retriedJs = retries.toSeq.sortBy(_._1).map {
      case (f, (passes, times, probe)) =>
        s"""${jq(f)}:{"flagged_passes":${passes.mkString("[", ",", "]")}""" +
        s""","probe":${probe.js},"times":${js(times.toSeq.sortBy(_._1))}}"""
    }.mkString("{", ",", "}")
    // families_retried counts retried FAMILIES; passes_retried counts
    // the (family, pass) WINDOWS whose samples the retry replaced — the
    // substitution volume a reader audits (the first artifact conflated
    // the two under one name).
    val ioGateJs =
      s"""{"med_fsync_ms":${Yardstick.jnum("%.2f", medFsync)}""" +
      s""","med_reread_mbps":${Yardstick.jnum("%.1f", medReread)}""" +
      s""","families_retried":${retries.size}""" +
      s""","passes_retried":${retries.valuesIterator.map(_._1.size).sum}""" +
      s""","retried":$retriedJs}"""
    val tailCalibJs = flagshipTailDetail.map(t => Yardstick.jnum("%.3f", t._2))
      .mkString("[", ",", "]")
    val tailGcJs = flagshipTailDetail.map(_._3).mkString("[", ",", "]")
    val famSeriesJs = famWarmSeries.map { case (f, xs) =>
      s"\"$f\":${xs.mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    // Per-warm-pass bracket detail for the hottest rows: a judge reads
    // an outlier row against the host speed of ITS OWN seconds-wide
    // window (calib_before/after), its in-window GC, and the scheduler
    // view (jobs must match across passes — a run where they don't is
    // plan drift, not noise; task_sec ≈ constant with wall swinging =
    // host window; both swinging = real).
    val hotJs = hotDetail.toSeq.sortBy(_._1).map { case (n, ss) =>
      def arr(f: HotSample => String) =
        ss.map(f).mkString("[", ",", "]")
      s"""${jq(n)}:{"warm_samples":${arr(s => Yardstick.jnum("%.3f", s.sec))}""" +
      s""","calib_before":${arr(s => Yardstick.jnum("%.3f", s.calibBefore))}""" +
      s""","calib_after":${arr(s => Yardstick.jnum("%.3f", s.calibAfter))}""" +
      s""","gc_ms":${arr(_.gcMs.toString)}""" +
      s""","jobs":${arr(_.jobs.toString)}""" +
      s""","task_sec":${arr(s => Yardstick.jnum("%.2f", s.taskSec))}}"""
    }.mkString("{", ",", "}")
    // The calib gate's audit trail: which samples were dropped and the
    // bracket of every rerun, so a reader can re-derive the official
    // median from hot_rows + this block alone.
    val hotGateJs = {
      val rows = hotGate.toSeq.sortBy(_._1).map { case (n, g) =>
        val rjs = g.retriesRun.map(r =>
          s"""{"sec":${Yardstick.jnum("%.3f", r.sec)}""" +
          s""","calib_before":${Yardstick.jnum("%.3f", r.calibBefore)}""" +
          s""","calib_after":${Yardstick.jnum("%.3f", r.calibAfter)}""" +
          s""","used":${r.used}}""").mkString("[", ",", "]")
        s"""${jq(n)}:{"dirty_idx":${g.dirtyIdx.mkString("[", ",", "]")}""" +
        s""","retries":$rjs}"""
      }.mkString("{", ",", "}")
      s"""{"calib_med":${Yardstick.jnum("%.3f", runCalibMed)}""" +
      s""","rows_gated":${hotGate.size},"rows":$rows}"""
    }
    val ioColdJs = ioCold.map { case (f, p) => s"\"$f\":${p.js}" }
      .mkString("{", ",", "}")
    val ioSeriesJs = ioWarmSeries.map { case (f, ps) =>
      s"\"$f\":${ps.map(_.js).mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val warmDirtyJs = warmDirty.map { case (n, m) =>
      s"""${jq(n)}:{"dirty":true,"clean_min":${Yardstick.jnum("%.3f", m)}}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${js(cold)},"queries_warm":${js(warm)},"queries_warm_dirty":$warmDirtyJs,"total_warm":$totalWarm,"warm_passes":$warmN,"calib_start":$calibStart,"calib_end":$calibEnd,"calib_passes":${calibPasses.mkString("[", ",", "]")},"calib_family_cold":${js(famCold)},"calib_family_warm":${js(famWarm)},"calib_family_warm_passes":$famSeriesJs,"io_family_cold":$ioColdJs,"io_family_warm_passes":$ioSeriesJs,"flagship_vs_baseline_raw":$vsRaw,"flagship_gate_calib":$vsCalib,"calib_single_ref":$calibSingleRef,"flagship_warm_tail":$flagshipTail,"flagship_tail_samples":${flagshipTailSamples.mkString("[", ",", "]")},"flagship_tail_calib":$tailCalibJs,"flagship_tail_gc_ms":$tailGcJs,"tail_gate":$tailGateJs,"calib_single":[$calibSingleA,$calibSingleB],"io_gate":$ioGateJs,"hot_rows":$hotJs,"hot_gate":$hotGateJs,"stream_state":$stateJs,"shared_builds_sec":$sharedJs,"memo_builds":$memoJs,"sf":"$sfDir"}"""
    println(line)
    // The driver keeps only the tail of stdout, which truncates the
    // per-query map (everything alphabetically early vanished from three
    // consecutive round artifacts). Persist the complete JSON to a tracked
    // file so every per-query timing survives regardless of stdout limits.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // End-of-run cleanup: staged stream fixtures live in RAM-backed
    // scratch (/dev/shm when available) and are memoized for the run —
    // deliberately NOT released between passes (re-staging would swamp
    // the stream timings), but they must not outlive the run.
    graft.streaming.StreamOps.clearStagedFixtures()
    spark.stop()
  }
}
