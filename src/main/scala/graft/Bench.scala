package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import Yardstick.{jnum, jstr, median}
object Bench {
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
    // attribution for the flagship tail below.
    var lastRunGcMs = 0L
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
      val g0 = gcMillis()
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
    def runPass(label: String): (Seq[(String, Double)], Double) = {
      val shared = sharedBuilds(s"shared:$label")
      (named.map { case (n, fn) => n -> once(n, fn) }, shared)
    }
    val (cold, sharedCold) = runPass("cold")
    // Warm passes: codegen/JIT/page-cache warm — the steady-state number a
    // long-lived cluster session sees. Per-query local[*] timings swing up
    // to 1.5x run-to-run (GC pauses, page-cache state), so a single warm
    // pass is not a trustworthy comparator: run N warm passes and report
    // the per-query MEDIAN.
    val warmN = sys.env.getOrElse("SPARK_GRAFT_WARM_PASSES", "3").toInt
    // One calibration PER WARM PASS: the host can drift ~2x WITHIN a
    // bench run (measured calib 0.30 -> 0.16 across one round-9 run), so
    // a start/end pair cannot say how fast the host was when a given
    // pass ran.
    val warmPasses = (1 to warmN).map { i =>
      // Release every frame the previous pass persisted (session memos,
      // per-query persist()s, completed stream runs' sink dirs):
      // carrying them into the next pass doubles cached storage in the
      // bench heap and the resulting GC pressure distorts warm timings
      // far more than the cache reuse helps them.
      SessionDefaults.release(spark)
      val (p, shared) = runPass(s"warm$i")
      (p, calibrate(), shared)
    }
    val calibPasses = warmPasses.map(_._2)
    val sharedWarm = warmPasses.map(_._3)
    val warm = named.map { case (n, _) =>
      n -> median(warmPasses.map(_._1.toMap.apply(n)))
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
    // Release the last warm pass's caches BEFORE the tail: every prior
    // round's gate samples ran against an empty block manager, and a heap
    // full of persisted frames would shift the tail's GC regime — the 2×
    // gate is compared round over round, so its measurement conditions
    // must not drift.
    SessionDefaults.release(spark)
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
    // Tail gate (round 20): on a host that oscillates between windows, a
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
    def cleanOf(batch: Seq[(Double, Double, Long)]) =
      Yardstick.tailClean(calibSingleA, batch)
    val (flagshipTailDetail, tailResampled) =
      if (cleanOf(tailFirst).size >= 4) (tailFirst, false)
      else (tailFirst ++ tailBatch(), true)
    val tailClean = cleanOf(flagshipTailDetail)
    val flagshipTailSamples = flagshipTailDetail.map(_._1)
    val calibSingleB = calibrateSingle()
    val (flagshipTail, tailFallback) =
      Yardstick.tailMedian(tailClean.map(_._1), flagshipTailSamples)
    // The all-sample median rides beside the clean median (ADVICE r20):
    // the clean filter only ever drops SLOW samples, so a widening
    // clean-vs-all gap is the signal that a plan-side regression is
    // being misread as host noise — visible from the artifact alone.
    val tailMedianAll = median(flagshipTailSamples)
    val tailGateJs =
      s"""{"clean_used":${tailClean.size},""" +
      s""""dropped":${flagshipTailSamples.size - tailClean.size},""" +
      s""""resampled":$tailResampled,"fallback_all":$tailFallback,""" +
      s""""median_all":${jnum("%.3f", tailMedianAll)}}"""
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
    val memoJs = memoBuilds.map { b =>
      s"""{"tag":${jstr(b.tag)},"sec":${jnum("%.3f", b.selfSec)}""" +
      s""","total_sec":${jnum("%.3f", b.totalSec)}""" +
      s""","by":${jstr(b.by)}}"""
    }.mkString("[", ",", "]")
    val sharedJs =
      s"""{"cold":${jnum("%.3f", sharedCold)},"warm":${
        sharedWarm.map(jnum("%.3f", _)).mkString("[", ",", "]")}}"""
    val tailCalibJs = flagshipTailDetail.map(t => jnum("%.3f", t._2))
      .mkString("[", ",", "]")
    val tailGcJs = flagshipTailDetail.map(_._3).mkString("[", ",", "]")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":${js(cold)},"queries_warm":${js(warm)},"total_warm":$totalWarm,"warm_passes":$warmN,"calib_start":$calibStart,"calib_end":$calibEnd,"calib_passes":${calibPasses.mkString("[", ",", "]")},"flagship_vs_baseline_raw":$vsRaw,"flagship_gate_calib":$vsCalib,"calib_single_ref":$calibSingleRef,"flagship_warm_tail":$flagshipTail,"flagship_tail_samples":${flagshipTailSamples.mkString("[", ",", "]")},"flagship_tail_calib":$tailCalibJs,"flagship_tail_gc_ms":$tailGcJs,"tail_gate":$tailGateJs,"calib_single":[$calibSingleA,$calibSingleB],"stream_state":$stateJs,"shared_builds_sec":$sharedJs,"memo_builds":$memoJs,"sf":"$sfDir"}"""
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
