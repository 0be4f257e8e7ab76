package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Yardstick.{jnum, jstr}

/** 10×/100× scale stress: derives a ~sf1 (or ~sf10) dataset from sf0.1
  * by unioning K key-shifted copies into /tmp parquet, then times the
  * heaviest queries on it. Validates that plan shapes (broadcasts, LSH
  * banding, window shuffles) hold one-two orders of magnitude above the
  * bench scale — the "would this survive a scale-up" check, run rather
  * than asserted. Reports the PEAK cached-storage footprint across each
  * query (sampled concurrently), so the iterative family's
  * checkpoint-release discipline is measured, not assumed.
  *
  * Emits a machine-diffable artifact (arg 4, e.g. SCALE_r14.json):
  * per-query wall/rows/peak-cached/stream-state plus the caps applied,
  * so rounds compare sweeps instead of re-narrating prose. Queries that
  * fail are recorded with their error, not dropped — a sweep that dies
  * is a data point.
  *
  * Usage: runMain graft.tools.ScaleStress [copies] [srcSf]
  *   [q1,q2,...|all] [outJson] */
object ScaleStress {

  /** Fixture caps: queries whose SWEEP cost is dominated by a
    * contract-boundary state size rather than a plan defect get a
    * smaller staged fixture, with the cap recorded in the artifact.
    * q_stream_dedup keys exact-forever state on event_id BY CONTRACT
    * (the bounded-replay form; the watermark-evicted production form is
    * q_stream_dedup_wm, which still runs at full scale) — replaying
    * 100 M events through it proves nothing new past the point where
    * state has reached millions of keys, and costs ~190 s per sweep. */
  private val fixtureCaps: Map[String, (Int, String)] = Map(
    "q_stream_dedup" -> ((10,
      "exact-forever keyed state is unbounded BY CONTRACT; the capped " +
      "replay still drives state to the staged key count (see " +
      "stream_state) while the watermark-evicted twin q_stream_dedup_wm " +
      "runs at full scale")))

  def main(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 10
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val out = s"/tmp/graft_scale_x$copies"
    // engine session config (incl. injected optimizer rules — the auto
    // range join must rewrite here too), with wider shuffles for 10×
    val spark = graft.SessionDefaults.builder(graft.SessionDefaults.cpus)
      .config("spark.sql.shuffle.partitions", "64")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // harness-only per-query stream teardown (StreamOps runStreamN)
    spark.conf.set("spark.graft.stream.teardown", "true")

    def shifted(name: String, keyCols: Map[String, Long],
                nCopies: Int): DataFrame = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      (0 until nCopies).map { i =>
        keyCols.foldLeft(base) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(i * stride))
        }
      }.reduce(_ unionAll _)
    }

    val strideL = 10000000L
    if (!new java.io.File(s"$out/lineitem.parquet").exists()) {
      Seq(
        "lineitem" -> shifted("lineitem", Map("l_orderkey" -> strideL), copies),
        "orders" -> shifted("orders", Map("o_orderkey" -> strideL), copies),
        "customer" -> shifted("customer", Map("c_custkey" -> strideL), copies),
        "supplier" -> shifted("supplier", Map("s_suppkey" -> strideL), copies),
        "part" -> shifted("part", Map("p_partkey" -> strideL), copies),
        "events" -> shifted("events", Map("event_id" -> strideL,
                                          "user_id" -> 1000L), copies),
        "documents" -> shifted("documents", Map("doc_id" -> strideL), copies),
        "embeddings" -> shifted("embeddings", Map("vec_id" -> strideL), copies),
        "region" -> spark.read.parquet(s"$src/region.parquet"),
        "nation" -> spark.read.parquet(s"$src/nation.parquet"),
      ).foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
        println(s"[stress] wrote $name")
      }
    }

    // Capped fixtures share the main fixture's directory layout so a
    // capped query's (SparkSession, dir) contract is unchanged — only
    // the dir differs. Built lazily: a sweep that doesn't run a capped
    // query never writes one.
    def cappedDir(capCopies: Int): String = {
      val d = s"$out/_cap$capCopies"
      if (!new java.io.File(s"$d/events.parquet").exists()) {
        shifted("events", Map("event_id" -> strideL, "user_id" -> 1000L),
                capCopies)
          .write.mode("overwrite").parquet(s"$d/events.parquet")
        println(s"[stress] wrote capped events x$capCopies")
      }
      d
    }

    val defaultHeavy = Seq("q_scan_flagship", "q_agg_groupby", "q_join_inner",
      "q_window_rank", "q_sessionize", "q_dedup_exact", "q_dedup_minhash",
      "q_dedup_ngram", "q_sim_search", "q_sim_search_lsh", "q_topk",
      "q_dedup_clusters", "q_session_window", "q_agg_stats",
      "q_window_range_frame",
      // round-3 additions with non-trivial scale shapes
      "q_dedup_embed", "q_dedup_ngram_capped", "q_join_range",
      "q_join_range_auto",
      "q_merge_upsert", "q_zorder", "q_tpch_q3", "q_tpch_q5",
      "q_sample_stratified", "q_graph_degree",
      // round-13: the content-contracted clustering pair — the two
      // queries whose 100× posture the contraction rewrote
      "q_dedup_minhash_clusters", "q_dedup_multi_signal")
    val heavy = args.lift(2) match {
      case Some("all") => graft.SparkEntry.queries.keys.toSeq.sorted
      case Some(list)  => list.split(",").toSeq
      case None        => defaultHeavy
    }
    val jsonOut = args.lift(3)
    // Peak cached-storage sampler: the iterative queries persist /
    // localCheckpoint per round and RELEASE finished rounds — the peak
    // (not the after-query residual) is what bounds executor memory.
    @volatile var peakStorage = 0L
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val cur = try spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum
        catch { case _: Exception => 0L }
        if (cur > peakStorage) peakStorage = cur
        Thread.sleep(200)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    // Host-speed yardstick bracketing the sweep (the Bench calibration
    // workload): identical-code sweeps measured ~2× wall swings with
    // page-cache/host state — compare rounds on wall/calib, not wall.
    def calibrate(): Double =
      (1 to 3).map(_ => graft.Yardstick.calibQuick(spark)).sorted.apply(1)
    val calibStart = calibrate()
    val sweepT0 = System.nanoTime()
    // One row = one query run, as its JSON object.
    def runRow(name: String): String = {
      val cap = fixtureCaps.get(name).filter(_._1 < copies)
      val dir = cap.map(c => cappedDir(c._1)).getOrElse(out)
      // ScaleStress clears every cache between queries, so each row pays
      // its own shared-frame builds — the ledger itemizes them per row
      graft.MemoLog.setContext(name)
      graft.MemoLog.drain()
      val t0 = System.nanoTime()
      peakStorage = 0L
      val (nRows, err) =
        try (Some(graft.SparkEntry.queries(name)(spark, dir).count()), None)
        catch { case e: Throwable =>
          // Drain any state metrics a failed stream run populated so
          // they aren't attributed to the next query.
          graft.streaming.StreamOps.takeStateMetrics()
          (None, Some(Option(e.getMessage).getOrElse(e.getClass.getName)
                        .take(160)))
        }
      val wall = (System.nanoTime() - t0) / 1e9
      val peak = peakStorage
      val state = graft.streaming.StreamOps.takeStateMetrics()
      err match {
        case None =>
          println(f"[stress] $name: $wall%.2f s (${nRows.get} rows, " +
            f"peak cached ${peak / 1048576.0}%.0f MiB)")
        case Some(m) => println(s"[stress] $name FAILED: $m")
      }
      graft.SessionDefaults.release(spark)
      val memo = graft.MemoLog.drain().filter(_.selfSec >= 0.05)
      val memoJs =
        if (memo.isEmpty) None
        else Some("\"memo_builds\":" + memo.map(b =>
          s"""{"tag":${jstr(b.tag)},"sec":${jnum("%.3f", b.selfSec)}}""")
          .mkString("[", ",", "]"))
      Seq(
        Some(s""""wall_s":${jnum("%.3f", wall)}"""),
        nRows.map(r => s""""rows":$r"""),
        memoJs,
        Some(s""""peak_cached_bytes":$peak"""),
        state.map { case (r, b) =>
          s""""stream_state":{"rows":$r,"bytes":$b}""" },
        cap.map { case (c, why) =>
          s""""cap":{"copies":$c,"reason":${jstr(why)}}""" },
        err.map(m => s""""error":${jstr(m)}""")
      ).flatten.mkString("{", ",", "}")
    }
    val rows = heavy.map(name => name -> runRow(name))
    // total_s stays SWEEP-ONLY (measured before the funnel identity
    // check below) so it remains comparable with prior rounds' sweeps;
    // the check's own cost rides in its JSON block.
    val totalS = (System.nanoTime() - sweepT0) / 1e9
    // Cross-API funnel identity AT SCALE (VERDICT r19 #8): the three
    // funnel spellings (batch greedy chain, flatMapGroupsWithState,
    // transformWithState) are pinned to one oracle at test scale; this
    // re-runs both STREAM spellings on the scale fixture and compares
    // their result rows directly, so the tws path's RocksDB timer
    // behavior is exercised and cross-checked at the sweep's session
    // count too — a row-identity measured, not asserted. Runs only when
    // the sweep included both queries (i.e. "all"). Cleanup sits in a
    // finally: a thrown stream run must not leak persisted frames,
    // sink dirs or stale state metrics into calib_end (r20 review).
    val funnelIdJs: Option[String] =
      if (Seq("q_stream_funnel_state", "q_stream_funnel_tws")
            .forall(heavy.contains)) {
        println("[stress] funnel cross-API identity check")
        val t0 = System.nanoTime()
        var frames: Seq[DataFrame] = Nil
        try {
          val a = graft.SparkEntry.queries("q_stream_funnel_state")(
            spark, out).persist()
          frames :+= a
          val b = graft.SparkEntry.queries("q_stream_funnel_tws")(
            spark, out).persist()
          frames :+= b
          val na = a.count()
          val onlyA = a.exceptAll(b).count()
          val onlyB = b.exceptAll(a).count()
          val sec = (System.nanoTime() - t0) / 1e9
          Some(s""""funnel_xapi":{"rows":$na,"only_state":$onlyA,""" +
            s""""only_tws":$onlyB,"identical":${onlyA == 0 && onlyB == 0},""" +
            s""""check_s":${jnum("%.1f", sec)}}""")
        } catch { case e: Throwable =>
          Some(s""""funnel_xapi":{"error":${jstr(
            Option(e.getMessage).getOrElse(e.getClass.getName).take(160))}}""")
        } finally {
          frames.foreach(f =>
            try f.unpersist() catch { case _: Exception => () })
          graft.streaming.StreamOps.takeStateMetrics()
          graft.streaming.StreamOps.clearStreamSinks()
          spark.catalog.clearCache()
        }
      } else None
    val calibEnd = calibrate()
    sampling = false

    jsonOut.foreach { path =>
      val qJs = rows.map { case (n, js) => s"${jstr(n)}:$js" }
        .mkString("{", ",", "}")
      val failed = rows.collect {
        case (n, js) if js.contains("\"error\":") => jstr(n) }
      val json =
        s"""{"copies":$copies,"src":${jstr(src)},"fixture":${jstr(out)},""" +
        s""""cpus":${graft.SessionDefaults.cpus},""" +
        s""""shuffle_partitions":64,""" +
        s""""heap_max_bytes":${Runtime.getRuntime.maxMemory()},""" +
        s""""total_s":${jnum("%.1f", totalS)},""" +
        s""""calib_start":${jnum("%.3f", calibStart)},""" +
        s""""calib_end":${jnum("%.3f", calibEnd)},""" +
        funnelIdJs.map(_ + ",").getOrElse("") +
        s""""n_queries":${rows.size},""" +
        s""""n_failed":${failed.size},"failed":${failed.mkString("[", ",", "]")},""" +
        s""""queries":$qJs}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(path),
        (json + "\n").getBytes("UTF-8"))
      println(s"[stress] wrote $path (${rows.size} queries, " +
        f"$totalS%.0f s, ${failed.size} failed)")
    }
    spark.stop()
  }
}
