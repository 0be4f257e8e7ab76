package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.ParquetSource
import graft.ops._

/** Streaming surface (SURVEY.md §2.3 Streaming / §7.5).
  *
  * The reference is strictly batch, so streaming is an extension: the same
  * tumbling-window aggregation is exposed twice — `q_window_tumbling`
  * (batch, WindowOps) and `q_stream_tumbling` (Structured Streaming over
  * the same parquet, run to completion synchronously). Both hash-match the
  * same DuckDB oracle, demonstrating batch/stream parity of the engine's
  * window semantics. `q_stream_enrich` adds the stream-static broadcast
  * join (per-batch reference-data attach, zero stream state) and
  * `q_stream_dedup` the replay-tolerant exactly-once repair
  * (dropDuplicates state across micro-batches — the fixture arrives
  * twice and the duplicate batch must vanish). Stateful processing
  * (watermarks, append mode, flatMapGroupsWithState sessionization) is
  * exercised in StreamingSpec with MemoryStream; `q_sessionize` is the
  * batch-SQL-expressible equivalent with a full oracle.
  */
object StreamOps {

  /** The fixture `tableName` under `d`: its one listing and footer
    * schema ([[ParquetSource]]). The stream reads under that schema
    * (FileStreamSource needs one up front), so a stream sees the columns
    * and time type the batch read sees — events.ts included, whose raw
    * footer type (TIMESTAMP(NANOS) as long, or µs) the source normalizes
    * through graft.ops.normalizeTs like the batch reader. */
  private[graft] def fixture(s: SparkSession, d: String, tableName: String)
      : ParquetSource.Listing = ParquetSource.footerSchema(s,
    s.sessionState.newHadoopConf(), s"$d/$tableName.parquet")

  /** Tumbling 1-hour aggregation as a streaming transform (shared by the
    * query entry and tests). */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(unix_micros(col("window.start")).as("bucket"),
              col("event_type"), col("n"), col("total"))

  /** Run a streaming transform over a staged table fixture to
    * completion and return the drained memory-sink contents.
    * FileStreamSource consumes a directory (files arriving over time);
    * the static fixture is copied into one — `copies` times, each copy a
    * separate arrival, to simulate producer replays/duplicate delivery.
    * The sink table and staged files are released before returning
    * (repeated builds must not leak memory sinks or temp dirs). */
  private def runStream(s: SparkSession, d: String, mode: String,
                        copies: Int = 1,
                        tableName: String = "events",
                        bigState: Boolean = false)
                       (transform: DataFrame => DataFrame): DataFrame =
    runStreamN(s, d, mode, copies, tableName, nSources = 1,
               sentinelNs = None, bigState = bigState)(
      srcs => transform(srcs.head))

  /** Staged fixture directories, memoized per (session, fixture
    * fingerprint, copies, sentinel). The fingerprint is the fixture's
    * path, data bytes and newest mtime from its listing, so an in-place
    * fixture rewrite invalidates the memo (a path-keyed cache would serve
    * a stale staging after a mid-session regeneration). Staging copies the
    * fixture and — for sentinel queries — runs two one-row parquet WRITE
    * JOBS; repeated builds in one session (Bench's cold + N warm passes)
    * were paying that staging per query per pass. The staged directory
    * is immutable after staging, so every rebuild reuses it; the JVM's
    * temp-dir cleanup reclaims the files at exit ([[clearStagedFixtures]]
    * for an explicit release — e.g. if the fixture files under `d` are
    * rewritten mid-session). */
  private val stagedCache =
    new scala.collection.concurrent.TrieMap[
      (SparkSession, (String, Long, Long), Int, Option[Long]),
      (java.nio.file.Path, Int)]

  /** Harness scratch root. Micro-batch execution is dominated by tiny
    * rename-committed files (offset log, commit log, one state delta per
    * store per partition per batch) — on a disk-backed /tmp each costs a
    * real fsync, which is pure HARNESS latency: a production deployment
    * checkpoints to durable shared storage and sizes batches thousands of
    * times larger than this fixture. Use the ram-backed /dev/shm when
    * present so the bench measures the operators, not the local disk.
    * Checkpoint contents are identical either way. */
  private def scratchRoot: Option[java.nio.file.Path] = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isWritable(shm)) Some(shm) else None
  }

  /** Staged replay size (copies × the raw fixture) from which a stream
    * runs 16 shuffle partitions instead of 4, and corpus-keyed state
    * moves to the RocksDB store (see runStreamN). */
  private val BigStagedBytes = 64L << 20

  private def mkScratchDir(prefix: String): java.nio.file.Path =
    scratchRoot match {
      case Some(root) => java.nio.file.Files.createTempDirectory(root, prefix)
      case None => java.nio.file.Files.createTempDirectory(prefix)
    }

  /** Drop the memoized staged fixture directories (files deleted now,
    * not at JVM exit). */
  def clearStagedFixtures(): Unit = {
    stagedCache.values.foreach { case (dir, _) =>
      graft.Scratch.deleteRecursively(dir)
    }
    stagedCache.clear()
    clearStreamSinks()
  }

  /** File-sink output directories of completed append-mode stream runs.
    * The returned DataFrame READS these lazily (that is the point — the
    * result is never driver-resident), so the files must outlive the
    * run until the caller has consumed the frame; registered here and
    * released by [[clearStreamSinks]] (Bench's between-pass hook, the
    * ScaleStress per-query hook, end-of-run cleanup). */
  private val sinkDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  // Crash-path cleanup: File.deleteOnExit only removes EMPTY directories,
  // so a sink dir that received committed part files before the JVM died
  // would stay on RAM-backed /dev/shm forever. A shutdown hook running
  // the same recursive walk as clearStreamSinks covers every registered
  // dir regardless of content. Registered once, when the object loads —
  // which is before any sink dir can be created.
  Runtime.getRuntime.addShutdownHook(
    new Thread(() => clearStreamSinks(), "graft-stream-sink-cleanup"))

  /** Delete all registered file-sink output directories. Only call once
    * every previously returned stream result has been consumed — the
    * frames read these files lazily. A dir whose delete fails (e.g. a
    * transient open handle on a file still referenced by a not-yet-GC'd
    * frame) is RE-ENQUEUED so a later sweep retries it instead of
    * silently leaking it for the rest of the run. */
  def clearStreamSinks(): Unit = {
    val retry = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    var dir = sinkDirs.poll()
    while (dir != null) {
      if (!graft.Scratch.deleteRecursively(dir)) {
        retry += dir
        Console.err.println(s"[stream-sink] delete of $dir incomplete; " +
          "re-enqueued for the next sweep")
      }
      dir = sinkDirs.poll()
    }
    retry.foreach(sinkDirs.add)
  }

  /** State-store telemetry of the most recent stream run: max over the
    * run's micro-batches of (Σ state rows, Σ state memory bytes) across
    * stateful operators. Consumed (and cleared) by Bench to turn the
    * "state is O(horizon)" design claims into per-round measured numbers;
    * None for stateless streams and non-stream queries. */
  @volatile private var stateMetrics: Option[(Long, Long)] = None
  def takeStateMetrics(): Option[(Long, Long)] = {
    val m = stateMetrics; stateMetrics = None; m
  }

  /** Micro-batch count of the most recent stream run — the cost driver
    * of the fixture-sized harness (each batch pays a full state-store
    * open/commit round per stateful op per partition). Pinned by
    * StreamingSpec: sentinel queries must run exactly TWO batches (data +
    * first sentinel, then the flush sentinel); a regression to three was
    * the r12 bench's slowest-stateful-query finding. */
  @volatile var lastBatchCount: Int = -1

  private def stageFixture(s: SparkSession, d: String, copies: Int,
                           tableName: String, sentinelNs: Option[Long],
                           l: ParquetSource.Listing)
      : (java.nio.file.Path, Int) =
    stagedCache.getOrElseUpdate(
      (s, (s"$d/$tableName.parquet", l.bytes, l.newest), copies,
       sentinelNs), {
      val dir = mkScratchDir("graft_stream_")
      dir.toFile.deleteOnExit()
      // driver fixtures are single parquet FILES; generated scale fixtures
      // (ScaleStress) are DIRECTORIES of part files. One logical ARRIVAL =
      // one fixture copy, however many part files carry it — so the
      // per-trigger file cap below equals the per-copy part count. Part
      // files hold arbitrary slices of event time; letting them arrive as
      // separate batches would advance the watermark past the remaining
      // parts after the first batch and (correctly, per streaming
      // semantics) drop most of the fixture as late data — a harness
      // artifact, not the contract under test.
      val parts = l.dataFiles.map(f => java.nio.file.Paths.get(f.getPath.toUri))
      // Sentinel queries (always copies=1): the FIRST sentinel rides the
      // data batch — the watermark is computed at batch COMPLETION, so
      // "data + far-future sentinel" in one batch leaves in-batch
      // processing untouched (wm is still the pre-batch value) and jumps
      // the watermark far past every real event the moment the batch
      // commits; the second sentinel then drives the single flush batch
      // where watermark-gated emissions (outer-join null rows, final
      // window/session flushes) reach the sink. Two micro-batches total
      // instead of three — the r12 bench's slowest stateful query
      // (q_stream_join_left) was paying a full extra state-store
      // open/commit round for a sentinel-only batch that existed purely
      // to advance the clock.
      val filesPerTrigger =
        if (sentinelNs.isDefined && copies == 1) parts.size + 1
        else math.max(1, parts.size)
      for (i <- 1 to copies; (p, j) <- parts.zipWithIndex) {
        val dst = dir.resolve(s"${tableName}_${i}_$j.parquet")
        java.nio.file.Files.copy(p, dst)
        dst.toFile.deleteOnExit()
      }
      // TWO sentinel arrivals: the first rides the data batch (see
      // filesPerTrigger above) and advances the watermark past every real
      // event when that batch commits; the second drives the one batch
      // AFTER that watermark has committed, which is when watermark-gated
      // emissions (outer-join null rows, final window flushes) actually
      // reach the sink — the watermark computed in batch N gates emission
      // in batch N+1. Sentinel ts is written in the SAME
      // physical representation the fixture carries (its footer type), so
      // one read schema covers fixture copies and sentinels alike.
      sentinelNs.foreach { ns =>
        import s.implicits._
        val tsType = l.schema("ts").dataType
        for (k <- 1 to 2) {
          val tmp = java.nio.file.Files.createTempDirectory("graft_sentinel_")
          val base =
            Seq((-k.toLong, ns + k * 3600000000000L, -1L, "__sentinel",
                 0.0, ""))
              .toDF("event_id", "ts", "user_id", "event_type", "value",
                    "props")
          val row = tsType match {
            case LongType => base // raw ns long, as the ns fixture
            case t => base.withColumn("ts",
              timestamp_micros(expr("ts DIV 1000")).cast(t))
          }
          row.repartition(1).write.mode("overwrite").parquet(tmp.toString)
          val part = tmp.toFile.listFiles()
            .find(_.getName.endsWith(".parquet")).get.toPath
          val dst = dir.resolve(s"zz_sentinel_${tableName}_$k.parquet")
          java.nio.file.Files.move(part, dst)
          dst.toFile.deleteOnExit()
          // strictly-later mtime => strictly-later micro-batch
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis() + 60000 * k))
          tmp.toFile.listFiles().foreach(_.delete())
          java.nio.file.Files.deleteIfExists(tmp)
        }
      }
      (dir, filesPerTrigger)
    })

  /** Generalized harness: stage the fixture (memoized), open `nSources`
    * independent file streams over the staged directory (a stream-stream
    * join needs two), optionally with a far-future one-row SENTINEL file
    * that arrives strictly last (its mtime is bumped; FileStreamSource
    * takes files oldest-first) — the production stand-in for "the stream
    * keeps flowing", which pushes the watermark past every real event so
    * append-mode windows finalize and flush. */
  private def runStreamN(s: SparkSession, d: String, mode: String,
                         copies: Int, tableName: String,
                         nSources: Int, sentinelNs: Option[Long],
                         bigState: Boolean = false,
                         // transformWithState REQUIRES the RocksDB
                         // provider (its state + timer keyspaces are
                         // virtual column families the COW provider
                         // cannot host) — forceRocks bypasses the
                         // adaptive size gate AND the rocksdb kill
                         // switch, because there is no COW fallback for
                         // the operator at any scale.
                         forceRocks: Boolean = false)
                        (transform: Seq[DataFrame] => DataFrame): DataFrame = {
    val l = fixture(s, d, tableName)
    val (dir, filesPerTrigger) =
      stageFixture(s, d, copies, tableName, sentinelNs, l)
    def source(): DataFrame = {
      val raw = s.readStream.schema(l.schema)
        // one COPY per micro-batch: replayed copies arrive as separate
        // batches (dedup state is actually exercised), watermarks advance
        // between batches, and the sentinel (later mtime) always lands in
        // its own final batch (FileStreamSource takes files oldest-first)
        .option("maxFilesPerTrigger", filesPerTrigger.toString)
        .parquet(dir.toString)
      if (tableName == "events") graft.ops.normalizeTs(raw, "ts") else raw
    }
    val qname =
      s"graft_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // Staged replay volume — the scale signal for the two adaptive
    // choices below (shuffle width, state-store provider). The
    // threshold semantics are defined over the STAGED source (what the
    // stream actually replays = copies × the raw fixture's data bytes).
    val stagedBytes = copies.toLong * l.bytes
    // Run the micro-batches at a narrow shuffle width: every stateful
    // operator opens one state-store instance PER SHUFFLE PARTITION per
    // micro-batch, so the session's 32-wide default pays 32 store
    // setups/commits per stateful op per trigger to process a fixture
    // batch of a few thousand rows — pure harness overhead (measured
    // ~2x on the stream family). Partition count never changes streaming
    // RESULTS (hash partitioning is load distribution only); a real
    // 24/7 deployment sizes this to its executor count in cluster conf.
    // Above the big-state gate the trade inverts: a 100×-scale replay
    // pushes ~10 M keys through 2–3 micro-batches, so per-batch store
    // setup amortizes over millions of rows and 4 partitions serialize
    // the hashing/compaction work on one-eighth of the cores — widen
    // to 16 there. The cutover is the RocksDB gate's (BigStagedBytes).
    val bigStaged = stagedBytes >= BigStagedBytes
    val savedParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", if (bigStaged) "16" else "4")
    // No-data micro-batches exist to advance wall-clock-ish triggers and
    // flush watermark-gated state without new input. This harness never
    // needs them: every watermark advance is DRIVEN by a data batch (the
    // two staged sentinel arrivals), so the extra empty batch after each
    // real one — with its full round of per-partition state-store
    // open/commit and offset/commit-log writes — is pure overhead.
    val savedNoData =
      s.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
        .getOrElse("true")
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // Checkpoint-file checksums OFF for the harness's throwaway scratch
    // checkpoints: each ChecksumCheckpointFileManager owns a thread pool
    // that outlives its query (the r16 single-JVM 175-query sweep wedged
    // at 8 g with 288 parked checksum-manager daemons), and the per-file
    // checksum writes double the tiny-file fsync traffic that dominates
    // fixture-sized micro-batches. Corruption detection on a RAM-backed
    // temp dir deleted minutes later protects nothing; a production
    // deployment checkpointing to durable shared storage keeps Spark's
    // default.
    val savedCksum =
      s.conf.getOption("spark.sql.streaming.checkpoint.fileChecksum.enabled")
    s.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // cleanup rides a finally: a failing transform/start/drain must not
    // leak the session conf override or the driver-resident memory-sink
    // view across repeated builds in a long-lived session (the staged
    // directory is cache-owned now — see stageFixture)
    // Explicit ram-backed checkpoint dir (see scratchRoot) — owned here,
    // removed in the finally below; Spark's auto temp checkpoints live
    // under java.io.tmpdir, which may be disk-backed.
    val ckptDir = mkScratchDir("graft_ckpt_")
    // Queries whose keyed state is O(corpus keys) — not O(watermark
    // horizon or window count) — run on the RocksDB state store ONCE
    // THE CORPUS IS BIG ENOUGH: the default HDFS-backed provider keeps
    // the whole map on-heap and snapshots it per commit, which at the
    // 100× sweep's 10 M-key boundary measured 2.6 GB of executor state
    // and ~345 s vs RocksDB's 48 MB and ~215 s (incremental changelog,
    // off-heap) — the difference between "state fits because the heap
    // is big" and a 100 TB-viable bound. At bench-scale corpora the
    // same store costs ~0.5 s/query of per-batch open/commit overhead
    // and the COW map wins, so the switch is adaptive on the staged
    // source size (the corpus-size gate pattern: bloom sizing, knn
    // bucket width, dedup contraction). Results are identical (the
    // provider is an execution detail); threshold BigStagedBytes
    // (64 MiB of staged source ≈ 4 M events ≈ the point where COW
    // snapshots reach GBs).
    val savedProvider =
      s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val useRocks = forceRocks || (bigState && bigStaged)
    // Log the rationale that actually drove the decision: printing the
    // size gate when forceRocks bypassed it misled bench-log readers
    // (ADVICE r19).
    if (useRocks) Console.err.println("[stream-state] rocksdb engaged " +
      (if (forceRocks) "(forced: transformWithState requires it)"
       else s"(staged source $stagedBytes ≥ $BigStagedBytes bytes)"))
    val savedChangelog = s.conf.getOption(
      "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled")
    // RocksDB sizing for the corpus-keyed burst (round 16): the store's
    // defaults target modest per-partition state; at the 100× sweep each
    // of the 16 partitions holds ~600 K keys / ~70 MB.
    //   - blockCacheSizeMB 512: corpus-keyed dedup is get-then-put per
    //     event, and the default 8 MB cache thrashes once the working
    //     set outgrows it — every get then decompresses a block back
    //     off local disk.
    //   - writeBufferSizeMB 256 + maxWriteBufferNumber 4: fewer L0
    //     flushes/compactions while the replay pushes millions of new
    //     keys in 2–3 micro-batches.
    // Explicit session settings win; applied only on the gated runs and
    // restored below.
    val rocksTuning = Seq(
      "spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB" -> "512",
      "spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB" -> "256",
      "spark.sql.streaming.stateStore.rocksdb.maxWriteBufferNumber" -> "4")
    val savedTuning: Seq[(String, Option[String])] =
      if (useRocks) rocksTuning.map { case (k, v) =>
        val old = s.conf.getOption(k)
        if (old.isEmpty) s.conf.set(k, v)
        (k, old)
      } else Nil
    if (useRocks) {
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
      // Changelog checkpointing: commit uploads the batch's delta
      // instead of a full RocksDB snapshot — per-commit cost O(batch
      // changes), not O(total state). On a 24/7 deployment this is the
      // difference between checkpoint traffic scaling with throughput
      // vs with accumulated state; snapshots still happen, async, every
      // minBatchesToRetain. Scoped to the gated runs and restored
      // below.
      s.conf.set("spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled", "true")
    }
    try {
      val sdf = transform(Seq.fill(nSources)(source()))
      // Sink selection. APPEND mode → parquet FILE sink: rows flow
      // executor → files and the returned frame READS them lazily, so
      // the result is never driver-resident — the memory sink's
      // all-batches driver buffer (plus its collectAsList copy) is what
      // forced a 48 GiB driver heap on the 100× q_stream_dedup_wm drain
      // (10 M rows) when the true state bound was RocksDB's. COMPLETE
      // mode (not supported by the file sink) keeps the memory sink;
      // every complete-mode query here is an aggregate with a tiny
      // result, copied out and released below.
      val fileSinkDir =
        if (mode == "append") Some(mkScratchDir("graft_sink_out_"))
        else None
      // register the sink dir for cleanup IMMEDIATELY: a run that dies
      // in start()/processAllAvailable() may already have committed
      // micro-batches into it, and an unregistered dir on RAM-backed
      // /dev/shm would leak past every clearStreamSinks() for the rest
      // of the sweep. Registration alone also covers the crash path:
      // the object's shutdown hook walks this queue (deleteOnExit would
      // not — it cannot remove a non-empty directory).
      fileSinkDir.foreach(sinkDirs.add)
      val writer = sdf.writeStream.outputMode(mode)
        .option("checkpointLocation", ckptDir.toString)
      val q = (fileSinkDir match {
        case Some(dir) => writer.format("parquet")
          .option("path", dir.toString)
        case None => writer.format("memory").queryName(qname)
      }).start()
      try { q.processAllAvailable() } finally { q.stop() }
      lastBatchCount = q.recentProgress.count(_.numInputRows > 0)
      stateMetrics = {
        val perBatch = q.recentProgress.toSeq.map { p =>
          val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
          (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
        }
        if (perBatch.isEmpty) None
        else Some((perBatch.map(_._1).max, perBatch.map(_._2).max))
          .filter(m => m._1 > 0 || m._2 > 0)
      }
      fileSinkDir match {
        case Some(dir) =>
          // explicit schema: an empty result leaves no part files to
          // infer from, and the transform's schema is exact
          s.read.schema(sdf.schema).parquet(dir.toString)
        case None =>
          val sink = s.table(qname)
          s.createDataFrame(sink.collectAsList(), sink.schema)
      }
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", savedParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                 savedNoData)
      savedCksum match {
        case Some(v) => s.conf.set(
          "spark.sql.streaming.checkpoint.fileChecksum.enabled", v)
        case None => s.conf.unset(
          "spark.sql.streaming.checkpoint.fileChecksum.enabled")
      }
      // Per-query machinery teardown — each harness run's checkpoint is
      // throwaway, so nothing below can ever be reused and everything
      // below otherwise accumulates for the JVM lifetime (the r16
      // single-JVM sweep wedged on exactly this):
      // (1) the terminated StreamingQuery wrappers retained by the
      //     session's StreamingQueryManager (each holds its executed
      //     plan and — for memory sinks — every batch's rows);
      // (2) the loaded state-store providers (RocksDB native handles +
      //     block caches, or the HDFS provider's on-heap COW maps) keyed
      //     by a provider id no future query can match. Unloading is
      //     reload-safe by construction: a provider for a query that IS
      //     still live (not ours — the harness runs synchronously, but a
      //     host application might keep its own streams) reloads from
      //     its checkpoint on that query's next batch.
      // HARNESS-ONLY, gated: resetTerminated also clears the session's
      // awaitAnyTermination bookkeeping and unloadAll drops providers of
      // any live queries a host application owns — correct (they reload
      // from checkpoint) but a hidden reload cost plus a bookkeeping
      // side effect no embedder asked for. The sweep harnesses (Bench,
      // Verify, ScaleStress, the test sessions) opt in via
      // spark.graft.stream.teardown=true; an embedding application that
      // never sets it keeps Spark's default lifecycle untouched.
      if (s.conf.getOption("spark.graft.stream.teardown")
            .exists(_.toBoolean)) {
        try s.streams.resetTerminated() catch { case _: Exception => () }
        try org.apache.spark.sql.graftshim.Shim.unloadAllStateStores()
        catch { case _: Exception => () }
      }
      if (useRocks) {
        savedProvider match {
          case Some(p) =>
            s.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None =>
            s.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
        savedChangelog match {
          case Some(v) => s.conf.set("spark.sql.streaming.stateStore." +
            "rocksdb.changelogCheckpointing.enabled", v)
          case None => s.conf.unset("spark.sql.streaming.stateStore." +
            "rocksdb.changelogCheckpointing.enabled")
        }
        savedTuning.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None)    => s.conf.unset(k)
        }
      }
      try s.catalog.dropTempView(qname) catch { case _: Exception => () }
      graft.Scratch.deleteRecursively(ckptDir)
    }
  }

  val queries: Map[String, QB] = Map(
    // Structured Streaming end-to-end: readStream over the events parquet,
    // complete-mode tumbling aggregation into a memory sink, drained
    // synchronously. Result is identical to the batch q_window_tumbling.
    "q_stream_tumbling" -> ((s, d) =>
      runStream(s, d, "complete")(tumbling)
        .orderBy("bucket", "event_type")),

    // Stream-static join (enrichment): each micro-batch hash-joins
    // against the static dimension — the planner broadcasts the dim per
    // batch, no stream-side state at all (the pattern for attaching
    // reference data to an event stream at any scale). Complete-mode
    // aggregate afterwards; result equals the batch join.
    "q_stream_enrich" -> ((s, d) => {
      val dim = table(s, d, "nation")
      runStream(s, d, "complete") { src =>
        src.withColumn("nk", (col("user_id") % 25).cast("int"))
          .join(broadcast(dim), col("nk") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      }.orderBy("n_name")
    }),

    // Streaming dedup under replay: the fixture arrives TWICE (two
    // micro-batches); dropDuplicates keys state on event_id, so the
    // replayed batch adds nothing and the sink equals the batch-distinct
    // result — the at-least-once → exactly-once repair step of an event
    // pipeline. (Bounded input keeps the keyed state finite here; the
    // unbounded-stream form with watermark-evicted state is
    // q_stream_dedup_wm below.)
    "q_stream_dedup" -> ((s, d) =>
      runStream(s, d, "append", copies = 2, bigState = true) { src =>
        src.dropDuplicates("event_id")
          .select(col("event_id"), unix_micros(col("ts")).as("tsu"),
                  col("user_id"), col("event_type"), col("value"))
      }.orderBy("event_id")),

    // Streaming dedup with BOUNDED state — the unbounded-stream form of
    // q_stream_dedup: `dropDuplicatesWithinWatermark` keeps a key's state
    // only until the watermark passes its event time + delay, so state is
    // O(events in the watermark horizon), not O(all keys ever seen).
    // Replay still vanishes: a replayed row either finds its key in live
    // state (within the horizon) or is older than the watermark and is
    // discarded as late — both paths erase it, so the sink equals the
    // batch-distinct result and the oracle is the same as q_stream_dedup.
    // StreamingSpec asserts the state eviction actually happens.
    "q_stream_dedup_wm" -> ((s, d) =>
      runStream(s, d, "append", copies = 2, bigState = true) { src =>
        src.withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), unix_micros(col("ts")).as("tsu"),
                  col("user_id"), col("event_type"), col("value"))
      }.orderBy("event_id")),

    // Streaming quality filter — the corpus-ingest shape: documents
    // arrive as files and the SAME verdict transform as the batch
    // q_quality_filter maps each micro-batch (stateless, append mode,
    // no watermark — nothing aggregates). One code path and one oracle
    // for batch and stream, so parity is by construction, not by test.
    "q_stream_quality" -> ((s, d) =>
      runStream(s, d, "append", tableName = "documents")(
        graft.ops.TextOps.qualityVerdict)
        .orderBy("doc_id")),

    // Streaming Count-Min sketch — the O(1)-state contrast to the
    // corpus-keyed dedup stores: a complete-mode aggregate whose state is
    // the 4×256 cell grid and NOTHING else, at any stream length. This is
    // the always-on heavy-hitter monitor shape: exact per-key streaming
    // counts need O(keys) state (the q_stream_dedup boundary), the sketch
    // needs 1024 counters and answers the same hot-key question one-sided.
    // Same digest-slicing arithmetic as the batch q_agg_countmin (4
    // disjoint 8-hex-char fields of one md5 per event); replaying the
    // whole fixture equals the batch sketch — the oracle is that identity.
    "q_stream_countmin" -> ((s, d) =>
      runStream(s, d, "complete") { src =>
        src.select(posexplode(cmBucketsFast(col("user_id"))))
          .groupBy(col("pos").as("r"), col("col").as("b"))
          .agg(count(lit(1)).as("c"))
      }.orderBy("r", "b")),

    // Streaming heavy-hitter SERVING view (VERDICT r17 task 8): the
    // always-on top-k a monitoring pipeline reads, built so the STREAM
    // side keeps O(sketch) state — never O(keys). Phase 1 is the same
    // complete-mode Count-Min aggregation as q_stream_countmin (state =
    // the 4×256 cell grid, bench telemetry shows ~1024 state rows at any
    // stream length). Phase 2 — the view refresh — consumes the drained
    // sketch as 4 literal 256-cell arrays inside whole-stage codegen
    // (the bounded driver bracket: ≤ 1024 rows BY CONSTRUCTION): each
    // event's key gets a sketch ESTIMATE, keys estimated below the
    // heavy threshold are pruned BEFORE the exact count's shuffle, and
    // the survivors are exactly counted and re-filtered. CM only ever
    // OVERestimates, so the candidate set provably contains every true
    // heavy hitter and the final exact filter restores the batch answer
    // bit-for-bit — order-independent, replay-safe (the oracle IS the
    // batch identity). "Heavy" = at least 1.2× the mean per-key rate,
    // spelled all-integer in DECIMAL(38,0) (10·n·users ≥ 12·total) so
    // both engines decide identically with no division. Scale posture:
    // on this near-uniform fixture the estimate prune is vacuous (every
    // key clears the bar the sketch can prove) — on the Zipf key
    // distributions this view exists for, the prune is what shrinks the
    // exact count's shuffle from O(all keys) to O(candidates); the mean
    // threshold's exact countDistinct would ride the KMV sketch
    // (q_agg_kmv_sketch) at 100 TB.
    "q_stream_topk" -> ((s, d) => {
      val sketch = runStream(s, d, "complete") { src =>
        src.select(posexplode(cmBucketsFast(col("user_id"))))
          .groupBy(col("pos").as("r"), col("col").as("b"))
          .agg(count(lit(1)).as("c"))
      }
      val cells = Array.fill(4)(new Array[Long](256))
      sketch.selectExpr("cast(r as int) r", "cast(b as int) b",
                        "cast(c as long) c")
        .collect()
        .foreach(row => cells(row.getInt(0))(row.getInt(1)) = row.getLong(2))
      val wArrs = (0 until 4).map(r => array(cells(r).toSeq.map(lit): _*))
      val est = least((0 until 4).map(r =>
        element_at(wArrs(r),
          element_at(col("bk"), r + 1).cast("int") + 1)): _*)
      val ev = graft.ops.table(s, d, "events")
      val tot = ev.agg(count(lit(1)).as("total"),
                       countDistinct(col("user_id")).as("users"))
      ev.select(col("user_id"),
                cmBucketsFast(col("user_id")).as("bk"))
        .withColumn("est", est)
        .crossJoin(broadcast(tot))
        .filter(col("est").cast("decimal(38,0)") * col("users") * 10 >=
                col("total").cast("decimal(38,0)") * 12)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(tot))
        .filter(col("n").cast("decimal(38,0)") * col("users") * 10 >=
                col("total").cast("decimal(38,0)") * 12)
        .select(col("user_id"), col("n"))
        .orderBy(desc("n"), asc("user_id")).limit(10)
    }),

    // Stream-stream interval join — views matched to the same user's
    // purchases within the following hour, both sides unbounded streams.
    // This is the stateful-join shape Spark requires watermarks for:
    // each side declares a 2 h watermark and the join condition bounds
    // purchase time to [view, view+1h), so the state store retains only
    // rows inside the watermark horizon — O(horizon), not O(stream).
    // At 100× the state is per-key-partitioned across executors; the
    // oracle is the equivalent batch interval self-join.
    "q_stream_join" -> ((s, d) =>
      runStreamN(s, d, "append", copies = 1, tableName = "events",
                 nSources = 2, sentinelNs = None) {
        case Seq(sa, sb) =>
          val views = sa.filter(col("event_type") === "view")
            .select(col("user_id"), col("event_id").as("view_id"),
                    col("ts").as("vts"))
            .withWatermark("vts", "2 hours")
          val purchases = sb.filter(col("event_type") === "purchase")
            .select(col("user_id").as("p_user"),
                    col("event_id").as("purchase_id"), col("ts").as("pts"))
            .withWatermark("pts", "2 hours")
          views.join(purchases,
            col("user_id") === col("p_user") &&
            col("pts") >= col("vts") &&
            col("pts") < col("vts") + expr("INTERVAL 1 HOUR"))
            .select(col("user_id"), col("view_id"), col("purchase_id"),
                    unix_micros(col("vts")).as("view_tsu"),
                    unix_micros(col("pts")).as("purchase_tsu"))
      }.orderBy("view_id", "purchase_id")),

    // Stream-stream LEFT OUTER interval join — the subtler emission
    // contract: matched pairs emit as both sides arrive, but an
    // UNMATCHED view may only emit (null-padded) once the watermark
    // proves no qualifying purchase can still arrive. The far-future
    // sentinels advance both watermarks past every real event, flushing
    // the outer rows. The sentinels must REACH THE JOIN to do that:
    // Catalyst pushes a deterministic filter below the EventTimeWatermark
    // operator, so "watermark first, filter sentinel after" silently
    // reorders into "filter first" and the clock never advances
    // (measured: the last 3 h of outer rows stay pending forever).
    // Instead the type filters admit '__sentinel' rows into the join —
    // where they can only pair with each other (negative ids, far-future
    // times) — and the one junk sentinel row is dropped from the DRAINED
    // BATCH after the run. Oracle = the batch left interval join. State
    // bound: O(watermark horizon), as for the inner join.
    "q_stream_join_left" -> ((s, d) =>
      runStreamN(s, d, "append", copies = 1, tableName = "events",
                 nSources = 2,
                 sentinelNs = Some(4102444800000000000L)) {
        case Seq(sa, sb) =>
          val views = sa
            .filter(col("event_type").isin("view", "__sentinel"))
            .select(col("user_id"), col("event_id").as("view_id"),
                    col("ts").as("vts"))
            .withWatermark("vts", "2 hours")
          val purchases = sb
            .filter(col("event_type").isin("purchase", "__sentinel"))
            .select(col("user_id").as("p_user"),
                    col("event_id").as("purchase_id"), col("ts").as("pts"))
            .withWatermark("pts", "2 hours")
          views.join(purchases,
            col("user_id") === col("p_user") &&
            col("pts") >= col("vts") &&
            col("pts") < col("vts") + expr("INTERVAL 1 HOUR"),
            "left_outer")
            .select(col("user_id"), col("view_id"), col("purchase_id"),
                    unix_micros(col("vts")).as("view_tsu"),
                    unix_micros(col("pts")).as("purchase_tsu"))
      }.filter(col("view_id") >= 0)
        .orderBy(asc("view_id"), asc_nulls_last("purchase_id"))),

    // Append-mode watermarked tumbling aggregation — the production
    // streaming-agg shape (q_stream_tumbling is complete-mode, which
    // re-emits everything each batch and cannot scale to unbounded
    // windows; append emits each window ONCE, when the watermark passes
    // its end, and evicts its state). A far-future sentinel row arrives
    // as the last micro-batch to stand in for "the stream keeps flowing",
    // finalizing every real window; the sentinel's own window never
    // finalizes, so the sink is exactly the batch aggregation of the
    // fixture and shares q_stream_tumbling's oracle.
    "q_stream_tumbling_append" -> ((s, d) =>
      runStreamN(s, d, "append", copies = 1, tableName = "events",
                 nSources = 1,
                 // 2100-01-01 in ns — later than any fixture event
                 sentinelNs = Some(4102444800000000000L)) {
        case Seq(src) =>
          src.withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
            .select(unix_micros(col("window.start")).as("bucket"),
                    col("event_type"), col("n"), col("total"))
      }.filter(col("event_type") =!= "__sentinel")
        .orderBy("bucket", "event_type")),

    // STREAMING session windows — the stateful-session shape (merging
    // variable-length windows per key as events arrive, emitting a
    // session only when the watermark proves it closed): append mode +
    // watermark over the same native session_window as the batch twin.
    // The far-future sentinels close every real session; the sentinel's
    // own session can never finalize (nothing arrives 30 min past it),
    // so it stays in state and the defensive user_id filter is just
    // that. State: open sessions inside the watermark horizon — on a
    // continuously-flowing production stream that is O(active users),
    // evicted on emission. In THIS bounded-replay harness the whole
    // fixture lands in one micro-batch before the watermark can
    // advance, so peak state is O(sessions in the replay history) —
    // the r14 100× sweep measured 9.25 M session rows / 3.65 GB of
    // on-heap COW state (SCALE_r14.json, contradicting an earlier
    // "horizon-bounded" claim) — hence bigState: above the staged-size
    // gate the state map moves to RocksDB like the corpus-keyed dedup
    // pair. Oracle = the batch q_session_window oracle verbatim:
    // append-mode emission must not change the answer, only when it
    // appears.
    "q_stream_session" -> ((s, d) =>
      runStreamN(s, d, "append", copies = 1, tableName = "events",
                 nSources = 1,
                 // 2100-01-01 in ns — later than any fixture event
                 sentinelNs = Some(4102444800000000000L),
                 bigState = true) {
        case Seq(src) =>
          src.withWatermark("ts", "1 hour")
            .groupBy(session_window(col("ts"), "30 minutes"),
                     col("user_id"))
            .agg(count(lit(1)).as("n_events"))
            .select(col("user_id"),
              unix_micros(col("session_window.start")).as("session_start"),
              unix_micros(col("session_window.end")).as("session_end"),
              col("n_events"))
      }.filter(col("user_id") >= 0)
        .orderBy("user_id", "session_start")),

    // Spark's native session_window operator (30-min gap), usable in batch
    // and streaming alike. Window end is exclusive: last event + gap.
    "q_session_window" -> ((s, d) =>
      table(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start"),
          unix_micros(col("session_window.end")).as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")),

    // Sliding window (2h width, 1h slide): every event lands in two
    // buckets; the oracle materializes the two shifted groupings.
    "q_window_sliding" -> ((s, d) =>
      table(s, d, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(unix_micros(col("window.start")).as("bucket"),
                col("n"), col("total"))
        .orderBy("bucket")),

    // ARBITRARY per-key stateful streaming (r19): a custom 4-state
    // session-funnel automaton per user via flatMapGroupsWithState with
    // EVENT-TIME TIMEOUT emission — the Structured-Streaming surface the
    // built-in windowed aggregations cannot express (per-event state
    // transitions + programmatic timeout-driven output). Sessions close
    // in-function when a same-user event arrives past the 30-min gap;
    // the LAST open session per user closes by state timeout when the
    // sentinel-advanced watermark passes end + gap — so this query
    // exercises BOTH emission paths against one oracle. Oracle = batch
    // replay identity: the q_sessionize lag/running-sum CTE plus the
    // ordered-funnel greedy-min chain (see Sessionize.funnelStep for the
    // automaton↔greedy equivalence argument). State is O(open sessions
    // in the watermark horizon) — one small fixed-width row per user
    // with ACTIVE state, removed on every emission path (telemetry in
    // the bench artifact); the per-user key space shards across any
    // executor count at 100 TB.
    "q_stream_funnel_state" -> ((s, d) =>
      runStreamN(s, d, "append", copies = 1, tableName = "events",
                 nSources = 1,
                 // 2100-01-01 in ns — later than any fixture event
                 sentinelNs = Some(4102444800000000000L)) {
        case Seq(src) =>
          import s.implicits._
          Sessionize.funnel(
            src.select(col("user_id").as("userId"),
                       col("event_id").as("eventId"),
                       col("event_type").as("eventType"),
                       unix_micros(col("ts")).as("tsUs"),
                       col("ts").as("eventTime"))
              .as[Sessionize.FunnelEvent]).toDF()
      }.filter(col("user_id") >= 0)
        .orderBy("user_id", "session_start")),

    // The SAME automaton on transformWithState — Spark 4's
    // arbitrary-state API (typed ValueState + explicit per-key
    // event-time TIMERS instead of GroupState + setTimeoutTimestamp).
    // Runs on the RocksDB provider by requirement (state and timers are
    // virtual column families). One oracle pins all three spellings to
    // each other: this result ≡ q_stream_funnel_state ≡ the batch
    // greedy chained-min replay.
    "q_stream_funnel_tws" -> ((s, d) =>
      runStreamN(s, d, "append", copies = 1, tableName = "events",
                 nSources = 1,
                 sentinelNs = Some(4102444800000000000L),
                 forceRocks = true) {
        case Seq(src) =>
          import s.implicits._
          Sessionize.funnelTws(
            src.select(col("user_id").as("userId"),
                       col("event_id").as("eventId"),
                       col("event_type").as("eventType"),
                       unix_micros(col("ts")).as("tsUs"),
                       col("ts").as("eventTime"))
              .as[Sessionize.FunnelEvent]).toDF()
      }.filter(col("user_id") >= 0)
        .orderBy("user_id", "session_start")),

    // Sessionization (30-min inactivity gap), batch-expressible form: the
    // lag → new-session flag → running session id pattern. The stateful
    // streaming twin (flatMapGroupsWithState) lives in Sessionize and is
    // MemoryStream-tested (no SQL oracle possible for state timeouts).
    "q_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsu"), col("event_id"))
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      table(s, d, "events")
        .withColumn("tsu", unix_micros(col("ts")))
        .withColumn("prev", lag(col("tsu"), 1).over(w))
        .withColumn("is_new",
          when(col("prev").isNull ||
               col("tsu") - col("prev") > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(wRun))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
             min(col("tsu")).as("session_start"),
             max(col("tsu")).as("session_end"))
        .orderBy("user_id", "session_id")
    }),
  )

  /** One oracle for both funnel-automaton spellings
    * (flatMapGroupsWithState and transformWithState): the batch
    * replay identity — q_sessionize's session assignment plus the
    * greedy chained-min ordered-funnel match. */
  private val funnelOracleSql: String = """
      WITH e AS (SELECT user_id, event_id, event_type,
                        epoch_us(ts) AS tsu FROM events),
      l AS (SELECT *, lag(tsu) OVER (PARTITION BY user_id
                                     ORDER BY tsu, event_id) AS prev
            FROM e),
      f AS (SELECT *, CASE WHEN prev IS NULL OR tsu - prev > 1800000000
                           THEN 1 ELSE 0 END AS is_new
            FROM l),
      sid AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
                ORDER BY tsu, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS session_id
              FROM f),
      o AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                                         ORDER BY tsu, event_id) AS rn
            FROM sid),
      s1 AS (SELECT user_id, session_id,
                    min(tsu) AS session_start, max(tsu) AS session_end,
                    count(*) AS n_events,
                    min(CASE WHEN event_type = 'view' THEN rn END) AS vk
             FROM o GROUP BY user_id, session_id),
      s2 AS (SELECT o.user_id, o.session_id,
                    min(CASE WHEN o.event_type = 'click'
                             AND o.rn > s1.vk THEN o.rn END) AS ck
             FROM o JOIN s1 USING (user_id, session_id)
             GROUP BY o.user_id, o.session_id),
      s3 AS (SELECT o.user_id, o.session_id,
                    min(CASE WHEN o.event_type = 'purchase'
                             AND o.rn > s2.ck THEN o.rn END) AS pk
             FROM o JOIN s2 USING (user_id, session_id)
             GROUP BY o.user_id, o.session_id)
      SELECT s1.user_id, s1.session_start, s1.session_end,
             CAST(s1.n_events AS BIGINT) AS n_events,
             CAST((vk IS NOT NULL)::INT + (ck IS NOT NULL)::INT
                  + (pk IS NOT NULL)::INT AS INT) AS stage
      FROM s1 JOIN s2 USING (user_id, session_id)
              JOIN s3 USING (user_id, session_id)
      ORDER BY user_id, session_start"""

  val oracles: Map[String, String] = Map(
    // Same oracle as the batch tumbling window — that is the point.
    "q_stream_tumbling" -> """
      SELECT epoch_us(date_trunc('hour', ts)) AS bucket, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM events
      GROUP BY date_trunc('hour', ts), event_type
      ORDER BY bucket, event_type""",

    "q_stream_enrich" -> """
      SELECT n_name, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM events JOIN nation ON CAST(user_id % 25 AS INTEGER) = n_nationkey
      GROUP BY n_name
      ORDER BY n_name""",

    // Identical to the batch q_quality_filter oracle — that is the point.
    "q_stream_quality" -> graft.ops.TextOps.oracles("q_quality_filter"),

    // Replaying the whole fixture must equal the batch sketch build.
    "q_stream_countmin" -> """
      WITH kk AS (SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events),
      e AS (SELECT unnest([0, 1, 2, 3]) AS r, hx FROM kk)
      SELECT r, CAST(('0x' || substr(hx, r * 8 + 1, 8)) AS BIGINT) % 256
               AS b,
             count(*) AS c
      FROM e GROUP BY 1, 2
      ORDER BY r, b""",

    // The replayed copy must vanish: dedup(stream ∪ stream) = the table.
    "q_stream_dedup" -> """
      SELECT event_id, epoch_us(ts) AS tsu, user_id, event_type, value
      FROM events
      ORDER BY event_id""",

    // Same contract as q_stream_dedup — the watermarked variant changes
    // the state bound, not the answer.
    "q_stream_dedup_wm" -> """
      SELECT event_id, epoch_us(ts) AS tsu, user_id, event_type, value
      FROM events
      ORDER BY event_id""",

    // The serving view's contract IS the batch identity: exact top-10
    // among keys at ≥ 1.2× the mean per-key rate (all-integer compare).
    // The sketch estimate only PRUNES (one-sided overestimate), so it
    // never appears in the answer — and hence not in the oracle.
    "q_stream_topk" -> """
      WITH tot AS (SELECT count(*) AS total,
                          count(DISTINCT user_id) AS users FROM events),
      c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
      SELECT user_id, n
      FROM c, tot
      WHERE CAST(n AS DECIMAL(38,0)) * users * 10 >=
            CAST(total AS DECIMAL(38,0)) * 12
      ORDER BY n DESC, user_id
      LIMIT 10""",

    "q_stream_join" -> """
      SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
             epoch_us(v.ts) AS view_tsu, epoch_us(p.ts) AS purchase_tsu
      FROM events v
      JOIN events p
        ON v.user_id = p.user_id
       AND v.event_type = 'view' AND p.event_type = 'purchase'
       AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 1 HOUR
      ORDER BY view_id, purchase_id""",

    "q_stream_join_left" -> """
      SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
             epoch_us(v.ts) AS view_tsu, epoch_us(p.ts) AS purchase_tsu
      FROM (SELECT * FROM events WHERE event_type = 'view') v
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON v.user_id = p.user_id
       AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 1 HOUR
      ORDER BY view_id, purchase_id NULLS LAST""",

    // Same oracle as the complete-mode stream and the batch window —
    // append mode changes emission/state policy, not the answer.
    "q_stream_tumbling_append" -> """
      SELECT epoch_us(date_trunc('hour', ts)) AS bucket, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM events
      GROUP BY date_trunc('hour', ts), event_type
      ORDER BY bucket, event_type""",

    // Identical to the batch session-window oracle — append mode changes
    // emission timing and state policy, never the sessions themselves.
    "q_stream_session" -> """
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
      l AS (SELECT user_id, event_id, tsu,
                   lag(tsu) OVER (PARTITION BY user_id
                                  ORDER BY tsu, event_id) AS prev
            FROM e),
      f AS (SELECT user_id, event_id, tsu,
                   CASE WHEN prev IS NULL OR tsu - prev >= 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM l),
      sid AS (SELECT user_id, tsu,
                     CAST(sum(is_new) OVER (PARTITION BY user_id
                       ORDER BY tsu, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_id
              FROM f)
      SELECT user_id, min(tsu) AS session_start,
             max(tsu) + 1800000000 AS session_end,
             count(*) AS n_events
      FROM sid
      GROUP BY user_id, session_id
      ORDER BY user_id, session_start""",

    "q_session_window" -> """
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
      l AS (SELECT user_id, event_id, tsu,
                   lag(tsu) OVER (PARTITION BY user_id
                                  ORDER BY tsu, event_id) AS prev
            FROM e),
      f AS (SELECT user_id, event_id, tsu,
                   -- Spark's session_window range is [start, last+gap):
                   -- an event at exactly prev+gap starts a NEW session,
                   -- hence >= (unlike q_sessionize's own > spec).
                   CASE WHEN prev IS NULL OR tsu - prev >= 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM l),
      sid AS (SELECT user_id, tsu,
                     CAST(sum(is_new) OVER (PARTITION BY user_id
                       ORDER BY tsu, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_id
              FROM f)
      SELECT user_id, min(tsu) AS session_start,
             max(tsu) + 1800000000 AS session_end,
             count(*) AS n_events
      FROM sid
      GROUP BY user_id, session_id
      ORDER BY user_id, session_start""",

    "q_window_sliding" -> """
      WITH b AS (
        SELECT epoch_us(date_trunc('hour', ts)) AS bucket, value FROM events
        UNION ALL
        SELECT epoch_us(date_trunc('hour', ts)) - 3600000000, value
        FROM events)
      SELECT bucket, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
      FROM b
      GROUP BY bucket
      ORDER BY bucket""",

    // Batch replay identity for the stateful funnel automaton: sessions
    // via the q_sessionize CTE chain (same gap, same (tsu, event_id)
    // total order), then the ordered funnel as a greedy chained-min
    // subsequence match over the per-session row_number — vk = first
    // view, ck = first click after vk, pk = first purchase after ck;
    // stage = how deep the chain got. Append-mode emission (in-function
    // close + state-timeout close) must not change the answer, only
    // when it appears.
    // the transformWithState twin answers to the SAME oracle — the API
    // is an execution detail, the automaton's contract is one
    "q_stream_funnel_tws" -> funnelOracleSql,

    "q_stream_funnel_state" -> funnelOracleSql,

    "q_sessionize" -> """
      WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
      l AS (SELECT user_id, event_id, tsu,
                   lag(tsu) OVER (PARTITION BY user_id
                                  ORDER BY tsu, event_id) AS prev
            FROM e),
      f AS (SELECT user_id, event_id, tsu,
                   CASE WHEN prev IS NULL OR tsu - prev > 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM l),
      sid AS (SELECT user_id, tsu,
                     CAST(sum(is_new) OVER (PARTITION BY user_id
                       ORDER BY tsu, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_id
              FROM f)
      SELECT user_id, session_id, count(*) AS n_events,
             min(tsu) AS session_start, max(tsu) AS session_end
      FROM sid
      GROUP BY user_id, session_id
      ORDER BY user_id, session_id""",
  )
}
