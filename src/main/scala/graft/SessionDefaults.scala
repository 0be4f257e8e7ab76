package graft

import org.apache.spark.sql.SparkSession

/** One place owning the local-session tuning shared by the driver
  * surfaces (Bench, Verify and the tools) — hand-syncing these configs
  * across builders already drifted once; a config added here is
  * guaranteed to apply to both the measured plan and the oracle-checked
  * plan. The same goes for the core count and the between-pass
  * release. */
object SessionDefaults {

  /** RAM-backed `spark.local.dir` for the harness JVMs (Bench, Verify,
    * ScaleStress), when /dev/shm is writable with ≥ 32 GiB headroom.
    *
    * Everything under spark.local.dir here is throwaway: shuffle files,
    * broadcast spills, and — the round-17 variance source — the RocksDB
    * state store's WORKING directories (Spark places them under the
    * JVM's local dirs, not under checkpointLocation, which the stream
    * harness already points at /dev/shm). The r17 postmortem pinned
    * q_stream_session's 12.6–48.9 s same-config 100× spread on tmp-DISK
    * writeback/compaction contention during RocksDB ingest bursts
    * (152–169 ms fsync windows caught mid-run by the IO probes); moving
    * the local dirs to RAM removes that disk from the measured path
    * entirely. A production cluster sizes spark.local.dir to local SSDs
    * in cluster conf — this default is harness tuning, not library API
    * (library users build their own sessions). Kill switch:
    * SPARK_GRAFT_RAM_LOCAL=0. Crash-path cleanup: Spark removes its own
    * blockmgr/spark temp subdirs on stop; the shutdown hook removes the
    * parent recursively even if a kill left debris. */
  private lazy val ramLocalDir: Option[String] = try {
    val enabled = sys.env.getOrElse("SPARK_GRAFT_RAM_LOCAL", "1") == "1"
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (enabled && java.nio.file.Files.isWritable(shm) &&
        shm.toFile.getUsableSpace > 32L * (1L << 30)) {
      val dir = java.nio.file.Files.createTempDirectory(shm, "graft_local_")
      // Scratch tolerates the race with Spark's own shutdown hooks
      // deleting blockmgr/spark-* subtrees of this same root — a
      // vanished entry must not abandon the rest of the cleanup.
      Runtime.getRuntime.addShutdownHook(new Thread(
        () => { Scratch.deleteRecursively(dir); () },
        "graft-ram-local-cleanup"))
      Some(dir.toString)
    } else None
  } catch { case _: Throwable => None }

  /** The harnesses' core count: `SPARK_GRAFT_CPUS`, else every core of
    * this host (a fixed count oversubscribes a smaller host). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** Release everything a harness pass leaves behind: every session
    * memo ([[MemoLog.release]]), completed stream runs' file-sink
    * output dirs, and every frame a query persisted itself. */
  def release(spark: SparkSession): Unit = {
    MemoLog.release()
    graft.streaming.StreamOps.clearStreamSinks()
    spark.catalog.clearCache()
  }

  def builder(cpus: String): SparkSession.Builder = {
    val base = baseBuilder(cpus)
    ramLocalDir.fold(base)(d => base.config("spark.local.dir", d))
  }

  private def baseBuilder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // Every driver-generated parquet is a SINGLE row group (verified
      // across sf0.001–0.1), so sub-file splits can never fan out — they
      // only schedule empty tasks (the r3 4m setting cost the flagship
      // ~0.07 s/run in empty-split overhead). 16m keeps the 10.8 MB
      // lineitem at exactly one split while still splitting any genuinely
      // large multi-row-group file a bigger fixture might bring. At
      // cluster scale this would stay at the 128m default.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      // Coalesce post-shuffle partitions by SIZE, not up to core count:
      // iterative/small-intermediate queries (dedup clustering) otherwise
      // pay full-width near-empty task waves per exchange per round. The
      // small 2m advisory keeps mid-size shuffles (tens of MB) spread
      // across the cores — the 64m default would collapse them to 1-2
      // tasks.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
              "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .config("spark.ui.enabled", "false")
      // Engine extensions: date-interval theta joins rewrite to binned
      // equi-joins (graft.plans.RangeJoinBinning); global sorts over
      // runtime-verified tiny AQE stages drop the range exchange +
      // sampling job (graft.plans.TinySortSingularize); aggregates over
      // exact-size-tiny single-split scans fuse to one exchange-free
      // stage (graft.plans.TinyAggSingularize). All three leave the plan
      // unchanged under spark.graft.plain=true (graft.Plain).
      .withExtensions { e =>
        e.injectOptimizerRule(_ => graft.plans.RangeJoinBinning)
        e.injectOptimizerRule(_ => graft.plans.TinyAggSingularize())
        e.injectRuntimeOptimizerRule(_ =>
          graft.plans.TinySortSingularize)
      }
}
