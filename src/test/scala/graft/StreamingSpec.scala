package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{Sessionize, StreamOps}

/** Structured Streaming behavior: batch/stream parity of the tumbling
  * window, watermark+append finalization, and stateful sessionization. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("q_stream_tumbling equals batch q_window_tumbling") {
    val stream = StreamOps.queries("q_stream_tumbling")(spark, sf0001)
      .collect().toSeq
    val batch = ops.WindowOps.queries("q_window_tumbling")(spark, sf0001)
      .collect().toSeq
    assert(stream == batch)
  }

  test("watermark + append emits only finalized windows") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros($"window.start").as("bucket"), $"n")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_test").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((t("2024-01-01 00:05:00"), 1.0), (t("2024-01-01 00:10:00"), 2.0))
    q.processAllAvailable()
    // watermark still inside hour 0 → nothing finalized
    assert(spark.table("wm_test").count() == 0)
    mem.addData((t("2024-01-01 02:00:00"), 3.0))
    q.processAllAvailable()
    mem.addData((t("2024-01-01 03:00:00"), 4.0))
    q.processAllAvailable()
    q.stop()
    // hour-0 window (2 events) finalized once the watermark passed 01:00
    val rows = spark.table("wm_test").as[(Long, Long)].collect().toMap
    assert(rows.values.toSeq.contains(2L))
  }

  test("stateful sessionization closes sessions across batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    val out = Sessionize(mem.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_test").start()
    val m = 60L * 1000 * 1000 // one minute in µs
    mem.addData(Sessionize.Event(1, 0 * m, "a"),
                Sessionize.Event(1, 10 * m, "b"))
    q.processAllAvailable()
    assert(spark.table("sess_test").count() == 0) // session still open
    // 100 min later → gap > 30 min → first session closes
    mem.addData(Sessionize.Event(1, 110 * m, "c"))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_test")
      .as[Sessionize.Session].collect().toSeq
    assert(sessions == Seq(Sessionize.Session(1, 0, 10 * m, 2)))
  }

  test("streaming session_window + watermark emits only closed sessions") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val agg = mem.toDF().toDF("ts", "uid")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "30 minutes"), $"uid")
      .agg(count(lit(1)).as("n"))
      .select($"uid", unix_micros($"session_window.start").as("start"), $"n")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_native").start()
    mem.addData((t("2024-01-01 10:00:00"), 1L), (t("2024-01-01 10:10:00"), 1L))
    q.processAllAvailable()
    // session still open (watermark hasn't passed end+gap)
    assert(spark.table("sess_native").count() == 0)
    // unrelated traffic far ahead advances the watermark past the close
    mem.addData((t("2024-01-01 13:00:00"), 2L))
    q.processAllAvailable()
    mem.addData((t("2024-01-01 13:01:00"), 2L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_native")
      .as[(Long, Long, Long)].collect().toSeq
    // user 1's two-event session closed; user 2's is still open
    assert(rows == Seq((1L,
      t("2024-01-01 10:00:00").getTime * 1000, 2L)))
  }

  test("event-time timeout closes idle sessions once the watermark passes") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Sessionize.Event]
    val out = Sessionize.withTimeout(mem.toDS(), "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_timeout_test").start()
    val m = 60L * 1000 * 1000 // one minute in µs
    val base = 1000000L * m   // off epoch 0: ts=0 == initial watermark
                              // would be dropped as late data
    mem.addData(Sessionize.Event(1, base + 0 * m, "a"),
                Sessionize.Event(1, base + 10 * m, "b"))
    q.processAllAvailable()
    // user 1 idle; other-user traffic advances the watermark past
    // session end (10m) + gap (30m): first batch carries the old
    // watermark, the next one triggers the timeout.
    mem.addData(Sessionize.Event(2, base + 120 * m, "x"))
    q.processAllAvailable()
    mem.addData(Sessionize.Event(2, base + 121 * m, "y"))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sess_timeout_test")
      .as[Sessionize.Session].collect().toSeq
    // user 1's session closed by TIMEOUT (no user-1 event ever followed);
    // user 2's session is still open → exactly one emission.
    assert(sessions == Seq(Sessionize.Session(1, base, base + 10 * m, 2)))
  }

  test("streaming dropDuplicates removes cross-batch duplicates via state") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("id", "payload")
      .dropDuplicates("id")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_stream").start()
    mem.addData((1L, "a"), (2L, "b"), (1L, "a-dup-same-batch"))
    q.processAllAvailable()
    mem.addData((2L, "b-dup-next-batch"), (3L, "c"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").select("id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("dropDuplicatesWithinWatermark bounds dedup state via eviction") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val q = mem.toDF().toDF("id", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("id")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_wm_stream").start()
    // batch 1: 50 keys at hour 0
    mem.addData((1L to 50L).map(i => (i, t("2024-01-01 00:00:00"))): _*)
    q.processAllAvailable()
    // batch 2: 10 fresh keys 10 hours later → watermark jumps to 09:00,
    // far past hour-0 keys' expiry (00:00 + 1 h) → their state is evicted
    mem.addData((101L to 110L).map(i => (i, t("2024-01-01 10:00:00"))): _*)
    q.processAllAvailable()
    // batch 3: replay of a batch-2 key (in live state → deduped) plus a
    // progress tick so lastProgress reflects the post-eviction store
    mem.addData((101L, t("2024-01-01 10:00:00")),
                (111L, t("2024-01-01 10:30:00")))
    q.processAllAvailable()
    val state = q.lastProgress.stateOperators(0)
    q.stop()
    // unbounded dropDuplicates would hold all 61 keys forever; the
    // watermarked store holds only the live horizon
    assert(state.numRowsTotal < 20,
      s"state grew to ${state.numRowsTotal} — eviction not happening")
    val ids = spark.table("dedup_wm_stream").select("id")
      .as[Long].collect().sorted.toSeq
    assert(ids == ((1L to 50L) ++ (101L to 111L)),
      "replayed key leaked into the sink or rows were lost")
  }

  test("q_stream_dedup_wm equals the batch-distinct result under replay") {
    val got = StreamOps.queries("q_stream_dedup_wm")(spark, sf0001)
      .collect().toSeq
    val want = StreamOps.queries("q_stream_dedup")(spark, sf0001)
      .collect().toSeq
    assert(got == want)
  }

  test("stream-stream inner join matches keys across sides") {
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val buys = MemoryStream[(Long, java.sql.Timestamp)]
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val c = clicks.toDF().toDF("uid", "cts").withWatermark("cts", "1 hour")
    val b = buys.toDF().toDF("buid", "bts").withWatermark("bts", "1 hour")
    val j = c.join(b, $"uid" === $"buid" &&
      $"bts" >= $"cts" && $"bts" <= $"cts" + expr("INTERVAL 1 HOUR"))
    val q = j.writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    clicks.addData((1L, t("2024-01-01 10:00:00")), (2L, t("2024-01-01 10:05:00")))
    q.processAllAvailable()
    buys.addData((1L, t("2024-01-01 10:30:00")),   // within window → joins
                 (2L, t("2024-01-01 12:00:00")))   // outside window → dropped
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join").select("uid").as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("q_stream_join equals the batch interval self-join") {
    val got = StreamOps.queries("q_stream_join")(spark, sf0001)
      .select($"view_id", $"purchase_id").as[(Long, Long)].collect().toSeq
    val e = ops.table(spark, sf0001, "events")
    val v = e.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("vts"))
    val p = e.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"event_id".as("purchase_id"),
              $"ts".as("pts"))
    val want = v.join(p, $"user_id" === $"pu" && $"pts" >= $"vts" &&
        $"pts" < $"vts" + expr("INTERVAL 1 HOUR"))
      .select($"view_id", $"purchase_id")
      .orderBy("view_id", "purchase_id").as[(Long, Long)].collect().toSeq
    assert(want.nonEmpty, "fixture has no view→purchase pairs within 1h")
    assert(got == want)
  }

  test("q_stream_join_left equals the batch left join; outer rows flush") {
    val got = StreamOps.queries("q_stream_join_left")(spark, sf0001)
      .select($"view_id", $"purchase_id")
      .as[(Long, Option[Long])].collect().toSeq
    val e = ops.table(spark, sf0001, "events")
    val v = e.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("vts"))
    val p = e.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"event_id".as("purchase_id"),
              $"ts".as("pts"))
    val want = v.join(p, $"user_id" === $"pu" && $"pts" >= $"vts" &&
        $"pts" < $"vts" + expr("INTERVAL 1 HOUR"), "left_outer")
      .select($"view_id", $"purchase_id")
      .orderBy(asc("view_id"), asc_nulls_last("purchase_id"))
      .as[(Long, Option[Long])].collect().toSeq
    assert(got == want)
    // the contract's hard part: unmatched views DID flush as null rows
    // (Catalyst pushing filters below the watermark silently starves the
    // flush — this asserts the sentinel actually reached the join), and
    // no sentinel leaked into the output.
    assert(got.exists(_._2.isEmpty), "no outer rows flushed")
    assert(got.forall(_._1 >= 0), "sentinel row leaked into the sink")
    // Harness cost contract: the first sentinel rides the data batch, the
    // second drives the flush — exactly TWO micro-batches. A third batch
    // means the sentinel staging regressed to one-arrival-per-batch (the
    // r12 slowest-stateful-query finding: a full extra state-store
    // open/commit round that existed only to advance the clock).
    assert(StreamOps.lastBatchCount == 2,
      s"q_stream_join_left ran ${StreamOps.lastBatchCount} micro-batches, " +
      "expected 2 (data+sentinel, flush-sentinel)")
  }

  test("q_stream_tumbling_append equals the complete-mode stream result") {
    // Same transform, opposite emission policy: append (emit-once on
    // watermark passage, sentinel-flushed) must agree with complete
    // (re-emit everything) — and neither may leak the sentinel row.
    val append = StreamOps.queries("q_stream_tumbling_append")(spark, sf0001)
      .collect().toSeq
    val complete = StreamOps.queries("q_stream_tumbling")(spark, sf0001)
      .collect().toSeq
    assert(append == complete)
    assert(!append.exists(_.toString.contains("__sentinel")))
  }

  test("foreachBatch streams into parquet and matches the batch result") {
    withTempDir("graft_fb_") { dir =>
      val out = s"$dir/out"
      implicit val sq = spark.sqlContext
      val mem = MemoryStream[(Long, Double)]
      val agg = mem.toDF().toDF("k", "v")
        .groupBy($"k").agg(sum($"v".cast("decimal(18,6)"))
          .cast("double").as("total"))
      val q = agg.writeStream.outputMode("complete")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }.start()
      mem.addData((1L, 1.5), (2L, 2.0), (1L, 0.5))
      q.processAllAvailable()
      q.stop()
      val got = spark.read.parquet(out).orderBy("k")
        .as[(Long, Double)].collect().toSeq
      assert(got == Seq((1L, 2.0), (2L, 2.0)))
    }
  }

  test("batch q_sessionize: gap splits sessions, counts preserved") {
    val out = StreamOps.queries("q_sessionize")(spark, sf0001)
    val total = out.agg(sum("n_events")).as[Long].head()
    val events = spark.read.parquet(s"$sf0001/events.parquet").count()
    assert(total == events)
    assert(out.filter($"session_end" < $"session_start").count() == 0)
  }
}
