package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-stress lock for the salted spellings (round 14; the 100 TB
  * skew story was previously argued in comments, not measured): on a
  * corpus with ONE hot join key 1000× the median key, the salted
  * join's per-task shuffle-read distribution must stay bounded — no
  * task may ever ingest the whole hot key, and the max task stays
  * within a small factor of the median task — while the UNSALTED twin
  * on the same corpus demonstrably melts one task (which also proves
  * the fixture and the measurement can see skew at all). Task input is
  * read from real executor metrics via a task-end listener,
  * on a dedicated session (newSession) with AQE partition
  * coalescing off — coalescing would legally glue these KB-sized test
  * shuffles into one task and blind the measurement; at real scale the
  * shuffles are GBs and coalescing never merges a hot partition with
  * its neighbors anyway. */
class SkewStressSpec extends SparkTestBase {

  private val HotRows = 20000L
  private val ColdKeys = 200
  private val ColdRowsPerKey = 20

  private lazy val sess = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "32")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // the fixture's 8 parquet files RLE-compress to ~3 KB each and would
    // pack into ONE scan split (and, with the tiny-agg fusing rule, one
    // exchange-free stage — nothing to measure); a 2 KB split bound keeps
    // each file its own task and Spark's plain plans (the fusing rules
    // off) restore the raw multi-stage shapes a real corpus has
    s.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    s.conf.set("spark.sql.files.openCostInBytes", "0")
    s.conf.set(Plain.Key, "true")
    s
  }

  private lazy val dir: String =
    withTempDir("graft_skew_", suite = true) { tmp =>
      val ts = lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      val hot = sess.range(HotRows).select(
        lit(1L).as("l_orderkey"),
        (col("id") % 7 + 1).cast("int").as("l_linenumber"),
        lit("N").as("l_returnflag"),
        lit(100.0).as("l_extendedprice"),
        ts.as("l_shipdate"))
      val cold = sess.range(ColdKeys.toLong * ColdRowsPerKey).select(
        (col("id") % ColdKeys + 2).as("l_orderkey"),
        (col("id") % 7 + 1).cast("int").as("l_linenumber"),
        lit("R").as("l_returnflag"),
        lit(10.0).as("l_extendedprice"),
        ts.as("l_shipdate"))
      hot.unionAll(cold).repartition(8)
        .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      sess.range(ColdKeys + 1L).select(
        (col("id") + 1).as("o_orderkey"),
        when(col("id") % 2 === 0, "O").otherwise("F").as("o_orderstatus"),
        ts.as("o_orderdate"))
        .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
      tmp
    }

  /** Per-task shuffle-read record counts of the heaviest shuffle stage
    * executed while `run` is active. No job-group scoping: AQE
    * materializes query stages from its own pool threads, which do NOT
    * inherit the caller's job group, so tagging misses every shuffle
    * stage; suites run sequentially in the forked test JVM
    * (sbt testForkedParallel defaults off), so a raw window over all
    * task-end events is attributable to the audited query alone. */
  private def heaviestStageTaskReads(run: => Unit): Seq[Long] = {
    val reads = new java.util.concurrent.ConcurrentHashMap[Int,
      java.util.concurrent.ConcurrentLinkedQueue[Long]]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          reads.computeIfAbsent(t.stageId,
            _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
            .add(t.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    sess.sparkContext.addSparkListener(listener)
    try run finally {
      // the listener bus is async; give it a moment to drain
      Thread.sleep(1500)
      sess.sparkContext.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    reads.asScala.values.map(_.asScala.toSeq)
      .filter(_.sum > 0)
      .maxByOption(_.sum).getOrElse(Seq.empty)
  }

  private def audit(tag: String, df: DataFrame): (Long, Long) = {
    val tasks = heaviestStageTaskReads {
      df.write.format("noop").mode("overwrite").save()
    }
    assert(tasks.nonEmpty, s"$tag: no shuffle stage observed")
    val nonzero = tasks.filter(_ > 0).sorted
    val median = nonzero(nonzero.size / 2)
    (tasks.max, median)
  }

  test("salted join spreads a 1000x hot key; the unsalted twin melts") {
    val (saltMax, saltMed) =
      audit("skew-salted", SparkEntry.queries("q_join_salted")(sess, dir))
    // no task ingested the hot key whole, and the distribution is flat
    assert(saltMax < HotRows / 2,
      s"salted max task read $saltMax of a $HotRows-row hot key")
    assert(saltMax <= 8 * saltMed,
      s"salted max $saltMax > 8x median $saltMed")
    // the unsalted twin on the same corpus: one task owns the hot key —
    // proves the fixture skews and the metric sees it (without this,
    // a broken measurement would green-light anything)
    val fact = ops.table(sess, dir, "lineitem")
    val dim = ops.table(sess, dir, "orders")
    val unsalted = fact
      .join(dim.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("rev"))
    val (rawMax, _) = audit("skew-unsalted", unsalted)
    assert(rawMax >= HotRows,
      s"unsalted max task read $rawMax — fixture no longer skews")
    assert(saltMax.toDouble / rawMax < 0.5,
      s"salting did not reduce the max task ($saltMax vs $rawMax)")
  }

  test("salted agg's merge stage reads bounded partials, not rows") {
    val (aggMax, _) =
      audit("skew-agg", SparkEntry.queries("q_agg_salted")(sess, dir))
    // stage 2 merges at most (#flags x salts x map tasks) partial rows —
    // a constant in corpus size; reading anything row-shaped means the
    // pre-aggregation stopped combining
    assert(aggMax <= 2L * 16 * 16,
      s"salted agg merge stage max task read $aggMax rows")
  }
}
