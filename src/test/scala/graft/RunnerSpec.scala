package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.{ExecutionMemory, ListenerBusDrain, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.runner.Main

/** Runner-harness semantics without spawning the CLI: seeded shuffle
  * determinism (SURVEY.md §2.1 A17) and the Laghos-schema flagship shape. */
class RunnerSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def lineitem = s"$sf0001/lineitem.parquet"

  /** A Laghos-schema source (the reference's own) as a directory of two
    * part files, with rows on both sides of the flagship's box. */
  private lazy val laghos: String =
    withTempDir("graft_laghos_", suite = true) { dir =>
      val r = new scala.util.Random(5)
      def coord() = 1.48 + r.nextDouble() * 0.14
      (0 until 4000).map(i => (i % 500, coord(), coord(), coord(),
                               r.nextDouble()))
        .toDF("vertex_id", "x", "y", "z", "e")
        .repartition(2).write.parquet(s"$dir/laghos")
      s"$dir/laghos"
    }

  /** Spark jobs started while `body` runs, including its planning. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; ListenerBusDrain(spark.sparkContext); jobs.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  for ((branch, src) <- Seq("lineitem" -> (() => lineitem),
                            "laghos" -> (() => laghos))) {
    test(s"per-file query on $branch: one job, no exchange") {
      val path = src() // writes the fixture on first use: not counted
      var rows = 0
      val jobs = jobsDuring {
        val q = Main.fileQuery(spark, path)
        val plan = q.queryExecution.executedPlan
        assert(collect(plan) { case e: Exchange => e }.isEmpty, plan)
        q.toLocalIterator().asScala.foreach(_ => rows += 1)
      }
      assert(rows > 0, "fixture has no flagship hits")
      assert(jobs == 1, s"$jobs jobs to plan and drain one file's query")
    }

    test(s"per-file query on $branch: rows equal the inferred-schema plan") {
      val got = Main.fileQuery(spark, src()).collect().toSeq
      val want = Main.flagship(spark.read.parquet(src())).collect().toSeq
      assert(got.map(key).sorted == want.map(key).sorted)
      val es = got.map(r => r.getDouble(4))
      assert(es == es.sorted, "rows not in E order")
    }
  }

  /** Laghos-schema variants that must not share the Laghos template: an
    * extra column, and `x` stored as FLOAT. */
  private lazy val laghosVariants: Seq[String] =
    withTempDir("graft_laghos_var_", suite = true) { dir =>
      val base = spark.read.parquet(laghos)
      base.withColumn("w", lit(1.0)).coalesce(1).write.parquet(s"$dir/extra")
      base.withColumn("x", col("x").cast("float")).coalesce(1)
        .write.parquet(s"$dir/float")
      Seq(s"$dir/extra", s"$dir/float")
    }

  /** `n` copies of the sf0.001 lineitem in `dir`. */
  private def lineitemCopies(dir: String, n: Int): Seq[String] =
    (1 to n).map { i =>
      val p = s"$dir/part-$i.parquet"
      java.nio.file.Files.copy(java.nio.file.Paths.get(lineitem),
                               java.nio.file.Paths.get(p))
      p
    }

  /** `n` files of lineitem's schema with different rows (the orders of
    * one residue mod `n` each), one part file each. */
  private def lineitemParts(dir: String, n: Int): Seq[String] =
    (0 until n).map { i =>
      spark.read.parquet(lineitem).filter(col("l_orderkey") % n === i)
        .coalesce(1).write.parquet(s"$dir/d$i")
      new java.io.File(s"$dir/d$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toString
    }

  private def key(r: Row) = r.toSeq.mkString("|")

  /** Each of `files`' flagship rows, from a plain Spark query of it. */
  private def soloRows(files: Seq[String]): Map[String, Seq[String]] =
    files.map(p => p -> Main.fileQuery(spark, p).collect().toSeq.map(key))
      .toMap

  /** Runs `body` on a pool of `n` threads made here, so they carry the
    * test's active session as the runner's pool threads carry the
    * runner's. */
  private def withPool[T](n: Int)(body: ExecutionContext => T): T = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try body(ExecutionContext.fromExecutor(pool))
    finally pool.shutdown()
  }

  /** `body`'s thunks run on a pool of `n` threads. */
  private def onThreads[T](n: Int)(body: Seq[() => T]): Seq[T] =
    withPool(n) { implicit ec =>
      Await.result(Future.sequence(body.map(b => Future(b()))), 5.minutes)
    }

  test("prepared: same-schema files plan once and run with no Spark job") {
    withTempDir("graft_prepared_") { dir =>
      val paths = lineitemParts(dir, 3)
      val sizes = paths.map(p => spark.read.parquet(p).count())
      assert(sizes.distinct.size == 3, s"fixture files not told apart: $sizes")
      val prepared = new Main.Prepared(spark)
      var runs = Seq.empty[(TaskContext, Int)]
      val jobs = jobsDuring {
        runs = paths.map(p =>
          prepared.run(p)((_, rows) => (TaskContext.get(), rows.size)))
      }
      assert(runs.forall(_._2 > 0), runs.map(_._2))
      assert(jobs == 0, s"$jobs jobs for 3 files")
      assert(prepared.planned == 1, s"${prepared.planned} templates")
      for (plan <- prepared.plans)
        assert(collect(plan) { case e: Exchange => e }.isEmpty, plan)
      // each run reads its own file, and only it: its input is that
      // file's rows (one row group each, which min/max cannot exclude)
      for (((ctx, _), rows) <- runs.zip(sizes)) {
        val in = ctx.taskMetrics().inputMetrics
        assert(in.recordsRead == rows && in.bytesRead > 0,
               s"read ${in.recordsRead} rows for a $rows-row file")
      }
    }
  }

  test("prepared: at -j 2 every run returns its own file's rows, a path listed twice too") {
    withTempDir("graft_prepared_j2_") { dir =>
      val files = lineitemParts(dir, 3)
      val solo = soloRows(files)
      val prepared = new Main.Prepared(spark)
      val runs = onThreads(2)((files :+ files.head).map { p => () =>
        prepared.run(p)((_, rows) => (p, rows.map(key).toVector))
      })
      assert(prepared.planned == 1, s"${prepared.planned} templates")
      assert(runs.map(_._1) == files :+ files.head)
      for ((p, rows) <- runs)
        assert(rows.nonEmpty && rows == solo(p), p)
    }
  }

  test("prepared: -j 4 over 64 runs of four files: solo rows, no task context or memory left") {
    withTempDir("graft_prepared_j4_") { dir =>
      val files = lineitemParts(dir, 4)
      val solo = soloRows(files)
      assert(solo.values.toSet.size == 4, "fixture files not told apart")
      val prepared = new Main.Prepared(spark)
      val sources = (0 until 64).map(i => files(i % 4))
      withPool(4) { implicit ec =>
        val runs = Await.result(Future.sequence(sources.map(p => Future(
          prepared.run(p)((_, rows) => (p, rows.map(key).toVector))))),
          5.minutes)
        assert(runs.map(_._1) == sources)
        for ((p, rows) <- runs) assert(rows == solo(p), p)
        // every pool thread checks its own context at once
        val all = new java.util.concurrent.CyclicBarrier(4)
        val left = Await.result(Future.sequence((1 to 4).map(_ => Future {
          all.await(1, java.util.concurrent.TimeUnit.MINUTES)
          Option(TaskContext.get())
        })), 5.minutes)
        assert(left.forall(_.isEmpty), left)
      }
      assert(prepared.planned == 1, s"${prepared.planned} templates")
      assert(ExecutionMemory.used(spark.sparkContext) == 0,
             s"${ExecutionMemory.used(spark.sparkContext)} B held")
    }
  }

  test("prepared: four concurrent runs of one schema build one template") {
    withTempDir("graft_prepared_race_") { dir =>
      val paths = lineitemCopies(dir, 4)
      val prepared = new Main.Prepared(spark)
      val start = new java.util.concurrent.CyclicBarrier(4)
      val hits = onThreads(4)(paths.map { p => () =>
        start.await()
        prepared.run(p)((_, rows) => rows.size)
      })
      assert(hits.head > 0 && hits.forall(_ == hits.head), hits)
      assert(prepared.planned == 1, s"${prepared.planned} template builds")
    }
  }

  /** A copy of lineitem, footer intact, whose l_quantity column chunk
    * starts with 64 bytes of 0xFF: it plans like lineitem and fails in
    * the scan. */
  private def damaged(dir: String): String = {
    val p = s"$dir/damaged.parquet"
    java.nio.file.Files.copy(java.nio.file.Paths.get(lineitem),
                             java.nio.file.Paths.get(p))
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(
      new Path(p), spark.sessionState.newHadoopConf()), NO_FILTER)
    val chunk = footer.getBlocks.get(0).getColumns.asScala
      .find(_.getPath.toDotString == "l_quantity").get
    val f = new java.io.RandomAccessFile(p, "rw")
    try { f.seek(chunk.getStartingPos); f.write(Array.fill[Byte](64)(-1)) }
    finally f.close()
    p
  }

  test("prepared: on a one-thread pool a damaged file fails and the next file returns its rows") {
    withTempDir("graft_damaged_1t_") { dir =>
      val goods = lineitemCopies(dir, 2)
      val bad = damaged(dir)
      val solo = soloRows(goods.take(1))(goods.head)
      val prepared = new Main.Prepared(spark)
      val runs = onThreads(1)(Seq(goods.head, bad, goods(1)).map { p => () =>
        (Thread.currentThread,
         scala.util.Try(prepared.run(p)((_, it) => it.map(key).toVector)))
      })
      assert(runs.map(_._1).distinct.size == 1)
      assert(runs(0)._2.get == solo)
      assert(runs(1)._2.isFailure, runs(1)._2)
      assert(runs(2)._2.get == solo)
      assert(prepared.planned == 1, s"${prepared.planned} templates")
    }
  }

  test("prepared: a damaged column chunk fails its own file, not the shared template") {
    withTempDir("graft_damaged_") { dir =>
      val goods = lineitemCopies(dir, 5)
      val bad = damaged(dir)
      val prepared = new Main.Prepared(spark)
      def rows(p: String) = prepared.run(p)((_, it) => it.map(key).toVector)
      val before = rows(goods.head)
      assert(before.nonEmpty)
      intercept[Exception](rows(bad))
      // the template still serves the schema after the failure
      assert(rows(goods(1)) == before)
      assert(prepared.planned == 1, s"${prepared.planned} templates")

      def run(ss: Seq[String], j: Int) = {
        val (code, out, err) =
          spawnRunner(Seq("-j", j.toString), ss.mkString("\n") + "\n")
        assert(code == 0, s"exit=$code stderr:\n${err.takeRight(2000)}")
        (out, err)
      }
      val (out, err) = run(goods.take(2) ++ Seq(bad) ++ goods.drop(2), 4)
      val errors = err.linesIterator.filter(_.startsWith("error processing"))
        .toSeq
      assert(errors.size == 1 && errors.head.startsWith(s"error processing $bad"),
             err.takeRight(2000))
      val solo = chunks(run(Seq(goods.head), 1)._1)
      assert(solo.nonEmpty)
      assert(chunks(out) == Seq.fill(goods.size)(solo).flatten.sorted,
             "a good file's chunks in the batch differ from its run alone")
    }
  }

  test("prepared: rows equal the inferred-schema plan for a file, a directory and a glob") {
    val prepared = new Main.Prepared(spark)
    for (p <- Seq(lineitem, laghos, s"$laghos/*.parquet") ++ laghosVariants) {
      val got = prepared.run(p)((_, rows) => rows.toVector)
      val want = Main.flagship(spark.read.parquet(p)).collect().toSeq
      assert(got.nonEmpty, p)
      assert(got.map(key).sorted == want.map(key).sorted, p)
      val es = got.map(r => r.getDouble(4))
      assert(es == es.sorted, s"$p: rows not in E order")
    }
    // lineitem, Laghos (its directory and glob share one) and the two
    // variants
    assert(prepared.planned == 4, s"${prepared.planned} templates")
  }

  test("prepared: k=v partitioned directories give the unprepared plan's rows, and two of one shape share a template") {
    withTempDir("graft_partitioned_") { dir =>
      // two Laghos sources partitioned by a column the flagship never
      // reads, and lineitem partitioned by a column it filters on (so the
      // scan prunes partitions)
      val base = spark.read.parquet(laghos).withColumn("k", col("vertex_id") % 3)
      base.filter(col("vertex_id") % 2 === 0).write.partitionBy("k")
        .parquet(s"$dir/even")
      base.filter(col("vertex_id") % 2 === 1).write.partitionBy("k")
        .parquet(s"$dir/odd")
      spark.read.parquet(lineitem).write.partitionBy("l_tax")
        .parquet(s"$dir/bytax")
      val prepared = new Main.Prepared(spark)
      for (p <- Seq("even", "odd", "bytax").map(n => s"$dir/$n")) {
        val got = prepared.run(p)((_, rows) => rows.map(key).toVector)
        val want = Main.fileQuery(spark, p).collect().toSeq.map(key)
        assert(got.nonEmpty && got.sorted == want.sorted, p)
      }
      assert(prepared.planned == 2, s"${prepared.planned} templates")
    }
  }

  test("prepared: a run generates no code, the template keeps whole-stage code") {
    val prepared = new Main.Prepared(spark)
    val mode = prepared.run(lineitem) { (_, rows) =>
      rows.foreach(_ => ())
      SQLConf.get.codegenFactoryMode.toString
    }
    assert(mode == CodegenObjectFactoryMode.NO_CODEGEN.toString)
    assert(SQLConf.get.codegenFactoryMode.toString != mode,
           "the session lost codegen")
    for (plan <- prepared.plans)
      assert(collect(plan) { case w: WholeStageCodegenExec => w }.nonEmpty,
             plan)
  }

  /** Spawn the runner CLI as a child JVM with the given flags + stdin,
    * returning (exitCode, stdout, stderr). One shared recipe for every
    * end-to-end test (the spawn details — add-opens forwarding, memory,
    * master — must not drift between them). */
  private def spawnRunner(flags: Seq[String], stdinText: String,
                          jvmProps: Seq[String] = Nil)
      : (Int, String, String) = {
    import scala.sys.process._
    // Forward this JVM's --add-opens set (sbt injects the JDK-17 module
    // options Spark needs). RuntimeMXBean reports the two-token spelling
    // ("--add-opens", "mod=ALL-UNNAMED") as separate entries — keep the
    // value token too, or the child dies with "--add-opens requires
    // modules".
    val raw = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.toArray.map(_.toString).toSeq
    val jvmArgs = raw.zipWithIndex.flatMap { case (a, i) =>
      if (a.startsWith("--add-opens=")) Seq(a)
      else if (a == "--add-opens")
        Seq(a) ++ raw.lift(i + 1).toSeq
      else if (i > 0 && raw(i - 1) == "--add-opens") Nil // consumed above
      else Nil
    }
    val cmd = Seq("java") ++ jvmArgs ++ Seq(
      "-Xmx2g", "-Dspark.ui.enabled=false") ++ jvmProps ++ Seq(
      "-cp", sys.props("java.class.path"),
      "graft.runner.Main") ++ flags
    val stdin = new java.io.ByteArrayInputStream(stdinText.getBytes)
    val out = new StringBuilder
    val err = new StringBuilder
    // Main reads the master from SPARK_MASTER (a -D flag would be dead:
    // the builder sets .master explicitly)
    val code = (Process(cmd, None, "SPARK_MASTER" -> "local[2]") #< stdin)
      .!(ProcessLogger(
        l => out.synchronized { out.append(l).append('\n') },
        l => err.synchronized { err.append(l).append('\n') }))
    (code, out.toString, err.toString)
  }

  test("seed-1 shuffle is deterministic across runs") {
    val xs = (1 to 100).map(i => s"file_$i.parquet")
    val a = new scala.util.Random(1).shuffle(xs)
    val b = new scala.util.Random(1).shuffle(xs)
    assert(a == b && a != xs)
  }

  test("flag parsing covers the reference CLI surface") {
    val o = Main.parse(
      List("-i", "AK", "-k", "SK", "-a", "10.0.0.5", "-p", "9009", "-j", "7"),
      Main.Opts())
    assert(o == Main.Opts(Some("AK"), Some("SK"), "10.0.0.5", 9009, 7))
    assert(Main.parse(Nil, Main.Opts()) ==
      Main.Opts(None, None, "127.0.0.1", 9000, 4))
  }

  test("opts map to the s3a session config block") {
    val conf = Main.s3aConfigs(
      Main.Opts(Some("AK"), Some("SK"), "minio.local", 9000, 4)).toMap
    assert(conf("spark.hadoop.fs.s3a.endpoint") == "http://minio.local:9000")
    assert(conf("spark.hadoop.fs.s3a.path.style.access") == "true")
    assert(conf("spark.hadoop.fs.s3a.connection.ssl.enabled") == "false")
    assert(conf("spark.hadoop.fs.s3a.access.key") == "AK")
    assert(conf("spark.hadoop.fs.s3a.secret.key") == "SK")
    // no credential keys leak into the config when flags are absent
    val anon = Main.s3aConfigs(Main.Opts()).toMap
    assert(!anon.contains("spark.hadoop.fs.s3a.access.key"))
    assert(!anon.contains("spark.hadoop.fs.s3a.secret.key"))
  }

  test("full CLI end-to-end over local files: chunks, stats, isolation") {
    val good = s"$sf0001/lineitem.parquet"
    val (code, outS, e) = spawnRunner(
      Seq("-i", "TESTKEY", "-k", "TESTSECRET", "-a", "127.0.0.1",
          "-p", "9000", "-j", "2"),
      s"$good /nonexistent/missing.parquet\n'$good'\n")
    val out = new StringBuilder(outS)
    assert(code == 0, s"exit=$code stderr:\n${e.takeRight(2000)}")
    assert(e.contains("Number data sources (parquet files): 3"))
    assert(e.contains("Threads: 2"))
    assert(e.contains("error processing /nonexistent/missing.parquet"))
    assert(e.contains("Total hits: "))
    assert(e.contains("Total read bytes: "))
    assert(e.contains("Done"))
    // both good files produced chunked rows despite the bad sibling,
    // in the reference's columnar DataChunk format
    assert(out.toString.linesIterator.count(_.startsWith("Chunk - [5 Columns]")) >= 2)
    assert(out.toString.linesIterator.exists(_.startsWith("- FLAT BIGINT: ")))
    assert(out.toString.linesIterator.exists(_.startsWith("- FLAT DOUBLE: ")))
  }

  /** Each `Chunk - [` block of a runner's stdout, sorted. */
  private def chunks(out: String): Seq[String] =
    out.split("(?=Chunk - \\[)").toSeq.filter(_.nonEmpty).sorted

  test("-j 4 CLI batch over four schemas: every file's chunks equal a run of it alone") {
    val sources = Seq(lineitem, laghos) ++ laghosVariants
    def run(ss: Seq[String], j: Int): String = {
      val (code, out, err) =
        spawnRunner(Seq("-j", j.toString), ss.mkString("\n") + "\n")
      assert(code == 0, s"exit=$code stderr:\n${err.takeRight(2000)}")
      assert(!err.contains("error processing"), err.takeRight(2000))
      out
    }
    val batch = chunks(run(sources, 4))
    val solo = sources.flatMap(s => chunks(run(Seq(s), 1)))
    assert(solo.size >= sources.size, solo)
    assert(batch == solo.sorted,
      "a file's chunks in the batch differ from its run alone")
  }

  /** The bytes of lineitem's column chunks that min/max statistics
    * cannot exclude: what the flagship's scan must read at least. */
  private lazy val survivingChunks: Long = {
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(
      new Path(lineitem), spark.sessionState.newHadoopConf()), NO_FILTER)
    val box = Map("l_quantity" -> (10.0, 20.0), "l_discount" -> (0.02, 0.08),
                  "l_tax" -> (0.01, 0.07))
    val used = box.keySet ++ Set("l_orderkey", "l_extendedprice")
    footer.getBlocks.asScala.map { rg =>
      val cols = rg.getColumns.asScala
        .map(c => c.getPath.toDotString -> c).toMap
      val survives = box.forall { case (name, (lo, hi)) =>
        val st: org.apache.parquet.column.statistics.Statistics[_] =
          cols(name).getStatistics
        st.isEmpty || !st.hasNonNullValue ||
          (st.genericGetMax.asInstanceOf[java.lang.Double] > lo &&
           st.genericGetMin.asInstanceOf[java.lang.Double] < hi)
      }
      if (survives) used.toSeq.map(cols(_).getTotalSize).sum else 0L
    }.sum
  }

  test("local sources: the stat block counts read requests and the surviving column chunks") {
    val needed = survivingChunks
    assert(needed > 0)
    val (code, _, err) = spawnRunner(Seq("-j", "1"), s"$lineitem\n")
    assert(code == 0, s"exit=$code stderr:\n${err.takeRight(2000)}")
    def stat(prefix: String): Long = err.linesIterator
      .find(_.startsWith(prefix)) match {
        case Some(l) => l.stripPrefix(prefix).trim.toLong
        case None => fail(s"no '$prefix' line in:\n$err")
      }
    assert(stat("Total read ops: ") > 0)
    val bytes = stat("Total read bytes: ")
    assert(bytes >= needed, s"read $bytes B, the surviving chunks are $needed B")
  }

  test("unmonitored file://: the fallback bytes are the runs' summed input metrics") {
    withTempDir("graft_fallback_") { dir =>
      val paths = lineitemCopies(dir, 3)
      val prepared = new Main.Prepared(spark)
      val contexts = paths.map(p => prepared.run(p)((_, rows) => {
        rows.foreach(_ => ())
        TaskContext.get()
      }))
      val inputs = contexts.map(_.taskMetrics().inputMetrics.bytesRead)
      assert(prepared.metrics.bytesRead == inputs.sum, inputs)
      assert(prepared.metrics.readTasks == 3)
      assert(prepared.metrics.bytesRead >= 3 * survivingChunks,
        s"read ${prepared.metrics.bytesRead} B, the surviving chunks are " +
          s"3 x $survivingChunks B")
    }
  }

  test("full CLI end-to-end over the HTTP object profile: remote reads, GET-level op stats") {
    val server = TestHttpObjectServer.serve(sf0001)
    try {
      val port = server.getAddress.getPort
      val (code, outS, e) = spawnRunner(Seq("-j", "2"),
        s"ghttp://127.0.0.1:$port/lineitem.parquet\n")
      val out = new StringBuilder(outS)
      assert(code == 0, s"exit=$code stderr:\n${e.takeRight(2000)}")
      assert(e.contains("Number data sources (parquet files): 1"))
      assert(e.contains("Total hits: "))
      // GET-level accounting (not the scan-task fallback): the monitored
      // filesystem counted actual ranged requests
      val opsLine = e.linesIterator.find(_.startsWith("Total read ops: "))
      assert(opsLine.isDefined, s"no GET-level op line in:\n$e")
      assert(opsLine.get.stripPrefix("Total read ops: ").trim.toLong > 0)
      assert(e.contains("Done"))
      assert(out.toString.linesIterator.exists(_.startsWith("Chunk - [5 Columns]")))
    } finally server.stop(0)
  }

  test("CLI -i/-k drive real request auth on the HTTP object profile") {
    val creds = ("TESTKEY", "TESTSECRET")
    val server = TestHttpObjectServer.serve(sf0001, auth = Some(creds))
    try {
      val src = s"ghttp://127.0.0.1:${server.getAddress.getPort}/lineitem.parquet\n"
      // without credentials: the server's 401 surfaces as a per-file error
      // (isolation keeps exit 0), zero hits, no chunk output
      val (code0, out0, err0) = spawnRunner(Seq("-j", "1"), src)
      assert(code0 == 0, s"exit=$code0")
      assert(err0.contains("error processing"), s"expected a 401-driven error:\n$err0")
      assert(err0.contains("Total hits: 0"))
      assert(!out0.contains("Chunk - ["))
      // with -i/-k: every HEAD/GET is HMAC-signed, query green, GET-level
      // op accounting intact
      val (code1, out1, err1) = spawnRunner(
        Seq("-i", creds._1, "-k", creds._2, "-j", "1"), src)
      assert(code1 == 0, s"exit=$code1 stderr:\n${err1.takeRight(2000)}")
      assert(!err1.contains("error processing"), s"unexpected error:\n$err1")
      val opsLine = err1.linesIterator.find(_.startsWith("Total read ops: "))
      assert(opsLine.isDefined, s"no GET-level op line in:\n$err1")
      assert(opsLine.get.stripPrefix("Total read ops: ").trim.toLong > 0)
      assert(out1.linesIterator.exists(_.startsWith("Chunk - [5 Columns]")))
    } finally server.stop(0)
  }

  test("credentialed fan-out (j>1): stat-block bytes reconcile with wire truth") {
    // The last untested corner of the A2 credential surface: -i/-k under
    // PARALLEL per-file fan-out, with the stat block's byte count checked
    // against what the server actually wrote to the wire. Wire truth has
    // a documented slack: every sequential GET is bounded by the
    // readahead window (fs.ghttp.readahead.bytes — pinned small here),
    // so the server may push at most one window per counted op beyond
    // what the client consumed; positioned reads are exact. The stat
    // must sit inside [wire − ops·window, wire], and the triple run must
    // count exactly 3× the single run — no lost updates or resets when
    // three signed scans interleave on the fixed pool.
    val creds = ("TESTKEY", "TESTSECRET")
    val window = 4096L
    val props = Seq(s"-Dspark.hadoop.fs.ghttp.readahead.bytes=$window")
    // three copies, not one object thrice: a footer read of an object
    // already read in this JVM is served from memory, and which of three
    // concurrent scans of one object reads it first is up to timing
    def run(n: Int): (Long, Long, Long) = withTempDir("graft_fanout_") { dir =>
      for (i <- 1 to n)
        java.nio.file.Files.copy(java.nio.file.Paths.get(lineitem),
                                 java.nio.file.Paths.get(dir, s"copy-$i.parquet"))
      val wire = new java.util.concurrent.atomic.AtomicLong(0L)
      val server = TestHttpObjectServer.serve(dir, auth = Some(creds),
        bytesServed = Some(wire))
      try {
        val base = s"ghttp://127.0.0.1:${server.getAddress.getPort}"
        val src = (1 to n).map(i => s"$base/copy-$i.parquet\n").mkString
        val (code, out, err) = spawnRunner(
          Seq("-i", creds._1, "-k", creds._2, "-j", n.toString), src, props)
        assert(code == 0, s"exit=$code stderr:\n${err.takeRight(2000)}")
        assert(err.contains(s"Number data sources (parquet files): $n"))
        assert(!err.contains("error processing"), s"unexpected error:\n$err")
        assert(out.linesIterator
          .count(_.startsWith("Chunk - [5 Columns]")) >= n)
        def stat(prefix: String): Long = err.linesIterator
          .find(_.startsWith(prefix)) match {
            case Some(l) => l.stripPrefix(prefix).trim.toLong
            case None => fail(s"no '$prefix' line in:\n$err")
          }
        (stat("Total read bytes: "), stat("Total read ops: "), wire.get)
      } finally server.stop(0)
    }
    val (bytes1, _, _) = run(1)
    val (bytes3, ops3, wire3) = run(3)
    assert(bytes3 == 3 * bytes1,
      s"fan-out accounting drifted: 3x$bytes1 expected, got $bytes3")
    assert(bytes3 > 0 && bytes3 <= wire3,
      s"stat $bytes3 B exceeds wire $wire3 B")
    assert(wire3 - bytes3 <= ops3 * window,
      s"wire $wire3 B vs stat $bytes3 B — slack beyond $ops3 ops x $window")
  }

  test("failure injection over the HTTP object profile: corrupt, missing, zero-row, good") {
    withTempDir("graft_inject_") { dir =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(lineitem),
        java.nio.file.Paths.get(dir, "good.parquet"))
      val junk = new Array[Byte](4096)
      new scala.util.Random(3).nextBytes(junk)
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "corrupt.parquet"),
        junk)
      spark.read.parquet(lineitem).limit(0).coalesce(1)
        .write.parquet(s"$dir/zero")
      val part = new java.io.File(s"$dir/zero").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(part.length == 1, s"zero-row write left ${part.toSeq}")
      assert(part.head.renameTo(new java.io.File(s"$dir/empty.parquet")))
      val gets = new AtomicLong
      val server = TestHttpObjectServer.serve(dir, getsServed = Some(gets))
      try {
        val base = s"ghttp://127.0.0.1:${server.getAddress.getPort}"
        def src(n: String) = s"$base/$n.parquet"
        def run(names: Seq[String], j: Int) = {
          gets.set(0)
          val (code, out, err) = spawnRunner(Seq("-j", j.toString),
            names.map(src).mkString("\n") + "\n")
          assert(code == 0, s"exit=$code stderr:\n${err.takeRight(2000)}")
          def stat(prefix: String): Long = err.linesIterator
            .find(_.startsWith(prefix)) match {
              case Some(l) => l.stripPrefix(prefix).trim.toLong
              case None => fail(s"no '$prefix' line in:\n$err")
            }
          assert(stat("Total read ops: ") == gets.get,
            s"read ops vs ${gets.get} GETs served:\n$err")
          (out, err, stat("Total hits: "))
        }
        val (out, err, hits) =
          run(Seq("corrupt", "missing", "empty", "good"), 2)
        def errors(n: String) = err.linesIterator
          .count(_.startsWith(s"error processing ${src(n)}"))
        assert(errors("corrupt") == 1 && errors("missing") == 1, err)
        assert(errors("empty") == 0 && errors("good") == 0, err)
        // the zero-row object adds no hit: the batch's hits and chunks are
        // the good object's alone
        val (soloOut, _, soloHits) = run(Seq("good"), 1)
        assert(soloHits > 0)
        assert(hits == soloHits, s"batch hits $hits vs good alone $soloHits")
        assert(out == soloOut, "the good object's chunk changed in the batch")
      } finally server.stop(0)
    }
  }

  test("flagship on laghos schema: boundary rows excluded, sorted by E") {
    val df = Seq(
      (1, 1.55, 1.55, 1.55, 10.0),  // inside
      (1, 1.55, 1.55, 1.55, 20.0),  // inside, same key
      (2, 1.5, 1.55, 1.55, 5.0),    // x on boundary → excluded
      (3, 1.55, 1.55, 1.55, 1.0)    // inside, smaller avg → first
    ).toDF("vertex_id", "x", "y", "z", "e")
    val got = df.filter($"x" > 1.5 && $"x" < 1.6 &&
                        $"y" > 1.5 && $"y" < 1.6 &&
                        $"z" > 1.5 && $"z" < 1.6)
      .groupBy($"vertex_id")
      .agg(min($"vertex_id").as("VID"), avg($"e").as("E"))
      .select("VID", "E")
      .orderBy(asc_nulls_last("E"))
      .as[(Int, Double)].collect()
    assert(got.toSeq == Seq((3, 1.0), (1, 15.0)))
  }
}
