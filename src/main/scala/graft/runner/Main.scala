package graft.runner

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Random, Success, Try}

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.{Partition, SparkEnv}
import org.apache.spark.graftshim.InThread
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters,
  FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Predicate}
import org.apache.spark.sql.catalyst.expressions.CodegenObjectFactoryMode
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.{FileSourceScanExec,
  PartitionedFileUtil, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  ResultQueryStageExec}
import org.apache.spark.sql.execution.datasources.{FileFormat,
  FilePartition, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.graftshim.Partitions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.io.Metrics
import graft.io.ParquetSource.{Listing, footerSchema, isData, scan}

/** CLI-parity runner (SURVEY.md §2.1 A12–A18, §3.1): the reference harness's
  * behavior — per-file parallel query fan-out over parquet objects listed on
  * stdin — re-expressed on Spark.
  *
  * Behavior mirrored from the reference (reference runner.cc:361–395):
  *   - flags `-i` key id, `-k` secret, `-a` s3 address (default 127.0.0.1),
  *     `-p` s3 port (default 9000), `-j` pool threads (default 4);
  *   - data sources on stdin, whitespace-separated, optionally quoted;
  *   - deterministic shuffle of the work list, seed 1 (runner.cc:392);
  *   - one flagship query per file, ≤j concurrently, results to stdout,
  *     stats to stderr so `1>/dev/null` keeps stats (reference README.md:94);
  *   - per-file error isolation: one bad file never aborts the batch
  *     (runner.cc:293–297);
  *   - stderr stat block shaped like runner.cc:343–358.
  *
  * Architectural translation (not a port): the reference runs one fresh
  * DuckDB pinned to one thread per file on a pthread pool (runner.cc:
  * 197–201); here one shared SparkSession serves a pool of j threads, and
  * each file's query runs in one partition with no exchange
  * ([[fileQuery]]) on the pool thread that picked the file up — the
  * Spark form of one thread per file. DuckDB prepares the fixed query
  * cheaply; Spark's analysis, optimization, physical planning, code
  * generation and closure cleaning are not cheap, so [[Prepared]] builds
  * the query once per footer schema, down to one executed RDD chain, and
  * runs each file on that chain the way an executor runs a task, with no
  * Spark job. Parallelism comes from `-j` alone, as in the reference; a
  * single file with several splits scans them in that one run. S3 access
  * goes through s3a (path-style, plain http — reference
  * runner.cc:205–217).
  */
object Main {

  final case class Opts(id: Option[String] = None, key: Option[String] = None,
                        addr: String = "127.0.0.1", port: Int = 9000,
                        threads: Int = 4)

  private def usage(msg: String): Nothing = {
    if (msg.nonEmpty) System.err.println(msg)
    System.err.println("==============")
    System.err.println("usage: graft.runner.Main [options]")
    System.err.println("-i      id           :  s3 access key id")
    System.err.println("-k      key          :  s3 secret access key")
    System.err.println("-a      address      :  s3 web address")
    System.err.println("-p      port         :  s3 port")
    System.err.println("-j      threads      :  num query thread")
    System.err.println("==============")
    sys.exit(1)
  }

  private def parseInt(flag: String, v: String): Int =
    try v.toInt
    catch { case _: NumberFormatException =>
      usage(s"$flag expects a number, got: $v") }

  private[graft] def parse(args: List[String], o: Opts): Opts = args match {
    case Nil => o
    case "-i" :: v :: rest => parse(rest, o.copy(id = Some(v)))
    case "-k" :: v :: rest => parse(rest, o.copy(key = Some(v)))
    case "-a" :: v :: rest => parse(rest, o.copy(addr = v))
    case "-p" :: v :: rest => parse(rest, o.copy(port = parseInt("-p", v)))
    case "-j" :: v :: rest => parse(rest, o.copy(threads = parseInt("-j", v)))
    case other :: _ => usage(s"unknown option: $other")
  }

  /** s3a mapping of the reference's SET statements (runner.cc:205–217) —
    * applied to the session builder and exposed for tests: the sandbox has
    * no S3-compatible endpoint (A2 is config-complete, endpoint-untested;
    * see INVENTORY.md), so the config block is asserted directly while the
    * CLI end-to-end path is driven over local files. */
  private[graft] def s3aConfigs(o: Opts): Seq[(String, String)] =
    Seq(
      "spark.hadoop.fs.s3a.endpoint" -> s"http://${o.addr}:${o.port}",
      "spark.hadoop.fs.s3a.path.style.access" -> "true",
      "spark.hadoop.fs.s3a.connection.ssl.enabled" -> "false") ++
      o.id.map("spark.hadoop.fs.s3a.access.key" -> _) ++
      o.key.map("spark.hadoop.fs.s3a.secret.key" -> _)

  /** The same credential pair on the exercised remote path: ghttp signs
    * every HEAD/ranged-GET with an HMAC Authorization header when these
    * are set (GraftHttpFileSystem.signFor), so `-i/-k` change real request
    * behavior — the reference's flags do exactly that over its HTTP
    * object connection (runner.cc:211–216). */
  private[graft] def ghttpConfigs(o: Opts): Seq[(String, String)] =
    (o.id.map("spark.hadoop.fs.ghttp.auth.id" -> _) ++
     o.key.map("spark.hadoop.fs.ghttp.auth.secret" -> _)).toSeq

  /** The flagship query template (reference runner.cc:174–182) against one
    * parquet source: 6-predicate open-interval filter, group, min×4 + avg,
    * ORDER BY the avg NULLS LAST. Applied to the reference's Laghos schema
    * when present, else retargeted at the testdata lineitem schema. */
  private[graft] def flagship(df: DataFrame): DataFrame = {
    val cols = df.columns.toSet
    if (Set("vertex_id", "x", "y", "z", "e").subsetOf(cols))
      df.filter(col("x") > 1.5 && col("x") < 1.6 &&
                col("y") > 1.5 && col("y") < 1.6 &&
                col("z") > 1.5 && col("z") < 1.6)
        .groupBy(col("vertex_id"))
        .agg(min(col("vertex_id")).as("VID"), min(col("x")).as("X"),
             min(col("y")).as("Y"), min(col("z")).as("Z"),
             avg(col("e")).as("E"))
        .select("VID", "X", "Y", "Z", "E")
        .orderBy(asc_nulls_last("E"))
    else
      df.filter(col("l_quantity") > 10 && col("l_quantity") < 20 &&
                col("l_discount") > 0.02 && col("l_discount") < 0.08 &&
                col("l_tax") > 0.01 && col("l_tax") < 0.07)
        .groupBy(col("l_orderkey"))
        .agg(min(col("l_orderkey")).as("VID"), min(col("l_quantity")).as("X"),
             min(col("l_discount")).as("Y"), min(col("l_tax")).as("Z"),
             avg(col("l_extendedprice")).as("E"))
        .select("VID", "X", "Y", "Z", "E")
        .orderBy(asc_nulls_last("E"))
  }

  /** DuckDB physical type name for the chunk print (the reference prints
    * `DataChunk::ToString()`, which names vector types this way). */
  private def duckTypeName(t: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    t match {
      case IntegerType => "INTEGER"
      case LongType => "BIGINT"
      case FloatType => "FLOAT"
      case DoubleType => "DOUBLE"
      case StringType => "VARCHAR"
      case BooleanType => "BOOLEAN"
      case DateType => "DATE"
      case other => other.sql
    }
  }

  /** A [[Listing]]'s partition schema and its non-empty data files by
    * partition, as the scan's `InMemoryFileIndex` would list them under
    * the footer schema: `_` and `.` names are not data; the partition
    * columns and values are Spark's own inference
    * (`PartitioningUtils.parsePartitions`, through [[Partitions]]) over the directories that hold
    * data, below the roots (a file root's directory); and unpartitioned,
    * only the roots' own files and a directory root's direct children
    * are read. */
  private[graft] def partitions(spark: SparkSession, l: Listing)
      : (StructType, Seq[PartitionDirectory]) = {
    val byDir = l.files.filter(isData).groupBy(_.getPath.getParent)
    val spec = Partitions.parse(spark, byDir.keys.toSeq,
      l.roots.map(r => if (r.isDirectory) r.getPath else r.getPath.getParent)
        .toSet, l.schema)
    def read(fs: Seq[FileStatus]) = fs.filter(f => isData(f) && f.getLen > 0)
    val dirs =
      if (spec.partitionColumns.isEmpty)
        Seq(PartitionDirectory(InternalRow.empty, read(l.roots.flatMap(r =>
          if (r.isDirectory) byDir.getOrElse(r.getPath, Nil) else Seq(r)))
          .toArray))
      else spec.partitions.map(pp => PartitionDirectory(pp.values,
        read(byDir.getOrElse(pp.path, Nil)).toArray))
    (spec.partitionColumns, dirs)
  }

  /** One source's flagship in one partition: `coalesce(1)` makes the
    * scan report a single partition, so the partial/final aggregate and
    * the sort plan with no exchange. */
  private[graft] def fileQuery(spark: SparkSession, path: String): DataFrame =
    flagship(scan(spark, path).coalesce(1))

  /** The per-file flagship prepared once per footer schema, down to the
    * RDD — the Spark form of the prepared statement the reference's
    * DuckDB runs per file.
    *
    * The first source of each schema builds a [[Template]]: its
    * [[fileQuery]] planned to the physical plan that would run (AQE's
    * final plan; with no exchange there is nothing for AQE to re-plan),
    * one reader function from the scan's file format (one Hadoop conf
    * broadcast), the plan's `FileSourceScanExec` replaced by a
    * [[PreparedScanExec]] over one [[SplitsRDD]], and that plan executed
    * once: one RDD chain, each stage's code generated and every closure
    * cleaned once. A template is built by one thread; other sources of
    * its schema wait for it, and a failed build is retried by the next.
    *
    * Each source then cuts the files its footer read listed
    * ([[partitions]]) into splits as the scan would, and runs the chain
    * on the calling thread as an executor runs a task ([[InThread]]),
    * with those splits set on the chain's [[SplitsRDD]] leaf: no Spark
    * job, SQL execution, task binary or result serialization. Operators
    * keep per-run state in their plan nodes, so concurrent runs never
    * share a chain: each takes a copy from its template's free list,
    * deserialized once from the chain serialized at the build, and
    * returns it after a run that succeeded (a failed run's copy is
    * dropped). Nothing per file is listed twice, planned, copied,
    * generated, cleaned or broadcast.
    *
    * A template serves sources whose footer schema (with its metadata)
    * and partition schema equal its own; any other source builds its own
    * template. One Hadoop conf copy serves the footer reads of the whole
    * run. */
  private[graft] final class Prepared(spark: SparkSession) {
    private val conf = spark.sessionState.newHadoopConf()
    private val templates =
      new ConcurrentHashMap[(StructType, StructType), Slot]()
    /** The input of every run, for a scheme `Metrics.monitored` misses. */
    val metrics = new Metrics
    private val inThread = {
      // the session's SQL conf, as a SQL execution hands it to its tasks
      val props = new Properties
      for ((k, v) <- spark.sessionState.conf.getAllConfs
           if k.startsWith("spark")) props.setProperty(k, v)
      // Runs only: the projections and orderings an operator builds per
      // run (the aggregate's hash map and empty buffer, the sort's
      // sorter) are interpreted instead of generated and compiled for
      // every file. The per-row filter and aggregate stay in the
      // whole-stage code, compiled once at the template build, which
      // like every other session keeps code generation.
      props.setProperty(SQLConf.CODEGEN_FACTORY_MODE.key,
                        CodegenObjectFactoryMode.NO_CODEGEN.toString)
      new InThread(props, m => metrics.add(m.inputMetrics))
    }

    /** The physical plans of the templates built so far. */
    def plans: Seq[SparkPlan] = {
      import scala.jdk.CollectionConverters._
      templates.values.asScala.toSeq.flatMap(_.plan)
    }

    /** Templates built so far. */
    def planned: Int = plans.size

    /** Where a schema's template is built once. */
    private final class Slot {
      @volatile private var built: Template = _
      def get(path: String): Template = synchronized {
        if (built == null) built = new Template(path)
        built
      }
      def plan: Option[SparkPlan] = Option(built).map(_.plan)
    }

    /** A run's own copy of a template's chain: the RDD, its one
      * partition and its leaf. */
    private type Copy = (RDD[InternalRow], Partition, SplitsRDD)

    private final class Template(path: String) {
      private val qe: QueryExecution = fileQuery(spark, path).queryExecution
      private val physical = qe.executedPlan match {
        case aqe: AdaptiveSparkPlanExec => aqe.finalPhysicalPlan match {
          case result: ResultQueryStageExec => result.plan
          case p => p
        }
        case p => p
      }
      private val scan = physical.collectFirst {
        case s: FileSourceScanExec => s }.get
      private val relation = scan.relation
      private val leaf: SplitsRDD = {
        // the filters the scan pushes to the reader (a protected member,
        // public in bytecode)
        val pushed = classOf[FileSourceScanExec]
          .getMethod("pushedDownFilters").invoke(scan)
          .asInstanceOf[Seq[Filter]]
        val readFile = relation.fileFormat.buildReaderWithPartitionValues(
          relation.sparkSession, relation.dataSchema,
          relation.partitionSchema, scan.requiredSchema, pushed,
          relation.options + (FileFormat.OPTION_RETURNING_BATCH ->
            scan.supportsColumnar.toString),
          spark.sessionState.newHadoopConfWithOptions(relation.options))
        new SplitsRDD(relation.sparkSession, readFile,
          StructType(scan.requiredSchema ++ relation.partitionSchema),
          scan.fileConstantMetadataColumns,
          relation.fileFormat.fileConstantMetadataExtractors,
          new FileSourceOptions(CaseInsensitiveMap(relation.options)))
      }
      val plan: SparkPlan = physical.transformUp {
        case s: FileSourceScanExec if s eq scan => PreparedScanExec(s)(leaf)
      }
      /** The executed chain, serialized once with its partition and leaf
        * after its partitions and dependencies are materialized (an RDD
        * ships neither until they are). */
      private val image = {
        val rdd = plan.execute()
        def materialize(r: RDD[_]): Unit = {
          r.partitions
          r.dependencies.foreach(d => materialize(d.rdd))
        }
        materialize(rdd)
        SparkEnv.get.closureSerializer.newInstance()
          .serialize((rdd, rdd.partitions(0), leaf))
      }
      private val free = new ConcurrentLinkedQueue[Copy]()
      val schema: StructType = qe.analyzed.schema
      val toRow: Any => Any =
        CatalystTypeConverters.createToScalaConverter(schema)

      /** Runs the chain over `files` on a copy no other run holds. */
      def run[A](files: Array[PartitionedFile])(
          func: Iterator[InternalRow] => A): A = {
        val copy = Option(free.poll()).getOrElse(SparkEnv.get
          .closureSerializer.newInstance().deserialize[Copy](image.duplicate()))
        val (rdd, split, copyLeaf) = copy
        copyLeaf.files = files
        val out = inThread.run(rdd, split)(func)
        // only now: a failed run may leave its operators' state anywhere
        free.add(copy)
        out
      }

      /** Whether a partition's values pass the scan's partition filters,
        * evaluated as the file index prunes partitions. */
      private val keep: InternalRow => Boolean =
        scan.partitionFilters.reduceOption(And) match {
          case None => _ => true
          case Some(f) =>
            val cols = relation.partitionSchema
            val p = Predicate.createInterpreted(f.transform {
              case a: AttributeReference =>
                val i = cols.indexWhere(_.name == a.name)
                BoundReference(i, cols(i).dataType, nullable = true)
            })
            // runs of one template share it; its subexpression cache is
            // per row
            values => p.synchronized(p.eval(values))
        }

      /** `partitions`' files cut into splits as the template's scan cuts
        * them, in the order the scan's one coalesced task reads them. */
      def splits(partitions: Seq[PartitionDirectory])
          : Array[PartitionedFile] = {
        val dirs = partitions.filter(d => keep(d.values))
        val maxSplitBytes = FilePartition.maxSplitBytes(spark, dirs)
        val files = dirs.flatMap { dir =>
          dir.files.flatMap { f =>
            val p = f.getPath
            PartitionedFileUtil.splitFiles(f, p,
              relation.fileFormat.isSplitable(relation.sparkSession,
                                              relation.options, p),
              maxSplitBytes, dir.values)
          }
        }.sortBy(_.length)(Ordering[Long].reverse)
        FilePartition.getFilePartitions(spark, files, maxSplitBytes)
          .flatMap(_.files).toArray
      }
    }

    /** Runs the flagship on `path`; `consume` gets the result schema and
      * the rows inside the file's run, on the calling thread. */
    def run[A](path: String)(consume: (StructType, Iterator[Row]) => A): A = {
      val listing = footerSchema(spark, conf, path)
      val (partitionSchema, dirs) = partitions(spark, listing)
      val t = templates.computeIfAbsent((listing.schema, partitionSchema),
                                        _ => new Slot).get(path)
      t.run(t.splits(dirs)) { rows =>
        consume(t.schema, rows.map(t.toRow(_).asInstanceOf[Row]))
      }
    }
  }

  /** Run one file's query; streams result batches to stdout (A11) and
    * returns the hit count. */
  private def runOne(prepared: Prepared, source: String): Long =
    prepared.run(source.stripPrefix("'").stripSuffix("'")) { (schema, it) =>
      val fields = schema.fields
      var hits = 0L
      // 2048 = DuckDB's STANDARD_VECTOR_SIZE, the reference's chunk size.
      val batch = new scala.collection.mutable.ArrayBuffer[Row](2048)
      def flush(): Unit = if (batch.nonEmpty) {
        // One columnar chunk per flush, mirroring the reference's
        // chunk-at-a-time print of DataChunk::ToString() (reference
        // runner.cc:219–227; format in reference README.md:78–83): a
        // header line, then one `- FLAT <TYPE>: n = [ v, v, …]` line per
        // column. Java's Double.toString matches DuckDB's shortest-round-
        // trip decimals for values in plain-decimal range (all flagship
        // outputs); the engines' exponent spellings differ for extreme
        // magnitudes (1.0E16 vs 1e+16). Written under the stdout lock so
        // concurrent files can't interleave into each other's chunk.
        val text = new StringBuilder
        text.append(s"Chunk - [${fields.length} Columns]\n")
        var c = 0
        while (c < fields.length) {
          val vals = batch.map(r =>
            if (r.isNullAt(c)) "NULL" else r.get(c).toString)
          text.append(s"- FLAT ${duckTypeName(fields(c).dataType)}: ")
            .append(batch.size).append(" = [ ")
            .append(vals.mkString(", ")).append("]\n")
          c += 1
        }
        System.out.synchronized { print(text.toString) }
        batch.clear()
      }
      while (it.hasNext) {
        batch += it.next()
        hits += 1
        if (batch.size >= 2048) flush()
      }
      flush()
      hits
    }

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Opts())

    val sources = Iterator.continually(scala.io.StdIn.readLine())
      .takeWhile(_ != null).flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .toVector
    val shuffled = new Random(1).shuffle(sources)

    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-runner")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    s3aConfigs(opts).foreach { case (k, v) => builder.config(k, v) }
    ghttpConfigs(opts).foreach { case (k, v) => builder.config(k, v) }
    // the plain-HTTP monitored object profile (graft.io.GraftHttpFileSystem)
    // — ghttp:// sources count every ranged GET and its wire bytes, the
    // reference's read-op semantics (runner.cc:75–172)
    builder.config("spark.hadoop.fs.ghttp.impl",
                   "graft.io.GraftHttpFileSystem")
    // file:// sources count their read requests and bytes the same way
    builder.config("spark.hadoop.fs.file.impl",
                   "graft.io.CountingLocalFileSystem")
    // Row-group pruning on min/max statistics only, as DuckDB's zone maps:
    // parquet-mr's dictionary filter expands each surviving row group's
    // x/y/z dictionaries into boxed sets, which high-cardinality doubles
    // under open intervals never let it prune, and over ghttp each
    // expansion opens and abandons a 1 MiB readahead window.
    builder.config("spark.hadoop.parquet.filter.dictionary.enabled", "false")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val prepared = new Prepared(spark)

    val pool = Executors.newFixedThreadPool(opts.threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

    // The monitored read counters are JVM-global and monotonic: snapshot
    // them so the stat block reports only this run's window.
    val (opsBefore, bytesBefore) = Metrics.monitored()
    val t0 = System.nanoTime()
    val futures = shuffled.map { src =>
      Future(Try(runOne(prepared, src)) match {
        case Success(hits) => hits
        case Failure(e) =>   // per-file isolation (runner.cc:293–297)
          System.err.println(s"error processing $src: ${e.getMessage}")
          0L
      })
    }
    val totalHits = Await.result(Future.sequence(futures), Duration.Inf).sum
    val t1 = System.nanoTime()
    pool.shutdown()

    // Read ops and bytes are the requests made and the bytes pulled, as
    // the monitored filesystems count them (exactly the reference's
    // semantics, runner.cc:109–117); every file is read in this JVM. When
    // no monitored filesystem read anything, the count of runs that read
    // input and their input bytes are the documented fallback (SURVEY.md
    // §3.3).
    val (opsAfter, bytesAfter) = Metrics.monitored()
    val monitored = opsAfter > opsBefore
    val metrics = prepared.metrics
    val bytes =
      if (monitored) bytesAfter - bytesBefore else metrics.bytesRead
    System.err.println(
      s"Number data sources (parquet files): ${sources.size}")
    System.err.println(s"Threads: ${opts.threads}")
    System.err.println(f"Total Query time: ${(t1 - t0) / 1e9}%.2f s")
    System.err.println(s"Total hits: $totalHits")
    if (monitored)
      System.err.println(s"Total read ops: ${opsAfter - opsBefore}")
    else
      System.err.println(s"Total read ops (scan tasks): ${metrics.readTasks}")
    System.err.println(s"Total read bytes: $bytes")
    System.err.println(f"... in KBs: ${bytes / 1e3}%.2f")
    System.err.println(f"... in MBs: ${bytes / 1e6}%.2f")
    System.err.println(f"... in GBs: ${bytes / 1e9}%.2f")
    System.err.println("Done")
    spark.stop()
  }
}
