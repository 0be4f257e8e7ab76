package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.{
  NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** A parquet source's one listing and one footer: the only code that lists
  * a parquet source (a file, a directory, a glob or a `k=v` partitioned
  * tree, under any Hadoop filesystem) or opens its footers. Every read of
  * a parquet source takes its schema from here, as DuckDB binds a scan
  * from the file's own metadata (reference runner.cc:176–180): no read
  * runs Spark's schema-inference job. Sizes, fingerprints and driver-side
  * estimates come from the same listing. */
object ParquetSource {

  /** A source's roots (itself, or a glob's matches), every leaf under
    * them that the file index would list, and its footer schema; every
    * path is qualified. */
  final case class Listing(roots: Seq[FileStatus], files: Seq[FileStatus],
                           schema: StructType) {
    /** The non-empty data files under the roots. */
    def dataFiles: Seq[FileStatus] =
      files.filter(f => isData(f) && f.getLen > 0)
    /** Bytes of the data files. */
    def bytes: Long = dataFiles.map(_.getLen).sum
    /** Newest modification time of any listed leaf. */
    def newest: Long = files.map(_.getModificationTime).foldLeft(0L)(math.max)
  }

  /** The file index's data files: `_` and `.` names are not data, except
    * `k=v` partition directories. */
  def isData(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    !(n.startsWith("_") && !n.contains("=") || n.startsWith("."))
  }

  /** The [[Listing]] of `path`, with the schema Spark's (non-merging)
    * parquet inference gives it, read from ONE footer on the driver
    * instead of inference's schema job. Inference touches the first of
    * `_common_metadata`, `_metadata` and the data files, each by path
    * order (ParquetUtils.inferSchema), and honours the Spark-schema
    * key-value metadata; the same file and converter are used here.
    * TIMESTAMP(NANOS) columns convert to their raw int64
    * (`spark.sql.legacy.parquet.nanosAsLong`, set on the session before
    * the conversion, so the scan reads them under the same type; the
    * setting changes nothing for µs/ms columns). */
  def footerSchema(spark: SparkSession, conf: Configuration,
                   path: String): Listing = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def qualified(st: FileStatus): FileStatus = {
      val q = fs.makeQualified(st.getPath)
      if (q == st.getPath) st
      else { val c = new FileStatus(st); c.setPath(q); c }
    }
    val roots =
      (if (path.exists("{}[]*?\\".contains(_)))
         Option(fs.globStatus(p)).toSeq.flatten
       else Seq(fs.getFileStatus(p))).map(qualified)
    val summaries = Seq("_common_metadata", "_metadata")
    // the file index's listing filter: hidden and `_` names are skipped,
    // parquet's summary files are kept
    def listed(n: String): Boolean = summaries.exists(n.startsWith) ||
      !(n.startsWith("_") && !n.contains("=") || n.startsWith(".") ||
        n.endsWith("._COPYING_"))
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filter(c => listed(c.getPath.getName)).map(qualified).flatMap(leaves)
    val files = roots.flatMap(leaves).sortBy(_.getPath.toString)
    val leaf = (summaries.flatMap(n => files.find(_.getPath.getName == n)) ++
        files.filterNot(f => summaries.contains(f.getPath.getName)))
      .headOption.getOrElse(throw new java.io.FileNotFoundException(
        s"no parquet file under $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(leaf, conf), SKIP_ROW_GROUPS)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Listing(roots, files, ParquetFileFormat.readSchemaFromFooter(
      new Footer(leaf.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
  }

  /** The footers, row groups included, of `l`'s data files. */
  def footers(conf: Configuration, l: Listing): Seq[ParquetMetadata] =
    l.dataFiles.map(f => ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, conf), NO_FILTER))

  /** `l`'s source `path` scanned under its footer schema: no schema job. */
  def read(spark: SparkSession, path: String, l: Listing): DataFrame =
    spark.read.schema(l.schema).parquet(path)

  /** `path` scanned under its [[footerSchema]]. */
  def scan(spark: SparkSession, path: String): DataFrame =
    read(spark, path, footerSchema(spark, spark.sessionState.newHadoopConf(),
                                   path))
}
