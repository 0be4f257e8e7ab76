package graft.runner

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode}
import org.apache.spark.sql.execution.datasources.{FilePartition,
  FileScanRDD, PartitionedFile}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** A `FileScanRDD` of one partition that reads, in order, the splits in
  * its [[files]]. A template's chain is copied for each concurrent run,
  * this leaf with it, and a run sets its copy's files before it runs. */
private[runner] final class SplitsRDD(
    spark: SparkSession,
    readFile: PartitionedFile => Iterator[InternalRow],
    readSchema: StructType,
    metadataColumns: Seq[AttributeReference],
    metadataExtractors: Map[String, PartitionedFile => Any],
    options: FileSourceOptions)
    extends FileScanRDD(spark, readFile, Seq(FilePartition(0, Array.empty)),
                        readSchema, metadataColumns, metadataExtractors,
                        options) {
  /** The splits the next run reads. */
  var files: Array[PartitionedFile] = Array.empty

  override def compute(split: Partition,
                       context: TaskContext): Iterator[InternalRow] =
    super.compute(FilePartition(0, files), context)
}

/** The leaf that replaces a template's `FileSourceScanExec`: the scan's
  * output, row or columnar as the scan was, over a [[SplitsRDD]] built
  * once. The scan's own row and time metrics are not kept; each run's
  * input metrics are. */
private[runner] final case class PreparedScanExec(scan: FileSourceScanExec)(
    rdd: RDD[InternalRow]) extends LeafExecNode {
  override def output: Seq[Attribute] = scan.output
  override def supportsColumnar: Boolean = scan.supportsColumnar
  override def vectorTypes: Option[Seq[String]] = scan.vectorTypes
  override protected def otherCopyArgs: Seq[AnyRef] = rdd :: Nil
  override def simpleString(maxFields: Int): String =
    s"PreparedScan ${scan.relation.fileFormat} " +
      output.mkString("[", ",", "]") + ", splits set per run"
  override protected def doExecute(): RDD[InternalRow] = rdd
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] =
    rdd.asInstanceOf[RDD[ColumnarBatch]]
}
