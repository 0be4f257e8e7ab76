package graft.runner

import java.nio.ByteBuffer
import java.util.Base64

import org.apache.spark.{Partition, SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.{FileSourceScanExec, LeafExecNode}
import org.apache.spark.sql.execution.datasources.{FilePartition,
  FileScanRDD, PartitionedFile}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The splits a prepared scan reads travel as a job's local property. */
private[graft] object PreparedScan {
  /** The local property naming a job's splits. */
  val SplitsKey = "graft.runner.splits"

  /** `files` as a local property value (Java-serialized, base64). */
  def encode(files: Array[PartitionedFile]): String = {
    val buf = SparkEnv.get.closureSerializer.newInstance().serialize(files)
    val bytes = new Array[Byte](buf.remaining)
    buf.get(bytes)
    Base64.getEncoder.encodeToString(bytes)
  }

  def decode(value: String): Array[PartitionedFile] =
    SparkEnv.get.closureSerializer.newInstance()
      .deserialize[Array[PartitionedFile]](
        ByteBuffer.wrap(Base64.getDecoder.decode(value)))
}

/** A `FileScanRDD` of one partition whose files are the running job's:
  * each task reads, in order, the splits its job's [[PreparedScan.SplitsKey]]
  * local property names. One instance serves every file of a template. */
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
  override def compute(split: Partition,
                       context: TaskContext): Iterator[InternalRow] =
    super.compute(FilePartition(0, PreparedScan.decode(
      context.getLocalProperty(PreparedScan.SplitsKey))), context)
}

/** The leaf that replaces a template's `FileSourceScanExec`: the scan's
  * output, row or columnar as the scan was, over a [[SplitsRDD]] built
  * once. The scan's own row and time metrics are not kept; the tasks'
  * input metrics are. */
private[runner] final case class PreparedScanExec(scan: FileSourceScanExec)(
    rdd: RDD[InternalRow]) extends LeafExecNode {
  override def output: Seq[Attribute] = scan.output
  override def supportsColumnar: Boolean = scan.supportsColumnar
  override def vectorTypes: Option[Seq[String]] = scan.vectorTypes
  override protected def otherCopyArgs: Seq[AnyRef] = rdd :: Nil
  override def simpleString(maxFields: Int): String =
    s"PreparedScan ${scan.relation.fileFormat} " +
      output.mkString("[", ",", "]") + s", splits from ${PreparedScan.SplitsKey}"
  override protected def doExecute(): RDD[InternalRow] = rdd
  override protected def doExecuteColumnar(): RDD[ColumnarBatch] =
    rdd.asInstanceOf[RDD[ColumnarBatch]]
}
