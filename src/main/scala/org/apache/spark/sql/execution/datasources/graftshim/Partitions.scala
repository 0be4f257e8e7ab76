package org.apache.spark.sql.execution.datasources.graftshim

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{PartitionSpec,
  PartitioningUtils}
import org.apache.spark.sql.types.StructType

/** Bridge to the partition inference every file index runs
  * (`PartitioningUtils.parsePartitions` is `private[datasources]`). This
  * package lives under Spark's datasources package purely for access; it
  * contains no Spark code. */
object Partitions {
  /** The partition columns and values `InMemoryFileIndex` infers for the
    * directories `leafDirs` below `basePaths`, under a user-specified
    * `schema`, with the session conf's settings. */
  def parse(spark: SparkSession, leafDirs: Seq[Path], basePaths: Set[Path],
            schema: StructType): PartitionSpec = {
    val conf = spark.sessionState.conf
    PartitioningUtils.parsePartitions(leafDirs,
      conf.partitionColumnTypeInferenceEnabled, basePaths, Some(schema),
      conf.caseSensitiveAnalysis, conf.validatePartitionColumns,
      conf.sessionLocalTimeZone, conf.ignoreInvalidPartitionPaths)
  }
}
