package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Input-side formats beyond parquet (SURVEY §2.3 sources row — the
  * reference reads parquet only; a real pipeline also lands CSV/JSONL
  * drops from upstream producers).
  *
  * Contract: the schema is always EXPLICIT. Schema inference costs one
  * extra full pass over the data before the real read (at 100 TB that is
  * the whole job twice) and silently changes types when a partition's
  * sample differs — both unacceptable at scale. Callers declare the
  * schema; malformed rows are quarantined, not inferred around. The
  * contract holds for parquet too: parquet describes itself, so its
  * explicit schema is the one footer [[ParquetSource]] reads, and no
  * parquet read in the engine runs Spark's schema-inference job.
  *
  * Caveat: Spark refuses a query whose only referenced column is the
  * corrupt-record column of a raw file scan — materialize (cache/write)
  * before auditing `_corrupt` alone (see SourcesSpec).
  */
object Sources {

  /** CSV with header, explicit schema, malformed rows dropped into
    * `_corrupt` (PERMISSIVE): the landing-zone reader. Splittable (plain
    * CSV splits by line), so parallelism follows file size, not count. */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              delimiter: String = ","): DataFrame =
    spark.read
      .schema(schema.add("_corrupt", "string"))
      .option("header", "true")
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
      .csv(path)

  /** JSON Lines (one object per line — the only JSON layout that splits;
    * multiline JSON forces one reader per file). Explicit schema,
    * malformed lines quarantined in `_corrupt`. */
  def readJsonLines(spark: SparkSession, path: String,
                    schema: StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt", "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** ORC with explicit schema — the interchange format when the other
    * side of the pipeline is a Hive-ecosystem warehouse. Columnar like
    * parquet: predicate pushdown and column pruning reach the stripe
    * level (SourcesSpec asserts pushed filters survive in the plan), so
    * the 100 TB read-path posture is the same as the parquet scan's.
    * No `_corrupt` column: ORC is a binary format — a malformed file is
    * a failed file, not a quarantinable row. */
  def readOrc(spark: SparkSession, path: String,
              schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)
}
