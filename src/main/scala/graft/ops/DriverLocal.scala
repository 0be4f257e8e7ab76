package graft.ops

import scala.collection.mutable.ArrayBuilder
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.io.ParquetSource

/** Bounded driver-local execution: the one gate for every "small
  * input runs on the driver" twin — the connected-components
  * union-find ([[DedupOps.propagateMinLabels]]), the k-means Lloyd
  * ([[SimOps]]) and the PageRank rounds ([[GraphOps]]). At fixture
  * scale a distributed spelling's cost is fixed per-job overhead.
  *
  * Each site passes an estimate of its driver working set (rows × bytes
  * per row: the collected primitive payload, plus the driver structures
  * the site builds per row where it counts them) and [[admit]] decides
  * against one bound: the driver heap / 8 (384 MiB at a 3 g heap), and
  * never above `spark.driver.maxResultSize`. [[graft.Plain]]
  * (`spark.graft.plain=true`) forces every site onto its distributed
  * path. No estimate (an unreadable input) fails closed
  * to the distributed path. Estimates read metadata, never data:
  * parquet footer counts ([[footerBytes]]; on-disk bytes say nothing
  * about a projected, decompressed collect) or a materialized
  * checkpoint's deserialized in-memory bytes ([[cachedBytes]]). Under
  * the bound the site
  * collects ONCE into primitive arrays built per partition from the
  * executed plan's internal rows ([[collectLongs]],
  * [[collectVectors]]) and runs its loop on the driver. */
object DriverLocal {
  /** `heap` / 8, and never above a positive `maxResultSize`: a collect
    * whose results pass it aborts. */
  private[ops] def bound(heap: Long, maxResultSize: Long): Long =
    if (maxResultSize > 0) math.min(heap / 8, maxResultSize) else heap / 8

  /** The gate: true when `site` may run on the driver. Emits one
    * decision line per call, the same format for every site; under
    * [[graft.Plain]] the bound reads 0. */
  def admit(s: SparkSession, site: String, estimate: Option[Long])
      : Boolean = {
    val limit = if (graft.Plain(s)) 0L
      else bound(Runtime.getRuntime.maxMemory,
        s.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize",
          "1g"))
    val local = limit > 0 && estimate.exists(_ <= limit)
    System.err.println(s"[local] $site: estimate=" +
      estimate.fold("none")(e => s"$e B") + s" bound=$limit B -> " +
      (if (local) "driver" else "distributed"))
    local
  }

  /** Σ over the parquet footers of `path`'s data files
    * ([[graft.io.ParquetSource]]: a file, a directory, a glob or a
    * `k=v` partitioned tree) of rows × `rowBytes` + elements of the list
    * column `listCol` × `elemBytes`. Metadata only. None when the source
    * or any footer is unreadable, so [[admit]] fails closed. */
  def footerBytes(s: SparkSession, path: String, rowBytes: Long,
                  listCol: String = "", elemBytes: Long = 0L)
      : Option[Long] = try {
    val conf = s.sessionState.newHadoopConf()
    val blocks = ParquetSource.footers(conf,
      ParquetSource.footerSchema(s, conf, path)).flatMap(_.getBlocks.asScala)
    Some(blocks.map { b =>
      val elems = if (listCol.isEmpty) 0L else b.getColumns.asScala
        .filter(_.getPath.toDotString.startsWith(listCol + "."))
        .map(_.getValueCount).sum
      b.getRowCount * rowBytes + elems * elemBytes
    }.sum)
  } catch { case NonFatal(_) => None }

  /** Stored bytes of the cached RDDs `ids` — only when every partition
    * is cached, held deserialized in memory, with nothing on disk.
    * Deserialized blocks are never compressed (`spark.rdd.compress`
    * applies to serialized and disk blocks), so the figure cannot fall
    * below the payload; otherwise None and the caller counts. */
  def cachedBytes(s: SparkSession, ids: Set[Int]): Option[Long] = {
    val infos = s.sparkContext.getRDDStorageInfo.filter(i => ids(i.id))
    val whole = infos.nonEmpty && infos.forall(i =>
      i.numCachedPartitions == i.numPartitions && i.diskSize == 0 &&
        i.storageLevel.deserialized)
    val bytes = infos.map(_.memSize).sum
    if (whole && bytes > 0) Some(bytes) else None
  }

  /** One job: `f` folds each partition's internal rows into one value
    * on the executor; the per-partition values come back to the
    * driver. Runs under a SQL execution id like a Dataset action, so
    * query listeners see the plan. */
  private def collectParts[T: ClassTag](df: DataFrame)
      (f: Iterator[InternalRow] => T): Array[T] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      qe.executedPlan.execute()
        .mapPartitions(it => Iterator.single(f(it))).collect()
    }
  }

  /** Appends `r`'s first `n` (long) columns to `b`. The driver loops
    * have no slot for a null (read unchecked it is 0), so it fails. */
  private def appendLongs(r: InternalRow, n: Int, b: ArrayBuilder.ofLong)
      : Unit = {
    var i = 0
    while (i < n) {
      if (r.isNullAt(i)) nullValue()
      b += r.getLong(i); i += 1
    }
  }

  private def nullValue(): Nothing = throw new IllegalArgumentException(
    s"driver-local collect: null value; set ${graft.Plain.Key}=true")

  /** Every (long) column of `df`, row-major, in one array. */
  def collectLongs(df: DataFrame): Array[Long] = {
    val w = df.schema.length
    require(df.schema.forall(_.dataType == LongType), df.schema.simpleString)
    Array.concat(collectParts(df) { it =>
      val b = new ArrayBuilder.ofLong
      it.foreach(appendLongs(_, w, b)); b.result()
    }.toIndexedSeq: _*)
  }

  /** `df` = (long keys…, array<double>): the keys row-major in one
    * array (stride = key count) and each row's vector as a primitive
    * `Array[Double]`, in the same row order. */
  def collectVectors(df: DataFrame): (Array[Long], Array[Array[Double]]) = {
    val nk = df.schema.length - 1
    require(df.schema.init.forall(_.dataType == LongType) &&
      (df.schema.last.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      }), df.schema.simpleString)
    val parts = collectParts(df) { it =>
      val ks = new ArrayBuilder.ofLong
      val vs = new ArrayBuilder.ofRef[Array[Double]]
      it.foreach { r =>
        appendLongs(r, nk, ks)
        if (r.isNullAt(nk)) nullValue()
        val a = r.getArray(nk)
        if ((0 until a.numElements()).exists(a.isNullAt)) nullValue()
        vs += a.toDoubleArray()
      }
      (ks.result(), vs.result())
    }
    (Array.concat(parts.toIndexedSeq.map(_._1): _*),
     Array.concat(parts.toIndexedSeq.map(_._2): _*))
  }
}
