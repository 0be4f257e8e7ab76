package org.apache.spark.graftshim

import scala.reflect.ClassTag

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.util.Utils

/** One job on an RDD that was built once to be run many times. It is
  * `SparkContext.runJob` without the per-job closure cleaning (the RDD's
  * closures were cleaned when it was built, and `func` must serialize as
  * it is), on a closure-free one-node RDD of the job's own over `rdd`,
  * and without touching the calling thread's local properties:
  * the job's properties are a copy of the caller's plus `property`, and
  * they ship with each task, so a task reads its job's input from
  * `TaskContext.getLocalProperty` on a cluster as in local mode. This
  * package lives under org.apache.spark purely for access to the
  * `private[spark]` scheduler; it contains no Spark code. */
object PreparedJob {
  /** Runs `func` over the one partition of `rdd` and returns its result. */
  def runOne[T: ClassTag, U](rdd: RDD[T], func: (TaskContext, Iterator[T]) => U,
                             property: (String, String)): U = {
    val sc = rdd.sparkContext
    if (sc.isStopped)
      throw new IllegalStateException("SparkContext has been shutdown")
    val props = Utils.cloneProperties(sc.getLocalProperties)
    props.setProperty(property._1, property._2)
    val job = new JobRDD(rdd)
    var result: Option[U] = None
    sc.dagScheduler.runJob(job, func, Seq(0), job.creationSite,
                           (_: Int, u: U) => result = Some(u), props)
    result.get
  }

  /** `prev` under an RDD of the job's own. The scheduler aborts every
    * active job that reaches a failed stage's RDD, so jobs that ran on
    * `prev` itself would all fail with any one of them. */
  private final class JobRDD[T: ClassTag](prev: RDD[T]) extends RDD[T](prev) {
    override protected def getPartitions: Array[Partition] =
      firstParent[T].partitions
    override def compute(split: Partition, context: TaskContext): Iterator[T] =
      firstParent[T].iterator(split, context)
  }
}
