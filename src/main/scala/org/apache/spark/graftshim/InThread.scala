package org.apache.spark.graftshim

import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{Partition, SparkEnv, TaskContext, TaskContextImpl}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.memory.TaskMemoryManager
import org.apache.spark.rdd.RDD

/** Runs one partition of an RDD on the calling thread, as `Task.run` runs
  * it on an executor thread, with no job, no task binary and no result
  * serialization. Each run gets a fresh `TaskContext` (its own task
  * memory manager, metrics and a task-attempt id the scheduler never
  * issues), registered with the block manager and set on the thread; on
  * the way out, on success or failure, the task is marked failed where
  * it failed and completed (its completion listeners close the readers
  * and free the sort and aggregate memory), its block locks and memory
  * are released and the context is unset.
  *
  * The RDD is the caller's own: an RDD that operators store per-run state
  * in (`SortExec` keeps its sorter in the plan node) must not be run by
  * two threads at once. `props` are every run's local properties (the
  * session's SQL conf reaches `SQLConf.get` through them, as it reaches
  * an executor's tasks); `finished` gets each run's metrics once the run
  * has ended, failed or not. This package lives under org.apache.spark
  * purely for access to the `private[spark]` task context; it contains
  * no Spark code. */
final class InThread(props: Properties, finished: TaskMetrics => Unit) {
  def run[T, U](rdd: RDD[T], split: Partition)(func: Iterator[T] => U): U = {
    val env = SparkEnv.get
    val id = InThread.ids.getAndIncrement()
    val memory = new TaskMemoryManager(env.memoryManager, id)
    val context = new TaskContextImpl(0, 0, split.index, id, 0, 1, memory,
      props, env.metricsSystem, TaskMetrics.empty, 1, Map.empty)
    env.blockManager.registerTask(id)
    TaskContext.setTaskContext(context)
    try {
      try func(rdd.iterator(split, context))
      catch { case e: Throwable =>
        try context.markTaskFailed(e)
        catch { case t: Throwable => e.addSuppressed(t) }
        context.markTaskCompleted(Some(e))
        throw e
      } finally context.markTaskCompleted(None)
    } finally {
      try {
        env.blockManager.releaseAllLocksForTask(id)
        memory.cleanUpAllAllocatedMemory()
        finished(context.taskMetrics)
      } finally TaskContext.unset()
    }
  }
}

object InThread {
  /** Task-attempt ids below any the scheduler issues: it counts up
    * from 0. */
  private val ids = new AtomicLong(Long.MinValue)
}
