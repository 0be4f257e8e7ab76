package org.apache.spark

/** Test access to the execution memory the memory manager counts as
  * held, which Spark keeps package private. */
object ExecutionMemory {
  def used(sc: SparkContext): Long = sc.env.memoryManager.executionMemoryUsed
}
