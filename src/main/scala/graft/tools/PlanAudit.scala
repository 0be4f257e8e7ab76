package graft.tools

/** Plan audit over the full inventory: prints the physical operators each
  * query uses so shuffle/join/pushdown regressions are visible at a
  * glance. Usage: runMain graft.tools.PlanAudit [sfDir] */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // the bench/verify session config — including the injected optimizer
    // rules; a plain builder would audit plans the engine never runs
    // (e.g. q_join_range_auto without RangeJoinBinning)
    val spark = graft.SessionDefaults.builder(graft.SessionDefaults.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // q_stream_* builders RUN their micro-batch harness on build — the
    // gated per-query teardown keeps an all-queries audit from
    // accumulating providers (StreamOps runStreamN)
    spark.conf.set("spark.graft.stream.teardown", "true")
    val interesting = Seq("CartesianProduct", "SortMergeJoin",
      "BroadcastHashJoin", "BroadcastNestedLoopJoin", "ShuffledHashJoin",
      "Exchange", "HashAggregate", "SortAggregate", "ObjectHashAggregate",
      "TakeOrderedAndProject", "Window", "Generate", "Expand",
      "WholeStageCodegen")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val qe = fn(spark, sfDir).queryExecution
        // formatted mode includes scan details (PushedFilters/ReadSchema)
        val plan = qe.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val counts = interesting.flatMap { op =>
          val c = plan.sliding(op.length).count(_ == op)
          if (c > 0) Some(s"$op=$c") else None
        }
        val pushed = "PushedFilters: \\[[^\\]]+\\]".r
          .findAllIn(plan).toSeq.count(!_.contains("[]"))
        println(s"[audit] $name :: ${counts.mkString(" ")} pushedFilterScans=$pushed")
      } catch { case e: Throwable =>
        println(s"[audit] $name :: ERROR ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
