package graft.tools

/** Ad-hoc profiler: runs one query N times under the bench session
  * config, noop-sink executed (count() lets Catalyst prune unreferenced
  * projections), releasing every session memo between runs, then
  * prints the formatted physical plan.
  * Usage: runMain graft.tools.Profile <query> [sfDir] [n] */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query> [sfDir] [n]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val spark = graft.SessionDefaults.builder(graft.SessionDefaults.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // repeated stream-query profiling in one JVM needs the gated
    // per-query teardown (StreamOps runStreamN)
    spark.conf.set("spark.graft.stream.teardown", "true")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name; known: " +
        graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    (1 to n).foreach { i =>
      graft.SessionDefaults.release(spark)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      df.write.format("noop").mode("overwrite").save()
      val tTotal = (System.nanoTime() - t0) / 1e9
      // build = builder-body work (iterative queries run their fixpoint
      // eagerly there); write = the final action's execution.
      println(f"[profile] run $i: $tTotal%.3f s " +
        f"(build $tBuild%.3f s, write ${tTotal - tBuild}%.3f s)")
    }
    if (sys.env.get("PROFILE_EXPLAIN").contains("1"))
      fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
