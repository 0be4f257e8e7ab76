package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter — local dev only]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = SessionDefaults.builder(SessionDefaults.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // harness-only per-query stream teardown (StreamOps runStreamN)
    spark.conf.set("spark.graft.stream.teardown", "true")
    // Fixture-drift tripwire BEFORE any query runs: a regenerated fixture
    // with an unhandled physical type fails here with one diagnostic line
    // and a nonzero exit, instead of 150 opaque per-query failures (the
    // r11 burn; FixtureGuard holds the pins, FixtureDriftSpec runs the
    // same check under sbt).
    val drift = FixtureGuard.drift(spark, sfDir)
    if (drift.nonEmpty) {
      System.err.println(
        s"FIXTURE DRIFT at $sfDir — regenerate-proof the readers before " +
        s"anything else this round:\n  ${drift.mkString("\n  ")}")
      spark.stop()
      sys.exit(2)
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Yardstick.jstr escapes every control char: a tab or CR in a
    // query's oracle SQL would otherwise make every JSON reader of
    // oracle_sql.json (tools/check.py among them) fail.
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${Yardstick.jstr(k)}: ${Yardstick.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Staged stream fixtures are memoized in RAM-backed scratch for the
    // session; release them at end-of-run so repeated Verify invocations
    // can't accumulate copies in /dev/shm.
    graft.streaming.StreamOps.clearStagedFixtures()
    spark.stop()
  }
}
