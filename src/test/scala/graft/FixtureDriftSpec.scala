package graft

/** Fixture-drift tripwire (round-11 postmortem): the driver regenerates
  * /root/testdata between rounds and has already shifted a column's
  * physical type once — events.ts went timestamp[ns] → timestamp[us]
  * mid-round, which silently crashed 20 batch queries and corrupted 7
  * streaming answers before anything named the cause. The pins (accepted
  * per-column types + epoch range of every normalized time column) live
  * in [[FixtureGuard]], shared with Verify.main so the driver path fails
  * fast too; this spec keeps them in every sbt test run.
  */
class FixtureDriftSpec extends SparkTestBase {

  test("every fixture table resolves to an accepted physical schema " +
       "and normalized time columns land in the fixture's real epoch") {
    val drift = FixtureGuard.drift(spark, sf0001)
    assert(drift.isEmpty,
      s"\nFIXTURE DRIFT — regenerate-proof the readers before anything " +
      s"else this round:\n  ${drift.mkString("\n  ")}")
  }

  test("the stream's read schema agrees with the batch read") {
    for (t <- Seq("events", "documents")) {
      val stream = graft.streaming.StreamOps.fixture(spark, sf0001, t).schema
      val raw = spark.read.parquet(s"$sf0001/$t.parquet").schema
      assert(stream == raw, s"$t: stream reads $stream, batch $raw")
    }
  }

  test("a missing fixture dir is not drift — the preamble must let " +
       "Verify reach its per-query failure logging (exit-0 contract)") {
    // Regressed silently in r11: drift()'s schema read threw an
    // uncaught AnalysisException on a missing dir, aborting Verify
    // before any per-query diagnostics or oracle_sql.json.
    assert(FixtureGuard.drift(spark, "/nonexistent-graft-fixture") == Nil)
  }
}
