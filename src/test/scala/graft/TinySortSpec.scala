package graft

import org.apache.spark.sql.functions._

/** plans.TinySortSingularize: a global ORDER BY over a runtime-verified
  * tiny AQE stage drops the range exchange for a single-partition local
  * sort — identical output, no boundary-sampling job. */
class TinySortSpec extends SparkTestBase {
  import spark.implicits._

  // A non-file source: TinyAggSingularize only fires over a file scan,
  // so these aggregates keep their exchange and the suite exercises the
  // TinySortSingularize path specifically.
  private def aggSorted = spark.range(0, 6000, 1, 4)
    .select(($"id" % 3).as("k"), ($"id" % 50).as("q"))
    .groupBy($"k")
    .agg(count(lit(1)).as("n"), sum($"q").as("q"))
    .orderBy(desc("n"), asc("k"))

  test("tiny agg+sort loses its range exchange; output order unchanged") {
    val df = aggSorted
    val rows = df.collect()
    // toString prints "== Final Plan ==" followed by "== Initial Plan ==";
    // only the final section reflects the adaptive rewrite.
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!finalPlan.contains("rangepartitioning"),
      s"tiny sort kept its range exchange:\n$finalPlan")
    val expected = withPlain(aggSorted.collect())
    assert(rows.toSeq == expected.toSeq)
  }

  test("kill switch restores the range-partitioned global sort") {
    withPlain {
      val df = aggSorted
      df.collect()
      assert(df.queryExecution.executedPlan.toString
        .contains("rangepartitioning"))
    }
  }
}
