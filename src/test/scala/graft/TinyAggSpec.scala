package graft

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan,
  Repartition}
import org.apache.spark.sql.functions._

/** plans.TinyAggSingularize: an aggregate over an exact-size-tiny file
  * scan is pinned to one partition, so the partial→final agg exchange
  * (and any downstream sort exchange) disappears — identical rows. */
class TinyAggSpec extends SparkTestBase {
  import spark.implicits._

  private def flagshipish = ops.table(spark, sf0001, "lineitem")
    .filter($"l_quantity" > 10 && $"l_quantity" < 20)
    .groupBy($"l_orderkey")
    .agg(min($"l_quantity").as("x"), ops.davg($"l_extendedprice").as("e"))
    .orderBy(asc_nulls_last("e"), $"l_orderkey")

  test("tiny-scan aggregate plans with no exchange at all") {
    val df = flagshipish
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!finalPlan.contains("Exchange"),
      s"tiny-scan agg kept an exchange:\n$finalPlan")
    assert(finalPlan.contains("Coalesce"),
      s"expected the singularizing Coalesce:\n$finalPlan")
  }

  test("rewrite is bit-identical to the exchange plan") {
    val got = flagshipish.collect()
    val expected = withPlain(flagshipish.collect())
    assert(got.toSeq == expected.toSeq)
  }

  test("kill switch restores the hash exchange") {
    withPlain {
      val df = ops.table(spark, sf0001, "lineitem")
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      df.collect()
      assert(df.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"))
    }
  }

  test("does not fire above the size threshold") {
    // the session's rule has the fixed 16 MiB bound; a 1-byte instance
    // sees the same 117 KB scan as too big
    val analyzed = ops.table(spark, sf0001, "lineitem")
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      .queryExecution.analyzed
    def repartitions(p: LogicalPlan) = p.collect { case r: Repartition => r }
    assert(repartitions(plans.TinyAggSingularize(maxBytes = 1)(analyzed))
      .isEmpty)
    assert(repartitions(plans.TinyAggSingularize()(analyzed)) ==
      Seq(Repartition(1, shuffle = false, analyzed.children.head)))
  }

  test("does not fire when the aggregate input is a join") {
    val l = ops.table(spark, sf0001, "lineitem")
    val o = ops.table(spark, sf0001, "orders")
    val df = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy($"o_orderpriority").agg(count(lit(1)).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("Repartition"),
      s"rule fired through a join:\n$optimized")
  }
}
