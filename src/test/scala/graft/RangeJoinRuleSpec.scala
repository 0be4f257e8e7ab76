package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The RangeJoinBinning optimizer rule: fires on the naive date-interval
  * theta join, produces the identical result, and leaves other joins
  * untouched. */
class RangeJoinRuleSpec extends SparkTestBase {
  import spark.implicits._

  private def naiveRangeJoin(): DataFrame = {
    val iv = ops.table(spark, sf0001, "orders")
      .filter($"o_orderkey" % 997 === 0)
      .select($"o_orderkey", to_date($"o_orderdate").as("d0"))
    val pt = ops.table(spark, sf0001, "lineitem")
      .select(to_date($"l_shipdate").as("sd"), $"l_quantity")
    iv.join(pt, $"sd" >= $"d0" && $"sd" <= date_add($"d0", 3))
      .groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n_items"))
      .orderBy("o_orderkey")
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("naive interval join is rewritten to a binned equi-join") {
    val plan = planOf(naiveRangeJoin())
    assert(plan.contains("__graft_bin"), s"rule did not fire:\n$plan")
    assert(plan.contains("Generate"), s"no interval-bin explode:\n$plan")
    // the physical join must be hash-based, not nested-loop
    val phys = naiveRangeJoin().queryExecution.executedPlan.toString
    assert(!phys.contains("BroadcastNestedLoopJoin") &&
           !phys.contains("CartesianProduct"),
      s"still a nested-loop join:\n$phys")
  }

  test("rewrite preserves the nested-loop result exactly") {
    val withRule = naiveRangeJoin().collect().toSeq
    withPlain {
      val without = naiveRangeJoin()
      assert(!planOf(without).contains("__graft_bin"),
        "plain switch did not disable the rule")
      assert(without.collect().toSeq == withRule)
    }
  }

  test("equi-joins and outer range joins are left alone") {
    val o = ops.table(spark, sf0001, "orders")
    val l = ops.table(spark, sf0001, "lineitem")
    val equi = o.join(l, $"o_orderkey" === $"l_orderkey")
    assert(!planOf(equi).contains("__graft_bin"))
    val iv = o.select($"o_orderkey", to_date($"o_orderdate").as("d0"))
    val pt = l.select(to_date($"l_shipdate").as("sd"))
    val outer = iv.join(pt,
      $"sd" >= $"d0" && $"sd" <= date_add($"d0", 3), "left")
    assert(!planOf(outer).contains("__graft_bin"))
  }
}
