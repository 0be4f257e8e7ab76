package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Locks the q_agg_regression degenerate-group guard (round 14, from
  * the r13 advisory): a 1-row group (cdeni = 0) and a constant-
  * quantity group (denxi = 0) must emit NULL cov_samp / slope via the
  * explicit CASE — not engine-dependent divide-by-zero behavior
  * (Spark's non-ANSI DIV nulls silently; DuckDB's // raises). */
class RegressionGuardSpec extends SparkTestBase {

  test("1-row and constant-x groups yield NULL cov_samp/slope, not errors") {
    withTempDir("graft_regguard_") { tmp =>
      // l_shipdate rides along because table() normalizes it on read
      val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val schema = StructType(Seq(
        StructField("l_returnflag", StringType),
        StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType),
        StructField("l_shipdate", TimestampType)))
      val rows = Seq(
        Row("S", 5.0, 100.00, ts),          // singleton group: cdeni = 0
        Row("C", 7.0, 10.00, ts),           // constant-x group: denxi = 0
        Row("C", 7.0, 20.00, ts),
        Row("N", 1.0, 10.00, ts),           // healthy group
        Row("N", 2.0, 30.00, ts),
        Row("N", 3.0, 50.00, ts))
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), schema)
        .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      val out = SparkEntry.queries("q_agg_regression")(spark, tmp)
        .collect().map(r => r.getString(0) ->
          (Option(r.get(1)), Option(r.get(2)))).toMap
      assert(out("S")._1.isEmpty, "singleton group must have NULL cov_samp")
      assert(out("S")._2.isEmpty, "singleton group must have NULL slope")
      assert(out("C")._1.isDefined, "constant-x cov_samp is well-defined")
      assert(out("C")._2.isEmpty, "zero x-variance must have NULL slope")
      assert(out("N")._1.isDefined && out("N")._2.isDefined)
      // healthy group stays exact: cov = (n·sxy − sx·sy)/(n(n−1)),
      // x=(1,2,3), y=(10,30,50) ⇒ cov = 20, slope = 20
      assert(out("N")._1.contains(20.0) && out("N")._2.contains(20.0))
    }
  }
}
