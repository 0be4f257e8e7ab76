package graft

import org.apache.spark.sql.functions._

/** Forces q_agg_percentile's refinement rounds — the path the sf-scale
  * fixtures never reach (their per-bucket counts sit far under the 64 K
  * extract threshold; only the 100× sweep fires it). A value band
  * concentrated inside one log-bucket (ratio spread < 1/64 ≈ 1.6%)
  * puts 300 K rows in a single bucket, so the bracket must refine
  * before extracting; the constant price column locks the mn == mx
  * immediate-resolve shortcut at the same time. Ground truth is the
  * quantile_cont interpolation computed directly from the sorted
  * staged values with the engine's HALF_UP 6-dp rounding.
  */
class PctRefineSpec extends SparkTestBase {
  import spark.implicits._

  private def quantileCont(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = p * (sorted.length - 1)
    val (klo, khi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
    val v = if (klo == khi) sorted(klo)
            else (khi - pos) * sorted(klo) + (pos - klo) * sorted(khi)
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("refinement fires on a dense single-bucket band and stays exact") {
    val n = 300000
    val qty = (0 until n).map(i => 1000.0 + (i % 100000) / 100000.0)
    withTempDir("graft_pct_refine_") { tmp =>
      qty.zipWithIndex.toDF("q", "i")
        .select(lit("A").as("l_returnflag"), $"q".as("l_quantity"),
                lit(500.0).as("l_extendedprice"),
                lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
                  .as("l_shipdate"))
        .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")

      val errBuf = new java.io.ByteArrayOutputStream()
      val row = Console.withErr(new java.io.PrintStream(errBuf)) {
        SparkEntry.queries("q_agg_percentile")(spark, tmp)
          .select($"l_returnflag", $"p50", $"p90", $"p50_price")
          .as[(String, Double, Double, Double)].collect()(0)
      }
      assert(errBuf.toString.contains("refinement round 1"),
        s"dense band did not trigger refinement; stderr: ${errBuf.toString}")

      val sorted = qty.sorted.toIndexedSeq
      assert(row._1 == "A")
      assert(row._2 == quantileCont(sorted, 0.5),
        s"p50 ${row._2} != ground truth ${quantileCont(sorted, 0.5)}")
      assert(row._3 == quantileCont(sorted, 0.9),
        s"p90 ${row._3} != ground truth ${quantileCont(sorted, 0.9)}")
      assert(row._4 == 500.0, s"constant-column p50 ${row._4} != 500.0")
    }
  }
}
