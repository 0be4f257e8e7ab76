package graft

import org.apache.spark.sql.SparkSession

/** The measurement harnesses' shared pieces: the CPU host-speed
  * yardstick [[calibQuick]] (one codegen'd range-sum across all cores,
  * ~0.12–0.15 s on the nominal host; 2–5× that on degraded windows), the
  * flagship tail's clean-sample gate, and the JSON formatting of every
  * artifact writer (Bench, ScaleStress, Verify). */
object Yardstick {

  /** CPU yardstick: median-free single sample (callers that want a
    * median take three). */
  def calibQuick(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(500000000L).selectExpr("sum(id * 2 + 1)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of the successful (≥ 0) samples, -1 when there are none:
    * odd N takes the true median, even N the upper median. */
  def median(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0
    else ok(ok.size / 2) // odd N -> true median; even N -> upper median
  }

  /** The flagship tail's clean samples, each (wall s, single-thread
    * mini-calib s, in-window GC ms): a sample is clean when its
    * mini-calib is within 1.5× the fastest single-thread calib seen
    * (`bracketCalib` or any sample's) and its GC stays under 15 % of
    * its wall. */
  def tailClean(bracketCalib: Double, batch: Seq[(Double, Double, Long)])
      : Seq[(Double, Double, Long)] = {
    val floor = (bracketCalib +: batch.map(_._2)).filter(_ > 0).min
    batch.filter(t => t._2 <= 1.5 * floor &&
                      t._3 <= 0.15 * t._1 * 1000)
  }

  /** The flagship tail's gate median: the clean samples' median, or the
    * all-sample median when fewer than 3 are clean (the second field
    * says it fell back). */
  def tailMedian(clean: Seq[Double], all: Seq[Double]): (Double, Boolean) =
    if (clean.size >= 3) (median(clean), false) else (median(all), true)

  /** Locale-pinned numeric formatting for artifact JSON: the f""
    * interpolator uses the JVM default locale, which renders comma
    * decimal separators (invalid JSON) on e.g. a de_DE JVM. */
  def jnum(fmt: String, v: Double): String =
    String.format(java.util.Locale.ROOT, fmt, Double.box(v))

  /** JSON string literal with full control-character escaping — the ONE
    * escaper for every artifact writer (Bench, ScaleStress, Verify): two
    * spellings had diverged, and the weaker one would have emitted raw
    * control bytes the first time a tag or error text carried one. */
  def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '\\' => b.append("\\\\")
      case '"'  => b.append("\\\"")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append("\"").toString
  }
}
