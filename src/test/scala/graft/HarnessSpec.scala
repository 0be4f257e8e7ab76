package graft

import org.scalatest.funsuite.AnyFunSuite

/** Laws for the measurement plumbing — pure JVM, no Spark: the MemoLog
  * self-time arithmetic the bench artifacts report, the flagship tail
  * gate that picks the samples the 2× gate is graded on, and the one
  * JSON string escaper every artifact writer uses. */
class HarnessSpec extends AnyFunSuite {

  test("MemoLog: nested builds report self time, total includes children") {
    MemoLog.drain() // isolate from anything a prior suite recorded
    MemoLog.setContext("spec")
    MemoLog.timed("outer") {
      Thread.sleep(60)
      MemoLog.timed("inner") { Thread.sleep(120) }
      Thread.sleep(30)
    }
    val by = MemoLog.drain().map(b => b.tag -> b).toMap
    assert(by.keySet == Set("outer", "inner"))
    val (o, i) = (by("outer"), by("inner"))
    assert(o.by == "spec" && i.by == "spec")
    // inner is a leaf: self == total, ≥ its sleep
    assert(i.selfSec >= 0.110 && math.abs(i.selfSec - i.totalSec) < 0.005)
    // outer's total includes the child; its self excludes it
    assert(o.totalSec >= i.totalSec + 0.085)
    assert(o.selfSec >= 0.085 && o.selfSec <= o.totalSec - i.totalSec + 0.05)
    // drained means drained
    assert(MemoLog.drain().isEmpty)
  }

  test("MemoLog: self time never goes negative and ledger sums to wall") {
    MemoLog.drain()
    MemoLog.timed("a") { MemoLog.timed("b") { MemoLog.timed("c") { () } } }
    val entries = MemoLog.drain()
    assert(entries.forall(_.selfSec >= 0.0))
    val wall = entries.find(_.tag == "a").get.totalSec
    val selfSum = entries.map(_.selfSec).sum
    // self times partition the outermost wall (within timer slack)
    assert(math.abs(selfSum - wall) < 0.01, s"$selfSum vs $wall")
  }

  test("jstr escapes a quote, a backslash, newline, CR, tab and U+0001") {
    assert(Yardstick.jstr("a\"b\\c\nd\re\tf\u0001g") ==
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
    assert(Yardstick.jstr("") == "\"\"")
  }

  // one tail sample: (wall s, single-thread mini-calib s, in-window GC ms)
  private def sample(sec: Double, calib: Double = 0.15, gcMs: Long = 5L) =
    (sec, calib, gcMs)

  test("tail gate: a slow mini-calib or GC over 15 % of wall drops a sample") {
    val ok = sample(0.30)
    val slowCalib = sample(0.31, calib = 0.15 * 1.5 + 0.01)
    val gcHeavy = sample(0.32, gcMs = 49L) // 49 ms > 15 % of 0.32 s
    val atBounds = sample(0.33, calib = 0.15 * 1.5, gcMs = 49L)
    assert(Yardstick.tailClean(0.15, Seq(ok, slowCalib, gcHeavy, atBounds)) ==
      Seq(ok, atBounds))
    // the floor is the fastest calib seen, a sample's or the bracket's
    assert(Yardstick.tailClean(0.40, Seq(ok, slowCalib)) == Seq(ok))
  }

  test("tail gate: under 3 clean samples, the all-sample median") {
    val all = Seq(0.9, 0.1, 0.8, 0.2, 0.7, 0.3, 0.6)
    assert(Yardstick.tailMedian(Seq(0.1, 0.2), all) == ((0.6, true)))
    assert(Yardstick.tailMedian(Seq(0.1, 0.2, 0.3), all) == ((0.2, false)))
  }

  test("median: an even N takes the upper median; failed (-1) runs drop out") {
    assert(Yardstick.median(Seq(0.4, 0.1, 0.3, 0.2)) == 0.3)
    assert(Yardstick.median(Seq(0.3, -1.0, 0.1, 0.2)) == 0.2)
    assert(Yardstick.median(Seq(-1.0)) == -1.0)
  }
}
