package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Plain]]: on the same inputs each special path takes its own side
  * by default and Spark's plain side under `spark.graft.plain=true`,
  * with the same rows both ways; and the engine reads no other
  * `spark.graft.*` key, and no environment variable or system property
  * beyond nine named ones. */
class PlainSwitchSpec extends SparkTestBase {
  import spark.implicits._

  /** `df`'s executed plan (AQE's final plan only) and sorted rows. */
  private def run(df: => DataFrame): (String, Seq[String]) = {
    val d = df
    val rows = d.collect().map(_.toString).sorted.toSeq
    (d.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head, rows)
  }

  /** (default, plain) runs of `df`, asserting equal rows. */
  private def bothWays(df: => DataFrame): (String, String) = {
    val (special, a) = run(df)
    val (plain, b) = withPlain(run(df))
    assert(a.nonEmpty && a == b)
    (special, plain)
  }

  test("TinyAgg: Coalesce by default, a hash exchange under plain") {
    val (special, plain) = bothWays(ops.table(spark, sf0001, "lineitem")
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n")))
    assert(special.contains("Coalesce") &&
      !special.contains("Exchange hashpartitioning"), special)
    assert(plain.contains("Exchange hashpartitioning"), plain)
  }

  test("TinySort: no range exchange by default, one under plain") {
    val (special, plain) = bothWays(spark.range(0, 6000, 1, 4)
      .select(($"id" % 3).as("k")).groupBy($"k").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("k")))
    assert(!special.contains("rangepartitioning"), special)
    assert(plain.contains("rangepartitioning"), plain)
  }

  test("spread: a hash repartition by default, the bare read under plain") {
    def spread(d: String) = ops.spreadTable(spark, d, "orders", $"o_orderkey")
      .select($"o_orderkey", $"o_totalprice")
    def repartitions(df: DataFrame) = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical
        .RepartitionByExpression => r
    }
    bothWays(spread(sf0001))
    // a file: URI names the same fixture and gets the same gate decision
    for (d <- Seq(sf0001, s"file:$sf0001")) {
      assert(repartitions(spread(d)).size == 1, d)
      assert(withPlain(repartitions(spread(d))).isEmpty, d)
    }
  }

  test("range join: binned by default, the nested-loop plan under plain") {
    def join = {
      val iv = ops.table(spark, sf0001, "orders")
        .filter($"o_orderkey" % 997 === 0)
        .select($"o_orderkey", to_date($"o_orderdate").as("d0"))
      val pt = ops.table(spark, sf0001, "lineitem")
        .select(to_date($"l_shipdate").as("sd"), $"l_quantity")
      iv.join(pt, $"sd" >= $"d0" && $"sd" <= date_add($"d0", 3))
    }
    def optimized = join.queryExecution.optimizedPlan.toString
    bothWays(join)
    assert(optimized.contains("__graft_bin"))
    assert(!withPlain(optimized).contains("__graft_bin"))
  }

  test("driver-local: admitted by default, distributed under plain") {
    assert(ops.DriverLocal.admit(spark, "probe", Some(1L)))
    assert(!withPlain(ops.DriverLocal.admit(spark, "probe", Some(1L))))
    val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (7L, 8L), (8L, 7L))
      .toDF("src", "dst")
    val (local, lr) = ops.DedupOps.propagateMinLabels(sym, "plain_probe")
    val (dist, dr) =
      withPlain(ops.DedupOps.propagateMinLabels(sym, "plain_probe"))
    assert(lr == 0 && dr > 0, s"rounds: local $lr, plain $dr")
    assert(local.orderBy("doc_id").collect().toSeq ==
      dist.orderBy("doc_id").collect().toSeq)
  }

  test("main code reads spark.graft.plain and stream.teardown only") {
    val quoted = "\"(spark\\.graft\\.[A-Za-z0-9_.]*)".r
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val src = files(new java.io.File("src/main/scala"))
    assert(src.size > 20, s"${src.size} sources under src/main/scala")
    val texts = src.map { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try s.mkString finally s.close()
    }
    val keys = texts.flatMap(quoted.findAllMatchIn(_).map(_.group(1))).toSet
    assert(keys == Set(Plain.Key, "spark.graft.stream.teardown"), keys)
    // and the environment variables and system properties it reads:
    // every read names its key by a literal
    val reads = texts.map("sys\\.(env|props)\\b".r.findAllIn(_).size).sum
    val literal =
      "sys\\.(?:env|props)(?:\\.getOrElse|\\.get)?\\(\"([^\"]+)\"".r
    val named = texts.flatMap(literal.findAllMatchIn(_).map(_.group(1)))
    assert(named.size == reads, s"$reads reads, literal names: $named")
    assert(named.toSet == Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_ONLY",
      "SPARK_GRAFT_WARM_PASSES", "SPARK_GRAFT_BENCH_OUT",
      "SPARK_GRAFT_RAM_LOCAL", "SPARK_GRAFT_CPUS", "SPARK_MASTER",
      "PROFILE_EXPLAIN", "graft.dedup.contract"), named)
  }
}
