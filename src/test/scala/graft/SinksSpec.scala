package graft

import org.apache.spark.sql.functions._

import graft.io.Sinks

/** The sink contracts are plan properties, not just files-on-disk:
  * partitioned output must prune partitions at read, bucketed tables must
  * join without an Exchange. */
class SinksSpec extends SparkTestBase {
  import spark.implicits._

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("partitioned parquet write prunes partitions on read") {
    withTempDir("graft_part_") { dir =>
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      Sinks.writePartitioned(docs, dir, "lang")
      val langs = docs.select("lang").distinct().as[String].collect()
      assert(langs.length > 1, "fixture needs several languages")
      val one = spark.read.parquet(dir).filter($"lang" === langs.head)
      // partition filter, not a data filter: 'PartitionFilters: []' would
      // also contain the literal key, so require lang INSIDE the brackets
      val scan = one.queryExecution.executedPlan.collectLeaves().head.toString
      assert("PartitionFilters: \\[[^\\]]*lang".r.findFirstIn(scan).isDefined,
        scan.take(400))
      assert(one.count() ==
        docs.filter($"lang" === langs.head).count())
      // full read returns everything (round trip intact)
      assert(spark.read.parquet(dir).count() == docs.count())
    }
  }

  test("compact collapses a many-small-files directory, content intact") {
    withTempDir("graft_cmp_") { base =>
      val srcDir = s"$base/src"
      val dstDir = s"$base/dst"
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      docs.repartition(37).write.parquet(srcDir) // simulate small-file debris
      def parquetFiles(d: String) =
        new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
      assert(parquetFiles(srcDir) == 37)
      val n = Sinks.compact(spark, srcDir, dstDir, targetFileBytes = 1L << 20)
      assert(parquetFiles(dstDir) == n && n < 37)
      assert(spark.read.parquet(dstDir).count() == docs.count())
    }
  }

  test("compact refuses Hive-partitioned input instead of flattening it") {
    withTempDir("graft_cmp_part_") { base =>
      val srcDir = s"$base/src"
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      Sinks.writePartitioned(docs, srcDir, "lang")
      val e = intercept[IllegalArgumentException] {
        Sinks.compact(spark, srcDir, s"$base/dst")
      }
      assert(e.getMessage.contains("Hive-partitioned"))
    }
  }

  test("compact refuses in-place and nested destinations (data-loss guard)") {
    withTempDir("graft_cmp_self_") { base =>
      val srcDir = s"$base/src"
      spark.read.parquet(s"$sf0001/documents.parquet").write.parquet(srcDir)
      val inPlace = intercept[IllegalArgumentException] {
        Sinks.compact(spark, srcDir, srcDir)
      }
      assert(inPlace.getMessage.contains("in place"))
      val nested = intercept[IllegalArgumentException] {
        Sinks.compact(spark, srcDir, s"$srcDir/sub")
      }
      assert(nested.getMessage.contains("in place"))
      // dest as an ANCESTOR of src: overwrite would recursively clear it,
      // taking src along
      val ancestor = intercept[IllegalArgumentException] {
        Sinks.compact(spark, srcDir, base)
      }
      assert(ancestor.getMessage.contains("in place"))
      // source untouched by either refusal
      assert(spark.read.parquet(srcDir).count() > 0)
    }
  }

  test("schema evolution: mergeSchema unifies files with added columns") {
    withTempDir("graft_evo_") { dir =>
      Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$dir/p=1")
      Seq((2L, "b", 9L)).toDF("id", "v1", "v2_added")
        .write.parquet(s"$dir/p=2")
      val merged = spark.read.option("mergeSchema", "true").parquet(dir)
      assert(merged.columns.toSet == Set("id", "v1", "v2_added", "p"))
      val r = merged.orderBy("id")
        .select("id", "v2_added").collect()
      assert(r(0).isNullAt(1) && r(1).getLong(1) == 9L)
    }
  }

  test("bucketed tables join and aggregate with no exchange") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val or = spark.read.parquet(s"$sf0001/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    // unique names: fixed ones would collide across concurrent suite runs
    // sharing the /tmp warehouse
    val run = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val (liT, orT) = (s"li_b_$run", s"or_b_$run")
    Sinks.writeBucketed(li, liT, 8, "l_orderkey")
    Sinks.writeBucketed(or, orT, 8, "o_orderkey")
    // at sf0.001 the planner would just broadcast the tiny side (which
    // bypasses buckets); disable broadcast to expose the co-located plan
    // that a fact-fact join at real scale would take
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // co-located join: both sides pre-bucketed on the key → SMJ reads
      // buckets directly, no shuffle on either side
      val j = spark.table(liT)
        .join(spark.table(orT), $"l_orderkey" === $"o_orderkey")
      val jPlan = planOf(j)
      assert(jPlan.contains("SortMergeJoin") ||
             jPlan.contains("ShuffledHashJoin"), jPlan.take(600))
      assert(!jPlan.contains("Exchange"), jPlan.take(600))
      assert(j.count() ==
        li.join(or, $"l_orderkey" === $"o_orderkey").count())
      // bucket-keyed aggregation also skips the exchange
      val a = spark.table(liT).groupBy($"l_orderkey")
        .agg(sum($"l_quantity"))
      assert(!planOf(a).contains("Exchange"), planOf(a).take(600))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql(s"DROP TABLE IF EXISTS $liT")
      spark.sql(s"DROP TABLE IF EXISTS $orT")
    }
  }
}
