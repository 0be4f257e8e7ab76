package graft

import graft.io.Sources
import org.apache.spark.sql.types._

/** Round-trip + quarantine laws for the non-parquet sources. */
class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  test("csv round trip preserves rows and declared types") {
    withTempDir("graft_src_csv_") { base =>
      val dir = s"$base/docs"
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      docs.write.option("header", "true").csv(dir)
      // cache(): Spark refuses queries that touch only the corrupt column
      // of a raw file scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
      // COLUMN) — parse once, then assert freely.
      val back = Sources.readCsv(spark, dir, docSchema).cache()
      assert(back.schema("doc_id").dataType == LongType)
      assert(back.schema("n_chars").dataType == LongType)
      assert(back.filter($"_corrupt".isNotNull).count() == 0)
      val a = docs.select("doc_id", "lang", "n_chars")
        .orderBy("doc_id").collect().toSeq
      val b = back.select("doc_id", "lang", "n_chars")
        .orderBy("doc_id").collect().toSeq
      assert(a == b)
    }
  }

  test("jsonl round trip preserves rows; malformed lines are quarantined") {
    withTempDir("graft_src_json_") { base =>
      val dir = s"$base/docs"
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      docs.write.json(dir)
      val back = Sources.readJsonLines(spark, dir, docSchema).cache()
      assert(back.filter($"_corrupt".isNotNull).count() == 0)
      assert(back.count() == docs.count())
      // corrupt line → row lands in _corrupt, not silently dropped/inferred
      val badDir = s"$base/bad"
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(badDir))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(badDir, "part-0.json"),
        java.util.Arrays.asList(
          """{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}""",
          """{"doc_id": oops not json"""))
      val bad = Sources.readJsonLines(spark, badDir, docSchema).cache()
      assert(bad.count() == 2)
      assert(bad.filter($"_corrupt".isNotNull).count() == 1)
      assert(bad.filter($"_corrupt".isNull && $"doc_id" === 1).count() == 1)
    }
  }

  test("orc round trip preserves rows; filters push to the orc scan") {
    withTempDir("graft_src_orc_") { base =>
      val dir = s"$base/docs"
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      graft.io.Sinks.writeOrc(docs, dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      val back = Sources.readOrc(spark, dir, schema)
      val a = docs.select("doc_id", "lang", "n_chars")
        .orderBy("doc_id").collect().toSeq
      val b = back.select("doc_id", "lang", "n_chars")
        .orderBy("doc_id").collect().toSeq
      assert(a == b)
      // the read-path posture claim: a filter must reach the ORC scan as a
      // pushed filter, not evaluate post-scan only
      val plan = back.filter($"n_chars" > 100).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted"))
      assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]")
        || plan.contains("PushedFilters: [GreaterThan(n_chars,100)"),
        s"no pushed filter in ORC scan plan:\n$plan")
    }
  }

  test("orc partitioned write prunes partitions at plan time") {
    withTempDir("graft_src_orcp_") { base =>
      val dir = s"$base/docs"
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      graft.io.Sinks.writeOrc(docs, dir, "lang")
      val back = spark.read.orc(dir).filter($"lang" === "en")
      val scanned = back.queryExecution.executedPlan.toString
      // partition pruning shows as a PartitionFilters entry on the scan
      assert(scanned.contains("PartitionFilters") &&
             scanned.contains("lang"), s"no partition pruning:\n$scanned")
      val nEn = docs.filter($"lang" === "en").count()
      assert(back.count() == nEn)
    }
  }
}
