package graft

import org.apache.spark.sql.functions._

/** Laws for integer PageRank (GraphOps). */
class GraphOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("pagerank fixed point: a symmetric pair keeps pr = 1e6 exactly") {
    // Two nodes, one symmetric edge: each round every node receives the
    // other's full rank (outdeg 1), so pr' = 150000 + 85% · 1e6 = 1e6 —
    // the uniform distribution is an exact integer fixed point.
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val pr = ops.GraphOps.pagerank(ops.GraphOps.withDegree(e), 5)
      .as[(Long, Long)].collect().toMap
    assert(pr == Map(1L -> 1000000L, 2L -> 1000000L), s"got $pr")
  }

  test("pagerank star: the hub outranks the leaves, mass stays bounded") {
    // Symmetric 5-leaf star. The hub aggregates all leaf mass each
    // round; leaves split the hub's. Hub must dominate, every node's
    // rank stays >= the teleport floor, and total mass cannot exceed
    // the initial total (truncating division only loses mass).
    val leaves = (2L to 6L)
    val e = leaves.flatMap(l => Seq((1L, l), (l, 1L))).toDF("src", "dst")
    val pr = ops.GraphOps.pagerank(ops.GraphOps.withDegree(e), 3)
      .as[(Long, Long)].collect().toMap
    assert(pr.keySet == (1L to 6L).toSet)
    assert(leaves.forall(l => pr(1L) > pr(l)), s"hub not dominant: $pr")
    assert(pr.values.forall(_ >= 150000L))
    assert(pr.values.sum <= 6 * 1000000L)
    // leaves are symmetric: identical ranks
    assert(leaves.map(pr).toSet.size == 1)
  }

  test("pagerank law: driver path == distributed path on the fixture") {
    // The same dual-path pinning as the union-find and k-means law
    // tests: spark.graft.plain forces the distributed message rounds,
    // the default gate takes the driver loop; integer micro-unit
    // arithmetic must make them equal map-for-map.
    val dist = withPlain {
      ops.GraphOps.queries("q_graph_pagerank")(spark, sf0001)
        .as[(Long, Long)].collect().toMap
    }
    val local = ops.GraphOps.queries("q_graph_pagerank")(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    assert(local.size == dist.size, s"${local.size} vs ${dist.size} nodes")
    assert(local == dist, "driver and distributed PageRank diverge")
  }

  test("q_graph_pagerank covers every part and supplier node") {
    val out = ops.GraphOps.queries("q_graph_pagerank")(spark, sf0001)
      .as[(Long, Long)].collect()
    val nParts = ops.table(spark, sf0001, "lineitem")
      .select("l_partkey").distinct().count()
    val nSupps = ops.table(spark, sf0001, "lineitem")
      .select("l_suppkey").distinct().count()
    assert(out.length == nParts + nSupps)
    assert(out.forall(_._2 >= 150000L))
    // node id spaces are disjoint: suppliers live above the offset
    val (supp, part) = out.partition(_._1 >= 1000000000000L)
    assert(part.length == nParts && supp.length == nSupps)
  }

  test("q_graph_cc: component labels are a valid CC labeling") {
    val out = ops.GraphOps.queries("q_graph_cc")(spark, sf0001)
      .as[(Long, Long, Long)].collect()
    val label = out.map(r => r._1 -> r._2).toMap
    // component label is the component's minimum member, and csize
    // counts its members exactly
    val byComp = out.groupBy(_._2)
    byComp.foreach { case (comp, members) =>
      assert(members.map(_._1).min == comp,
        s"component $comp label is not its min member")
      assert(members.forall(_._3 == members.length),
        s"component $comp csize mismatch")
    }
    // endpoints of every >=2-co-purchase edge share a label (edge
    // consistency — rebuilt here from lineitem independently)
    val l = ops.table(spark, sf0001, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val edges = l.as("x").join(l.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select("a", "b").as[(Long, Long)].collect()
    assert(edges.nonEmpty)
    edges.foreach { case (a, b) =>
      assert(label(a) == label(b), s"edge ($a,$b) splits components")
    }
    // every edge endpoint is labeled, and only edge endpoints are
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSet
    assert(label.keySet == nodes)
  }
}
