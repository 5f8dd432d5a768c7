package graft.queries

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Label-propagation connected components vs a reference union-find,
  * including the shapes that stress the iteration: chains (diameter >
  * 1), cliques, isolated nodes, and a component whose min id arrives
  * via the "far" end.
  */
class ClustersSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def unionFind(n: Seq[Long], e: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(n.map(x => x -> x): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    e.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // min-id representative per component
    val byRoot = n.groupBy(find)
    byRoot.flatMap { case (_, members) =>
      val rep = members.min
      members.map(_ -> rep)
    }
  }

  test("components matches union-find on chains, cliques, isolates") {
    val nodes = (0L to 20L).toSeq
    val edges = Seq(
      // a 6-node chain whose min id (0) is at one end: needs >1 round
      (5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L),
      // a clique
      (10L, 11L), (11L, 12L), (10L, 12L),
      // a pair; 13..20 minus these stay isolated
      (14L, 18L))
    val expected = unionFind(nodes, edges)
    val got = Clusters.components(
      nodes.map(n => (n, n)).toDF("doc_id", "rep_id"),
      edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("components on a small graph submits 6 Spark jobs") {
    // the fused closure: the contraction checkpoint and one bounded
    // class-edge collect, with their AQE shuffle and broadcast stages;
    // the returned labels stay lazy
    val (_, jobs) = SparkTestSession.jobsIn {
      Clusters.components(
        (0L to 20L).map(n => (n, n)).toDF("doc_id", "rep_id"),
        Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L),
          (10L, 11L), (11L, 12L), (10L, 12L), (14L, 18L))
          .toDF("doc_a", "doc_b"))
    }
    assert(jobs == 6, s"one components call ran $jobs Spark jobs")
  }

  test("xd5 representatives agree with union-find over its own pair stage") {
    val sf = "/root/testdata/sf0.001"
    val docs = Ctx(spark, sf).documents
    val pairs = Dedup.exactJaccardPairs(Dedup.setGroups(docs), 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nodes = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val expected = unionFind(nodes, pairs)
    val got = Clusters.xd5.fn(spark, sf).select("doc_id", "rep_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("xd8 semantic clusters equal union-find over xd4's exact pairs") {
    val sf = "/root/testdata/sf0.001"
    val exactPairs = Dedup.xd4.fn(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nodes = Ctx(spark, sf).embeddings.select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    val expected = unionFind(nodes, exactPairs)
    val got = Clusters.xd8.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // keep/size bookkeeping: one keeper per cluster, sizes sum to corpus
    val rows = Clusters.xd8.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.count(_._4) == rows.map(_._2).distinct.length)
    assert(rows.filter(_._4).map(_._3).sum == nodes.size)
  }
}
