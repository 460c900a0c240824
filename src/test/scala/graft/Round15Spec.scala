package graft

import graft.operators.Joins
import org.apache.spark.sql.functions._

/** Round-15 semantic pin for `q_pagerank`. */
class Round15Spec extends SparkSpec {

  test("q_pagerank: bit-identical to a plain-Scala integer power iteration at sf0.001") {
    val got = Joins.pagerank(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    // reference: same edge build, same exact-int64 recurrence
    val e0 = Tables.orders(spark, Sf).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(spark, Sf).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select("o_custkey", "l_suppkey").distinct()
      .collect().map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val edges = e0 ++ e0.map { case (c, s) => (s, c) }
    val deg = edges.groupBy(_._1).map { case (u, es) => u -> es.length.toLong }
    val n = deg.size.toLong
    val b = Joins.PagerankScale / n
    var r = deg.keys.map(_ -> b).toMap
    for (_ <- 1 to Joins.PagerankIters) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / deg(u) }.sum
      }
      r = in.map { case (v, m) => v -> ((15L * b) / 100 + (85L * m) / 100) }
    }
    val want = r.toSeq.sortBy { case (node, ru) => (-ru, node) }.take(20)
      .zipWithIndex.map { case ((node, ru), i) =>
        (if (node % 2 == 0) "customer" else "supplier", node / 2, ru, i + 1)
      }
    assert(got == want, s"pagerank divergence:\n got=${got.take(5)}\nwant=${want.take(5)}")
    // sanity: integer mass stays within the damping identity's bounds
    assert(got.head._3 > b, "a hub must exceed the uniform rank")
  }
}
