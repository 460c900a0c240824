package graft

import graft.operators.Events
import org.apache.spark.sql.functions._

/** Round-14 semantic pin for `ev_markov_stationary`. */
class Round14Spec extends SparkSpec {

  test("ev_markov_stationary: bit-identical to the plain-Scala integer power iteration") {
    val evs = Tables.events(spark, Sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // reference: same lag-window edge extraction, same integer folds
    val edges = evs.groupBy(_._1).iterator.flatMap { case (_, es) =>
      es.sortBy(e => (e._4, e._2)).sliding(2).collect {
        case Array(a, b) => (a._3, b._3)
      }
    }.toSeq
    val cnt = edges.groupBy(identity).map { case ((f, t), g) => (f, t, g.size.toLong) }
    val rowTotal = cnt.groupBy(_._1).map { case (f, g) => f -> g.map(_._3).sum }
    var v: Map[String, Long] = cnt.map(_._1).toSeq.distinct.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3)
      v = cnt.toSeq.flatMap { case (f, t, n) =>
        v.get(f).map(m => t -> m * n / rowTotal(f))
      }.groupBy(_._1).map { case (t, g) => t -> g.map(_._2).sum }
    val tot = v.values.sum
    val expected = v.toSeq.sortBy(_._1)
      .map { case (t, m) => (t, m, m * 10000 / tot) }
    val got = Events.markovStationary(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected, s"stationary divergence:\n got $got\n exp $expected")
    // floor division can only shed mass, never create it
    assert(tot <= 1000000L * v.size, s"mass grew: $tot")
  }
}
