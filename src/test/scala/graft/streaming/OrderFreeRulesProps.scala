package graft.streaming

import java.sql.Timestamp

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** The order-free per-key rules (HLL registers, KMV, quantile buckets, a
  * Count-Min row, schema-shape counts and the OHLC bar) reach the same
  * state for any permutation of their input and any split of it into
  * batches; HLL and KMV also ignore a re-delivered subset. Plain folds of
  * [[Rules]], no Spark — the streaming specs check fixed splits of one
  * corpus, these check every shape a generator can reach. */
object OrderFreeRulesProps extends Properties("OrderFreeRules") {

  /** The state after folding `batches` one batch at a time; like the
    * engine, an empty batch never reaches the rule. */
  private def fold[K, E, S, O](rule: KeyRule[K, E, S, O], key: K,
      batches: Seq[Seq[E]]): S =
    batches.filter(_.nonEmpty).foldLeft(rule.zero(key)) { (s, b) =>
      rule.batch(key, Some(s), b.iterator).state
    }

  /** A permutation of `xs` cut into batches at random points. */
  private def reshuffled[E](xs: Seq[E]): Gen[Seq[Seq[E]]] =
    for {
      order <- Gen.listOfN(xs.size, Gen.choose(0, Int.MaxValue))
      nCuts <- Gen.choose(0, 4)
      cuts <- Gen.listOfN(nCuts, Gen.choose(0, xs.size))
    } yield {
      val shuffled = xs.zip(order).sortBy(_._2).map(_._1)
      val bounds = (0 +: cuts.sorted :+ shuffled.size).distinct
      bounds.zip(bounds.tail).map { case (a, b) => shuffled.slice(a, b) }
    }

  /** Same state in one batch, in arrival order, as under any reshuffle. */
  private def orderFree[K, E, S, O](rule: KeyRule[K, E, S, O], key: K,
      gen: Gen[Seq[E]]): Prop =
    forAll(gen.flatMap(xs => reshuffled(xs).map(xs -> _))) { case (xs, batches) =>
      fold(rule, key, batches) == fold(rule, key, Seq(xs))
    }

  /** Same state when a subset is delivered again in a later batch. */
  private def replayFree[K, E, S, O](rule: KeyRule[K, E, S, O], key: K,
      gen: Gen[Seq[E]]): Prop =
    forAll(gen.flatMap(xs => Gen.someOf(xs).map(xs -> _))) { case (xs, again) =>
      fold(rule, key, Seq(xs, again.toSeq)) == fold(rule, key, Seq(xs))
    }

  private val t0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime

  private def event(user: Long, value: Double, ms: Long): StreamEvent =
    StreamEvent(user, "click", value, new Timestamp(t0 + ms))

  /** Users from a small universe, so repeats (the case a sketch must
    * absorb) are common. */
  private val events: Gen[Seq[StreamEvent]] = for {
    n <- Gen.choose(0, 200)
    universe <- Gen.choose(1, 400)
    xs <- Gen.listOfN(n, for {
      u <- Gen.choose(0L, universe.toLong)
      v <- Gen.choose(-5.0, 5000.0)
      ms <- Gen.choose(0L, 3599999L)
    } yield event(u, v, ms))
  } yield xs

  property("HLL registers are order- and split-free") = orderFree(Rules.HllRule, "click", events)
  property("HLL registers ignore a replayed subset") = replayFree(Rules.HllRule, "click", events)
  property("KMV sketch is order- and split-free") =
    orderFree(new Rules.KmvRule(16), "click", events)
  property("KMV sketch ignores a replayed subset") =
    replayFree(new Rules.KmvRule(16), "click", events)
  property("quantile buckets are order- and split-free") =
    orderFree(Rules.quantiles, "click", events)

  property("a Count-Min row is order- and split-free") = orderFree(Rules.countMinRow, 0,
    Gen.listOf(Gen.choose(0, 63).map(b => (0, b))))

  property("schema-shape counts are order- and split-free") = orderFree(Rules.keyShapes, "k",
    Gen.listOf(Gen.oneOf("string", "integer", "number", "boolean", "null", "object")
      .map(t => ("k", t))))

  /** Ticks inside one hour with distinct event ids: the (µs, id) argmin /
    * argmax is then a total order, whatever the arrival order. */
  property("the OHLC bar is order- and split-free") = orderFree(Rules.OhlcRule, 0L,
    for {
      n <- Gen.choose(0, 120)
      ids <- Gen.pick(n, 0L until 1000L)
      ticks <- Gen.sequence[Seq[Tick], Tick](ids.map(id => for {
        ms <- Gen.choose(0L, 20L) // few distinct instants: ties on time are common
        v <- Gen.choose(0.0, 99.99)
      } yield Tick(id, new Timestamp(t0 + ms), v)))
    } yield ticks)
}
