package graft

import graft.operators.{Dedup, TextAnalysis}

/** Round-11 additions: the ExactSubstr removal contract, the shared
  * cluster-label chain, and the MIPS-on-compressed-index ladder. */
class Round11Spec extends SparkSpec {

  // aperiodic deterministic filler so window distinctness behaves like
  // real text (shared with Round10Spec's winnow spec)
  private def filler(seed: Int, n: Int): String =
    (0 until n).map(i => ('a' + ((i * i * 31 + seed * 7 + i) % 26)).toChar).mkString

  test("text_substr_apply: planted passage is cut exactly, at any alignment") {
    import spark.implicits._
    val p = "the quick brown fox jumps over the lazy dog repeatedly tonight" // 63 chars
    val docs = Seq(
      (1L, "s", filler(1, 83) + p + filler(2, 100)),
      (2L, "s", filler(3, 57) + p + filler(4, 140)),
      (3L, "s", filler(5, 320))).toDF("doc_id", "source", "text")
    val rows = TextAnalysis.substrApplyOn(docs).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L),
      s"exactly the two planted docs are affected: ${rows.mkString(";")}")
    rows.foreach { r =>
      // every 40-char window fully inside the 63-char passage is shared in
      // both docs; their interval union is exactly the passage
      assert(r.getAs[Long]("chars_cut") == p.length.toLong,
        s"cut must be exactly the planted span: $r")
      assert(r.getAs[Long]("chars_kept") ==
        r.getAs[Long]("chars_total") - p.length, s"kept accounting: $r")
      assert(r.getAs[Long]("kept_bp") ==
        r.getAs[Long]("chars_kept") * 10000 / r.getAs[Long]("chars_total"))
    }
  }

  test("text_substr_apply: overlapping shared windows union, never double-count") {
    import spark.implicits._
    // two separate planted passages in one doc — the cut is their SUM;
    // and a doc that is one long shared run — the cut is the whole doc
    val p1 = filler(11, 45)
    val p2 = filler(12, 52)
    val docs = Seq(
      (1L, "s", p1 + filler(1, 60) + p2),
      (2L, "s", filler(2, 71) + p1 + filler(3, 55)),
      (3L, "s", p2 + filler(4, 66))).toDF("doc_id", "source", "text")
    val byDoc = TextAnalysis.substrApplyOn(docs).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("chars_cut")).toMap
    assert(byDoc(1L) == (p1.length + p2.length).toLong,
      s"doc 1 loses both planted spans, overlap-unioned: $byDoc")
    assert(byDoc(2L) == p1.length.toLong && byDoc(3L) == p2.length.toLong, s"$byDoc")
  }

  test("text_substr_apply_winnow: candidate prefilter preserves >=47-char cuts") {
    import spark.implicits._
    val p = "the quick brown fox jumps over the lazy dog repeatedly tonight"
    val docs = Seq(
      (1L, "s", filler(1, 83) + p + filler(2, 100)),
      (2L, "s", filler(3, 57) + p + filler(4, 140)),
      (3L, "s", filler(5, 320))).toDF("doc_id", "source", "text")
    val exact = TextAnalysis.substrApplyOn(docs).collect().map(_.toSeq).toSet
    val win = TextAnalysis.substrApplyWinnowOn(docs, 8).collect().map(_.toSeq).toSet
    assert(win == exact,
      s"winnow-prefiltered apply must equal exact on >=47-char passages:\n$win\nvs\n$exact")
  }

  test("ann_mips_ivfpq: norm augmentation preserves the exact MIPS ranking (plain Scala)") {
    // the reduction mipsIvfPqTopK rides: x_hat = x ++ [round6(sqrt(M2 - x.x))],
    // q_hat = q ++ [0] makes L2-argmin == inner-product-argmax. Re-derive
    // both sides from raw doubles at sf0.001 and require identical top-5
    // (quantization aside, the only impl-vs-reduction gap is the round-6
    // on the augmented coordinate — this pins that it never flips a rank
    // on real data).
    val vecs = graft.Tables.embeddings(spark, Sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val m2 = vecs.map { case (_, e) => dot(e, e) }.max
    def round6(x: Double): Double =
      BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val aug = vecs.map { case (id, e) =>
      id -> (e :+ round6(math.sqrt(math.max(m2 - dot(e, e), 0.0))))
    }
    for (q <- 0 until 10) {
      val qe = vecs(q)._2
      val qa = qe :+ 0.0
      val byIp = vecs.filter(_._1 != q)
        .map { case (id, e) => (id, math.floor(dot(qe, e) * 1e6 + 0.5).toLong) }
        .sortBy { case (id, ip) => (-ip, id) }.take(5).map(_._1).toSeq
      val byL2 = aug.filter(_._1 != q)
        .map { case (id, ea) =>
          (id, qa.indices.foldLeft(0.0)((s, i) =>
            s + (qa(i) - ea(i)) * (qa(i) - ea(i)))) }
        .sortBy { case (id, d2) => (d2, id) }.take(5).map(_._1).toSeq
      assert(byIp == byL2, s"query $q: ip top-5 $byIp != augmented-L2 top-5 $byL2")
    }
  }

  test("clusterLabels: one materialization per (session, dataset), bit-identical") {
    Dedup.clearLabelCache()
    val t0 = System.nanoTime()
    val a = Dedup.clusterLabels(spark, Sf)
    val coldMs = (System.nanoTime() - t0) / 1e6
    val t1 = System.nanoTime()
    val b = Dedup.clusterLabels(spark, Sf)
    val warmMs = (System.nanoTime() - t1) / 1e6
    assert(a eq b, "the four consumers must read ONE materialized label frame")
    // identity (`a eq b`) is the cache proof; the timing bound is only a
    // sanity backstop loose enough to survive a GC pause on a loaded box
    assert(warmMs < coldMs,
      s"cached call must skip the BSP chain: cold=${coldMs}ms warm=${warmMs}ms")
    // a custom superstep budget is a spec hook, never served from cache
    val c = Dedup.clusterLabels(spark, Sf, maxIter = 19)
    assert(!(c eq a))
    // consumers of the cached frame still produce the oracle-shaped output
    val clusters = Dedup.clusters(spark, Sf).collect()
    assert(clusters.forall(_.getAs[Long]("n_members") > 1))
    val apply = Dedup.dedupApply(spark, Sf).collect()
    assert(apply.forall(r =>
      r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") == r.getAs[Long]("n_docs")))
    Dedup.clearLabelCache()
    assert(!(Dedup.clusterLabels(spark, Sf) eq a), "clear drops the pin")
  }
}
