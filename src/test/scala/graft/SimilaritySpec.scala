package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The ANN recall evals and hybrid retrieval of [[Similarity]]: the
  * sampled ground-truth mode (`truthSample` restricts BOTH the exact and
  * the approximate candidate sets to one deterministic hash-bucket
  * sub-corpus, so the per-pair hit probability — and the recall estimate —
  * is preserved), the IVF probe and tuning curves, the exact-integer RRF
  * fusion and its eval, the shared hit counter, the driver's 4-place
  * rounding and the hybrid rows' job budget. */
class SimilaritySpec extends SparkSpec {

  private def meanRecall(df: DataFrame, col0: String): Double =
    df.agg(avg(col(col0))).head().getDouble(0)

  test("annRecall: sampled ground truth (truthSample=2) estimates full-truth recall") {
    val full = meanRecall(Similarity.annRecall(spark, Sf), "recall_at_k")
    val sampled = meanRecall(Similarity.annRecall(spark, Sf, truthSample = 2), "recall_at_k")
    assert(sampled >= 0.0 && sampled <= 1.0)
    assert(math.abs(full - sampled) <= 0.25,
      s"sampled recall estimate drifted: full=$full sampled=$sampled")
    // deterministic hash-bucket sample: same subset every run, bit-identical
    val again = meanRecall(Similarity.annRecall(spark, Sf, truthSample = 2), "recall_at_k")
    assert(sampled == again, "hash-bucket sampling must be run-deterministic")
  }

  test("ivfRecall: sampled mode preserves the probe2 >= probe1 dominance and tracks full truth") {
    val full = Similarity.ivfRecall(spark, Sf)
    val sampled = Similarity.ivfRecall(spark, Sf, truthSample = 2)
    // the structural invariant survives sampling: probing 2 cells can only help
    assert(sampled.filter(col("recall_probe2") < col("recall_ivf")).isEmpty)
    assert(math.abs(meanRecall(full, "recall_ivf") - meanRecall(sampled, "recall_ivf")) <= 0.25)
  }

  test("pqRecall + ivfPqRecall: sampled mode tracks full truth") {
    val fullPq = meanRecall(Similarity.pqRecall(spark, Sf), "recall_at_k")
    val samPq = meanRecall(Similarity.pqRecall(spark, Sf, truthSample = 2), "recall_at_k")
    assert(math.abs(fullPq - samPq) <= 0.25, s"pq: full=$fullPq sampled=$samPq")
    val fullIvfPq = meanRecall(Similarity.ivfPqRecall(spark, Sf), "recall_at_k")
    val samIvfPq = meanRecall(Similarity.ivfPqRecall(spark, Sf, truthSample = 2), "recall_at_k")
    assert(math.abs(fullIvfPq - samIvfPq) <= 0.25,
      s"ivfpq: full=$fullIvfPq sampled=$samIvfPq")
  }

  test("ann_ivf_trained_recall: the trained-codebook eval is well-formed per query") {
    val rows = Similarity.ivfTrainedRecall(spark, Sf).collect()
    assert(rows.length == 10, "one eval row per query")
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0L && hits <= 5L)
      assert(math.abs(r.getAs[Double]("recall_at_k") - hits / 5.0) < 1e-9)
    }
    // the composition really reads the TRAINED centroids: a 0-step chain
    // (seed centroids) and the 4-step chain disagree on at least one
    // query's hit count on this corpus — training moved the partition
    val trained = rows.map(_.getAs[Long]("n_hits")).sum
    assert(trained > 0L, "trained quantizer must land some true neighbors")
  }

  test("ann_ivf_nprobe_curve: recall and scan cost are monotone in nprobe; levels tie out to ann_ivf_recall") {
    val curve = Similarity.ivfNprobeCurve(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1)
    assert(curve.map(_._1).toSeq == Seq(1L, 2L, 4L), s"levels: ${curve.toSeq}")
    // widening the probe set can only add candidates: n_scanned never
    // drops per step (a probe level whose extra cells hold zero candidates
    // for every query is legal), and the full widening 1→4 must scan
    // strictly more than nprobe=1 on this data
    assert(curve.sliding(2).forall { case Array(a, b) => b._4 >= a._4 },
      s"n_scanned must be non-decreasing in nprobe: ${curve.toSeq}")
    assert(curve.last._4 > curve.head._4,
      s"n_scanned must grow overall (nprobe 1 → ${curve.last._1}): ${curve.toSeq}")
    assert(curve.sliding(2).forall { case Array(a, b) => b._2 >= a._2 },
      s"n_hits must be non-decreasing in nprobe: ${curve.toSeq}")
    // the curve's p=1 / p=2 levels are the SAME estimand ann_ivf_recall
    // reports per query — the two operators must agree on total hits
    val recall = Similarity.ivfRecall(spark, Sf)
      .agg(sum(col("n_hits_ivf")), sum(col("n_hits_probe2"))).head()
    assert(curve(0)._2 == recall.getLong(0),
      s"nprobe=1 hits ${curve(0)._2} != ann_ivf_recall ivf hits ${recall.getLong(0)}")
    assert(curve(1)._2 == recall.getLong(1),
      s"nprobe=2 hits ${curve(1)._2} != ann_ivf_recall probe2 hits ${recall.getLong(1)}")
  }

  test("RrfDenom is the exact common denominator for depth-10 RRF ranks") {
    // every per-system contribution RrfDenom/(60+r) must be an exact
    // integer — the no-float-fusion contract rests on this divisibility
    for (r <- 1 to Similarity.HybridDepth)
      assert(Similarity.RrfDenom % (Similarity.RrfK + r) == 0,
        s"RrfDenom not divisible by ${Similarity.RrfK + r}")
  }

  test("ann_hybrid_rrf: fused scores are the exact two-system RRF rationals") {
    val rows = Similarity.hybridRrf(spark, Sf).collect()
    assert(rows.nonEmpty)
    val M = Similarity.RrfDenom
    for (r <- rows) {
      val (rd, rs, num) = (r.getInt(2), r.getInt(3), r.getLong(4))
      assert(rd >= 0 && rd <= Similarity.HybridDepth)
      assert(rs >= 0 && rs <= Similarity.HybridDepth)
      assert(rd > 0 || rs > 0, "a fused row must come from at least one list")
      val expect = (if (rd > 0) M / (Similarity.RrfK + rd) else 0L) +
        (if (rs > 0) M / (Similarity.RrfK + rs) else 0L)
      assert(num == expect, s"rrf_num $num != $expect for ranks ($rd, $rs)")
    }
    // per query: ranks strictly ordered by (rrf_num desc, doc_id)
    rows.groupBy(_.getLong(0)).foreach { case (_, qs) =>
      val sorted = qs.sortBy(_.getInt(5))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val ok = a.getLong(4) > b.getLong(4) ||
            (a.getLong(4) == b.getLong(4) && a.getLong(1) < b.getLong(1))
          assert(ok, s"rank order violated: $a then $b")
        case _ =>
      }
    }
  }

  test("ann_ivfpq_tune_grid: cost axes monotone, recall monotone in refine-R, nprobe=1/R=0 ties to ann_ivfpq_recall") {
    val g = Similarity.ivfPqTuneGrid(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(g.map(t => (t._1, t._2)).toSeq ==
      (for (p <- Seq(1L, 2L, 4L); r <- Seq(0L, 10L, 25L)) yield (p, r)))
    // n_scanned depends only on nprobe and never drops as probes widen
    val scanByP = g.groupBy(_._1).map { case (p, rows) =>
      assert(rows.map(_._3).distinct.length == 1,
        s"n_scanned must be constant across refine levels at nprobe=$p")
      p -> rows.head._3
    }
    assert(scanByP(1L) <= scanByP(2L) && scanByP(2L) <= scanByP(4L))
    for ((p, r, scanned, refined, _) <- g) {
      assert(refined <= scanned, s"($p,$r): refined $refined > scanned $scanned")
      assert(refined <= r * 10, s"($p,$r): refined $refined > R×nQueries")
      if (r == 0L) assert(refined == 0L)
    }
    // exact reranking of an R ≥ k shortlist can only keep or add truth
    // hits (a truth neighbor in the ADC top-k survives any exact rerank),
    // so per probe level n_hits is non-decreasing in R
    for ((p, rows) <- g.groupBy(_._1)) {
      val byR = rows.sortBy(_._2).map(_._5)
      assert(byR.sliding(2).forall { case Array(a, b) => b >= a; case _ => true },
        s"n_hits must be non-decreasing in refine-R at nprobe=$p: ${byR.toSeq}")
    }
    // the (nprobe=1, R=0) corner IS the ann_ivfpq estimand
    val ivfpqHits = Similarity.ivfPqRecall(spark, Sf)
      .agg(sum(col("n_hits"))).head().getLong(0)
    assert(g.find(t => t._1 == 1L && t._2 == 0L).get._5 == ivfpqHits,
      s"grid corner != ann_ivfpq_recall total hits ($ivfpqHits)")
  }

  test("ann_hard_negatives: negatives only, ranked, margin consistent with the unfiltered ranking") {
    val rows = Similarity.hardNegatives(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getInt(6)))
    assert(rows.nonEmpty)
    for ((_, _, lq, ln, _, nPos, rk) <- rows) {
      assert(lq != ln, "a hard negative must carry a different label")
      assert(rk >= 1 && rk <= 5)
      assert(nPos >= 0, "same-label-above margin cannot be negative")
    }
    // a query's rank-1 negative can never beat the query's global top-1
    // WITH ties allowed (the top-1 may itself be the negative)
    val top1 = Similarity.bruteforceTopK(spark, Sf).collect()
      .filter(_.getInt(3) == 1)
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    rows.filter(_._7 == 1).foreach { case (q, _, _, _, cos, _, _) =>
      assert(cos <= top1(q), s"query $q: negative cos $cos beats global top-1 ${top1(q)}")
    }
  }

  test("ann_hybrid_rrf_eval: pure systems anchor at 1.0 and fusion keeps both signals") {
    val byName = Similarity.hybridRrfEval(spark, Sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(4))).toMap
    assert(byName.keySet == Set("dense", "sparse", "hybrid"))
    assert(byName("dense")._1 == 1.0, s"dense self-recall: ${byName("dense")}")
    assert(byName("sparse")._2 == 1.0, s"sparse self-recall: ${byName("sparse")}")
    val (hd, hs) = byName("hybrid")
    // RRF must retain strictly more of EACH pure signal than the opposite
    // pure system does (else fusing was pointless on this data)
    assert(hd > byName("sparse")._1, s"hybrid keeps dense signal: $hd")
    assert(hs > byName("dense")._2, s"hybrid keeps sparse signal: $hs")
  }

  test("recallAt: a query whose approx list is empty keeps its 0-hit row") {
    import spark.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 11L), (1L, 12L), (3L, 30L)).toDF("query_id", "neighbor_id")
    val got = Similarity.recallAt(truth, approx, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 1L, 0.5), (2L, 0L, 0.0)), got.toString)
  }

  test("round4 equals Spark's round(cast(n AS double) / m, 4) for every m in 1..200, n in 0..m") {
    val round4 = udf((n: Long, m: Long) => Similarity.round4(n.toDouble / m))
    val spark4 = round(col("n").cast("double") / col("m"), 4)
    val r = spark.range(1, 201)
      .select(col("id").as("m"), explode(sequence(lit(0L), col("id"))).as("n"))
      .agg(count(lit(1)), sum(when(round4(col("n"), col("m")) =!= spark4, 1L).otherwise(0L)))
      .head()
    assert(r.getLong(0) == 20300L && r.getLong(1) == 0L, r.toString)
  }

  test("ann_hybrid_rrf_eval: hybrid n_hits_dense counts the fused top-5 inside the dense top-5") {
    val fused = Similarity.hybridRrf(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dense = Similarity.bruteforceTopK(spark, Sf, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hybrid = Similarity.hybridRrfEval(spark, Sf).collect().find(_.getString(0) == "hybrid").get
    assert(hybrid.getLong(1) == (fused & dense).size.toLong, hybrid.toString)
  }

  test("hybrid rows collect both rank lists once: at most 19 build jobs and 1 exec job each") {
    // one collect feeds the driver fusion: the Spark fusion it replaced ran
    // 17 (ann_hybrid_rrf) and 20 (ann_hybrid_rrf_eval) exec jobs
    val jobs = Seq("ann_hybrid_rrf", "ann_hybrid_rrf_eval").map { row =>
      val (df, build) = withJobs(row)(SparkEntry.queries(row)(spark, Sf))
      val (_, exec) = withJobs(row)(df.write.format("noop").mode("overwrite").save())
      (row, build, exec)
    }
    assert(jobs.forall { case (_, b, e) => b <= 19 && e <= 1 }, jobs.mkString(", "))
  }
}
