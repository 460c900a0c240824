package graft

import graft.operators.{TextAnalysis, Tpch}

/** Round-12 additions: the ExactSubstr keep-one election, the basket-size
  * cap + ledger, and the capped-join observed-metrics channel. */
class Round12Spec extends SparkSpec {

  // deterministic filler with a SEED-DEPENDENT quadratic coefficient: the
  // Round10/11 form (i²·31 + 7s + i) makes chunks with different seeds
  // Caesar shifts of each other, so cross-doc 40-gram collisions exist at
  // i ≡ j (mod 13); with (31+seed)·i² the t² coefficient of any cross-seed
  // window difference is (s1−s2) ≢ 0 (mod 26), so no 40-run can match
  // across chunks — every seed below is globally unique in its corpus
  private def filler(seed: Int, n: Int): String =
    (0 until n).map(i =>
      ('a' + ((i * i * (31 + seed) + seed * 7 + i) % 26)).toChar).mkString

  private val P = "the quick brown fox jumps over the lazy dog repeatedly tonight" // 62

  test("text_substr_keep: exactly one copy survives, at any alignment") {
    import spark.implicits._
    // the passage sits EARLIER in doc 2 than in doc 1 — the anchor key is
    // (doc_id, i) lexicographic, so doc 1 still wins every digest
    val docs = Seq(
      (1L, "s", filler(1, 83) + P + filler(2, 100)),
      (2L, "s", filler(3, 57) + P + filler(4, 140)),
      (3L, "s", filler(5, 13) + P + filler(6, 200)),
      (4L, "s", filler(7, 320))).toDF("doc_id", "source", "text")
    val rows = TextAnalysis.substrKeepOn(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L), s"affected docs: ${rows.keySet}")
    // keeper: all 24 passage windows anchor in doc 1; nothing cut
    assert(rows(1L).getAs[Long]("n_anchor_windows") == (P.length - 39).toLong)
    assert(rows(1L).getAs[Long]("n_cut_windows") == 0L)
    assert(rows(1L).getAs[Long]("chars_cut") == 0L)
    assert(rows(1L).getAs[Long]("kept_bp") == 10000L)
    // non-keepers: the full passage is cut, nothing anchors
    for (id <- Seq(2L, 3L)) {
      assert(rows(id).getAs[Long]("chars_cut") == P.length.toLong, s"doc $id")
      assert(rows(id).getAs[Long]("n_anchor_windows") == 0L, s"doc $id")
    }
  }

  test("text_substr_keep: within-doc repeats keep only the first occurrence") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", filler(1, 60) + P + filler(2, 80) + P + filler(3, 50)),
      (2L, "s", filler(4, 71) + P + filler(5, 55))).toDF("doc_id", "source", "text")
    val rows = TextAnalysis.substrKeepOn(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: first copy anchors, second copy is cut whole
    assert(rows(1L).getAs[Long]("chars_cut") == P.length.toLong, s"${rows(1L)}")
    assert(rows(1L).getAs[Long]("n_anchor_windows") == (P.length - 39).toLong)
    assert(rows(1L).getAs[Long]("n_cut_windows") == (P.length - 39).toLong)
    // doc 2: no anchors, full cut
    assert(rows(2L).getAs[Long]("chars_cut") == P.length.toLong)
    assert(rows(2L).getAs[Long]("n_anchor_windows") == 0L)
  }

  test("text_substr_keep vs text_substr_apply: the delta is the surviving copy") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", filler(1, 83) + P + filler(2, 100)),
      (2L, "s", filler(3, 57) + P + filler(4, 140)),
      (3L, "s", filler(5, 320))).toDF("doc_id", "source", "text")
    val dropAll = TextAnalysis.substrApplyOn(docs).collect()
      .map(_.getAs[Long]("chars_cut")).sum
    val keepOne = TextAnalysis.substrKeepOn(docs).collect()
      .map(_.getAs[Long]("chars_cut")).sum
    assert(dropAll == 2L * P.length, s"drop-all cuts every copy: $dropAll")
    assert(keepOne == P.length.toLong, s"keep-one spares the anchor: $keepOne")
    assert(dropAll - keepOne == P.length.toLong)
  }

  test("text_substr_keep_winnow: candidate prefilter preserves >=47-char elections") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s", filler(1, 83) + P + filler(2, 100)),
      (2L, "s", filler(3, 57) + P + filler(4, 140)),
      (3L, "s", filler(5, 13) + P + filler(6, 200)),
      (4L, "s", filler(7, 320))).toDF("doc_id", "source", "text")
    val exact = TextAnalysis.substrKeepOn(docs).collect().map(_.toSeq).toSet
    val winnowed = TextAnalysis.substrKeepWinnowOn(docs).collect().map(_.toSeq).toSet
    assert(exact == winnowed,
      s"winnowed election must equal exact on >=47-char passages:\n$exact\n$winnowed")
  }

  test("q_market_basket: the item ceiling excludes oversized baskets, ledger accounts") {
    // gate-data invariance: TPC-H baskets are <= 7 items, so the capped
    // plan must return the identical top-k as an effectively-uncapped run
    val capped = Tpch.marketBasket(spark, Sf).collect().map(_.toSeq).toSeq
    val uncapped = Tpch.marketBasket(spark, Sf, maxBasket = Int.MaxValue)
      .collect().map(_.toSeq).toSeq
    assert(capped == uncapped, "cap must not bite on TPC-H gate data")
    val st = Tpch.basketStats(spark, Sf).collect()(0)
    assert(st.getAs[Long]("n_capped_orders") == 0L)
    assert(st.getAs[Long]("max_basket") <= Tpch.MaxBasketItems.toLong)
    assert(st.getAs[Long]("kept_pair_budget") <=
      Tpch.MaxBasketItems.toLong * st.getAs[Long]("n_items") / 2)
    // and when the ceiling is forced below the max basket, the cap bites
    // and the excluded orders disappear from the pair census
    val tiny = Tpch.marketBasket(spark, Sf, maxBasket = 2).collect()
    val tinyStats = Tpch.basketStats(spark, Sf, maxBasket = 2).collect()(0)
    assert(tinyStats.getAs[Long]("n_capped_orders") > 0L)
    assert(tiny.forall(_.getAs[Long]("support") >= 0L)) // shape survives
    assert(tinyStats.getAs[Long]("kept_pair_budget") <
      st.getAs[Long]("kept_pair_budget"))
  }

  test("residual PQ reconstructs tighter than raw PQ at equal bits") {
    import graft.operators.Similarity
    val rawMse = Similarity.pqMse(spark, Sf, residual = false)
    val resMse = Similarity.pqMse(spark, Sf, residual = true)
    assert(resMse < rawMse,
      s"residual coding must beat raw at equal m*log2(k) bits: " +
        s"raw=$rawMse residual=$resMse")
    // and the recall row never regresses vs the raw-layout index at equal
    // m, kCells, nprobe on the same truth sample
    val raw = Similarity.ivfPqRecall(spark, Sf).collect()
      .map(_.getAs[Long]("n_hits")).sum
    val res = Similarity.ivfPqResidualRecall(spark, Sf).collect()
      .map(_.getAs[Long]("n_hits")).sum
    assert(res >= raw, s"residual recall must be >= raw: raw=$raw residual=$res")
  }

  test("vec_kmeans_train: monotone inertia, stable-stop hook, centroid shape") {
    import graft.operators.Similarity
    val curve = Similarity.kmeansTrain(spark, Sf).collect()
    assert(curve.length == Similarity.KmeansTrainSteps)
    val inertias = curve.map(_.getAs[Long]("inertia_micro")).toSeq
    // Lloyd's guarantee, modulo the round-6 centroid quantization (bounded
    // well under 1e-4 relative on this data)
    inertias.zip(inertias.tail).foreach { case (a, b) =>
      assert(b <= a + math.max(1L, a / 100000L),
        s"inertia must be non-increasing: $inertias")
    }
    // the convergence stop: a generous budget ends early, at a stable step
    val (stopped, _) = Similarity.kmeansChain(spark, Sf, nCells = 16,
      steps = 50, stopWhenStable = true)
    val rows = stopped.collect()
    assert(rows.length < 50, "50 Lloyd steps on this corpus must stabilize")
    assert(rows.last.getAs[Long]("n_changed") == 0L,
      s"the stop fires on stability: ${rows.mkString(";")}")
    // trained codebook: every cell keeps all dims (empty cells fall back)
    val cents = Similarity.kmeansCentroids(spark, Sf).collect()
    assert(cents.length == 16 * 64)
  }

  test("clusterLabels cache: rewriting the dataset under the dir invalidates the pin") {
    import graft.operators.Dedup
    import java.nio.file.{Files, Path}
    val tmp = Files.createTempDirectory("lblfp")
    val src = Path.of(Sf, "documents.parquet") // a single parquet FILE here
    val dst = tmp.resolve("documents.parquet")
    Files.copy(src, dst)
    Dedup.clearLabelCache()
    val a = Dedup.clusterLabels(spark, tmp.toString)
    assert(Dedup.clusterLabels(spark, tmp.toString) eq a, "hit on unchanged data")
    // a rewrite shows up as new file mtimes — the fingerprint must evict
    // the stale frame instead of serving it
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis + 60000))
    val c = Dedup.clusterLabels(spark, tmp.toString)
    assert(!(c eq a), "stale labels must not be served after a rewrite")
    assert(Dedup.clusterLabels(spark, tmp.toString) eq c, "new pin caches")
    Dedup.clearLabelCache()
  }

  test("knn_join: the cap's drop accounting rides the plan as observed metrics") {
    import scala.collection.mutable
    val seen = mutable.Map.empty[String, Long]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.get("graft.knn_join.drops").foreach { row =>
          seen.synchronized {
            seen("n_dropped_vectors") = row.getAs[Long]("n_dropped_vectors")
            seen("n_capped_buckets") = row.getAs[Long]("n_capped_buckets")
          }
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val rows = graft.operators.Similarity.knnJoin(spark, Sf).collect()
      assert(rows.nonEmpty)
      val deadline = System.currentTimeMillis() + 30000
      while (seen.synchronized(seen.isEmpty) && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val snap = seen.synchronized(seen.toMap)
      assert(snap.contains("n_dropped_vectors"),
        "the capped join must report its drop metrics to listeners")
      // cross-check the observed numbers against the oracle-checked ledger
      val ledger = graft.operators.Similarity.knnBucketStats(spark, Sf).collect()(0)
      assert(snap("n_dropped_vectors") == ledger.getAs[Long]("n_dropped_vectors"))
      assert(snap("n_capped_buckets") == ledger.getAs[Long]("n_capped_buckets"))
    } finally spark.listenerManager.unregister(listener)
  }
}
