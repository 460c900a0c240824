package graft

import graft.operators.Dedup

/** Round-7 coverage: the sampled ground-truth mode of the MinHash recall
  * eval (`truthSample`) — restricting the exact pair set to a
  * deterministic document sample still estimates the banding recall. The
  * ANN recall evals' sampled mode is pinned in [[SimilaritySpec]].
  */
class Round7Spec extends SparkSpec {

  test("minhashRecall: doc-sampled ground truth estimates banding recall") {
    val full = Dedup.minhashRecall(spark, Sf).head()
    val sampled = Dedup.minhashRecall(spark, Sf, truthSample = 2).head()
    // the sampled truth join must still see pairs (both endpoints sampled)
    assert(sampled.getAs[Long]("n_true_pairs") > 0,
      "sampled truth set empty - corpus too small for truthSample=2?")
    // and shrink roughly quadratically (pairs need both endpoints in-sample):
    // allow wide slack, the point is it is a real reduction
    assert(sampled.getAs[Long]("n_true_pairs") < full.getAs[Long]("n_true_pairs"))
    val d = math.abs(full.getAs[Double]("recall") - sampled.getAs[Double]("recall"))
    assert(d <= 0.25, s"minhash: full=${full.getAs[Double]("recall")} " +
      s"sampled=${sampled.getAs[Double]("recall")}")
  }
}
