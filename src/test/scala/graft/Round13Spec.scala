package graft

/** Round-13 additions: first-fit sequence packing and the k-center cover
  * radius. */
class Round13Spec extends SparkSpec {

  test("docs_pack_greedy: boundary cases — exact fill, truncation, forced new bin") {
    import spark.implicits._
    // one shard (ids ≡ 0 mod 64); tokens chosen to hit every boundary:
    // exact fill (1000+1048 = 2048), over-budget truncation (3000 → 2048,
    // own bin), a doc forcing a new bin (2000 then 100), and a tail doc
    // joining the open bin (40) → bins [1000+1048][2048][2000][100+40]
    val mk = (id: Long, n: Int) => (id, ("w " * n).trim)
    val docs = Seq(mk(0L, 1000), mk(64L, 1048), mk(128L, 3000),
      mk(192L, 2000), mk(256L, 100), mk(320L, 40)).toDF("doc_id", "text")
    val r = graft.operators.Pipeline.packGreedyOver(docs).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getLong(0) == 0L && row.getLong(1) == 6L) // shard, n_docs
    assert(row.getLong(2) == 4L, s"first-fit bins: $row")
    val packed = 1000L + 1048 + 2048 + 2000 + 100 + 40
    assert(row.getLong(3) == packed)
    assert(row.getLong(4) == (4 * 2048 - packed) * 10000 / (4 * 2048))
    // random replay: the fold equals a plain-Scala first-fit on 6 corpora
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed * 7919)
      val toks = Seq.fill(3 + rnd.nextInt(40))(1 + rnd.nextInt(2600))
      val planted = toks.zipWithIndex
        .map { case (n, i) => (i * 64L, ("w " * math.min(n, 2600)).trim) }
        .toDF("doc_id", "text")
      var bins = 1L; var used = 0L
      toks.map(t => math.min(t, 2048L)).foreach { t =>
        if (used + t <= 2048) used += t else { bins += 1; used = t } }
      val got = graft.operators.Pipeline.packGreedyOver(planted).collect()(0)
      assert(got.getLong(2) == bins, s"seed $seed: got $got want $bins bins")
    }
  }

  test("vec_kcenter: radii are monotone non-increasing and centers are distinct") {
    val rows = graft.operators.Similarity.kCenter(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == graft.operators.Similarity.KCenterSteps)
    val radii = rows.drop(1).map(_._3) // step 1 is the seed (radius 0)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"cover radius must shrink as centers are added: ${radii.toSeq}")
    val ids = rows.map(_._2)
    assert(ids.distinct.length == ids.length, "a center can never repeat")
    assert(rows.head == ((1L, 0L, 0L)), "seed is the minimum vec_id")
  }
}
