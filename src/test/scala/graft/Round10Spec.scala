package graft

import graft.operators.{Dedup, Events, Joins, Pipeline, Similarity, TextAnalysis, Tpch}
import org.apache.spark.sql.functions._

/** Round-10 coverage: Markov transition algebra, seasonality-cell
  * conservation, market-basket lift sanity, MAD robustness, ExactSubstr
  * window accounting, silhouette geometry, and the threshold-curve
  * cumulative invariant.
  */
class Round10Spec extends SparkSpec {

  test("ev_transition_matrix: probability rows sum to ~1 and edges conserve events") {
    val rows = Events.transitionMatrix(spark, Sf).collect()
    // per from_type, prob_bp sums to 10000 within |row| floor-division slack
    rows.groupBy(_.getString(0)).foreach { case (from, es) =>
      val s = es.map(_.getLong(3)).sum
      assert(s <= 10000 && s > 10000 - es.length,
        s"$from prob_bp sums to $s over ${es.length} edges")
    }
    // edge conservation: Σ transitions = events − users (first event emits none)
    val nEvents = Tables.events(spark, Sf).count()
    val nUsers = Tables.events(spark, Sf).select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == nEvents - nUsers)
    // dwell gaps are event-time ordered, so every mean gap is non-negative
    assert(rows.forall(_.getLong(4) >= 0L))
  }

  test("ev_seasonality: cells partition the stream and shares sum to ~10000") {
    val rows = Events.seasonality(spark, Sf).collect()
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 7 &&
      r.getLong(1) >= 0 && r.getLong(1) < 24), "cell coordinates in range")
    assert(rows.map(_.getLong(2)).sum == Tables.events(spark, Sf).count(),
      "every event lands in exactly one (dow, hour) cell")
    val shareSum = rows.map(_.getLong(6)).sum
    assert(shareSum <= 10000 && shareSum > 10000 - rows.length)
    // purchases never exceed the cell's event count
    assert(rows.forall(r => r.getLong(3) <= r.getLong(2)))
  }

  test("q_market_basket: support bounded by part counts, lift exactly reproducible") {
    val rows = Tpch.marketBasket(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val nOrders = Tables.lineitem(spark, Sf)
      .select("l_orderkey").distinct().count()
    rows.foreach { r =>
      val (a, b, support, ca, cb, lift) = (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(a < b, "canonical pair order")
      assert(support <= ca && support <= cb,
        "a pair cannot out-occur either of its parts")
      assert(lift == support * nOrders * 10000 / (ca * cb),
        "lift recomputes exactly from its factors")
    }
    // descending support (the top-k ordering), ties broken by keys
    assert(rows.sliding(2).forall {
      case Array(x, y) => x.getLong(2) > y.getLong(2) ||
        (x.getLong(2) == y.getLong(2) &&
          (x.getLong(0) < y.getLong(0) ||
            (x.getLong(0) == y.getLong(0) && x.getLong(1) < y.getLong(1))))
      case _ => true
    })
  }

  test("docs_mad_outliers: flags are robust — a planted giant doc flips, the bulk does not") {
    val rows = Pipeline.madOutliers(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) % 1 == 0 && r.getLong(2) > 0, "median_x2 positive")
      assert(r.getLong(4) <= r.getLong(1), "outliers bounded by doc count")
      assert(r.getLong(5) == r.getLong(4) * 10000 / r.getLong(1))
    }
    // robustness: outlier share stays a small minority per source — the
    // 3-MAD fence excludes the bulk by construction
    assert(rows.forall(_.getLong(5) < 5000),
      "a majority-outlier source means the fence is broken")
  }

  test("text_substr_dup: planted verbatim passage is detected cross-document") {
    // two docs sharing one 40+-char verbatim passage must both be flagged
    import spark.implicits._
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, s"unique preamble alpha $passage", "a"),
      (2L, s"$passage completely different tail text here", "a"),
      (3L, "no shared content in this document at all beyond forty characters of filler text", "b"))
      .toDF("doc_id", "text", "source")
    docs.createOrReplaceTempView("substr_probe")
    // run the operator body against the probe by re-deriving windows the
    // same way (k=40, stride 1) — the passage sits at DIFFERENT offsets in
    // docs 1 and 2, so this also pins alignment-independence
    val win = docs.filter(length(col("text")) >= 40)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - 39)).as("i"),
        col("text"))
      .select(col("doc_id"), graft.functions.Kernels.hash60(expr("substring(text, i, 40)")).as("h"))
      .distinct()
    val dup = win.groupBy("h").agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).join(win, "h")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(dup == Set(1L, 2L), s"expected docs 1,2 flagged, got $dup")
    // corpus-level run: report covers every source, accounting consistent
    val rows = TextAnalysis.substrDup(spark, Sf).collect()
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "docs_with_dup ≤ n_docs")
      assert(r.getLong(3) <= r.getLong(4), "shared ≤ total windows")
    }
  }

  test("vec_silhouette: s in [-10000, 10000], misfits counted consistently") {
    val rows = Similarity.silhouette(spark, Sf).collect()
    assert(rows.length == Tables.embeddings(spark, Sf)
      .select("label").distinct().count())
    rows.foreach { r =>
      assert(r.getLong(3) >= -10000 && r.getLong(4) <= 10000,
        "silhouette is a ratio against the larger distance")
      assert(r.getLong(3) <= r.getLong(4), "min ≤ max")
      val (n, misfit) = (r.getLong(1), r.getLong(5))
      assert(misfit >= 0 && misfit <= n)
      // min_s < 0 iff at least one misfit
      assert((r.getLong(3) < 0) == (misfit > 0))
    }
  }

  test("dedup_threshold_curve: cumulative counts are monotone and bucket-consistent") {
    val rows = Dedup.thresholdCurve(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) * 500, "thr_bp = bucket floor")
      assert(r.getLong(3) >= 2, "a pair bucket touches at least two docs")
    }
    // cum_pairs decreasing in bucket (it accumulates from the top) and the
    // bottom row carries the full pair count
    val sorted = rows.sortBy(_.getLong(0))
    assert(sorted.sliding(2).forall {
      case Array(lo, hi) => lo.getLong(4) >= hi.getLong(4)
      case _ => true
    })
    assert(sorted.head.getLong(4) == rows.map(_.getLong(2)).sum)
  }

  test("q_triangle_count: census internally consistent, true GCC bounded") {
    val r = Joins.triangleCount(spark, Sf).collect()
    assert(r.length == 1)
    val (v, e, hub, dropped, w, t, gcc) = (r(0).getLong(0), r(0).getLong(1),
      r(0).getLong(2), r(0).getLong(3), r(0).getLong(4), r(0).getLong(5),
      r(0).getLong(6))
    assert(v >= 2 && e >= 1, "support-2 graph is non-empty at sf0.001")
    assert(v <= 2 * e, "every vertex touches an edge")
    assert(hub == 0 && dropped == 0,
      "testdata max degree is far below the 64 cap — census is exact")
    assert(3 * t <= w, "each triangle closes three of the true wedges")
    assert(gcc == 3 * t * 10000 / math.max(w, 1), "gcc recomputes exactly")
    assert(gcc <= 10000, "true GCC is a ratio, never above one")
  }

  test("q_triangle_count: planted hub is dropped with honest accounting") {
    import spark.implicits._
    // a 10-spoke star around vertex 1 (degree 10 > cap 3) plus a clean
    // triangle (2,3,4) off to the side; capping at 3 must drop exactly the
    // 10 star edges and one hub vertex, and still count the triangle
    val star = (100L to 109L).map(s => (1L, s))
    val tri = Seq((2L, 3L), (2L, 4L), (3L, 4L))
    val e0 = (star ++ tri).toDF("pa", "pb")
    val r = Joins.triangleCensus(e0, 3).collect()(0)
    assert(r.getLong(2) == 1, "one hub vertex")
    assert(r.getLong(3) == 10, "its ten spokes dropped")
    assert(r.getLong(1) == 3 && r.getLong(5) == 1,
      "capped graph keeps the clean triangle")
    assert(r.getLong(4) == 3 && r.getLong(6) == 10000,
      "a bare triangle has 3 wedges and GCC exactly 1")
  }

  test("ev_sliding_counts: every event lands in exactly 4 slide-aligned windows") {
    val rows = Events.slidingCounts(spark, Sf).collect()
    assert(rows.forall(_.getLong(0) % 900000000L == 0L),
      "window starts align to the 15-min slide grid")
    val nEvents = Tables.events(spark, Sf).count()
    assert(rows.map(_.getLong(2)).sum == nEvents * 4,
      "1 h window / 15 min slide covers each event exactly 4 times")
    // tumbling consistency: 4 consecutive slides partition one window span
    val byType = rows.groupBy(_.getString(1))
    assert(byType.nonEmpty)
  }

  test("ev_gap_histogram: gaps conserve events and octave bounds hold") {
    val rows = Events.gapHistogram(spark, Sf).collect()
    val nEvents = Tables.events(spark, Sf).count()
    val nUsers = Tables.events(spark, Sf).select("user_id").distinct().count()
    assert(rows.map(_.getLong(2)).sum == nEvents - nUsers,
      "every event after a user's first contributes one gap")
    rows.foreach { r =>
      val (b, lo, hi) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(lo <= hi)
      assert((lo + 1) >= (1L << (b - 1).toInt) && (hi + 1) < (1L << b.toInt),
        s"bucket $b must contain gs+1 in [2^${b - 1}, 2^$b)")
    }
  }

  test("ev_changepoint: drift matches a local CUSUM fold over the closed hourly series") {
    val rows = Events.changepoint(spark, Sf).collect()
    assert(rows.nonEmpty)
    // local recompute per type from the raw table
    val hourly = Tables.events(spark, Sf)
      .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .groupBy(_._1._1)
      .map { case (t, m) => t -> m.map { case ((_, h), n) => h -> n }.toSeq.sortBy(_._1) }
    rows.foreach { r =>
      val t = r.getString(0)
      val series = hourly(t).dropRight(1) // trailing open hour excluded
      val mean = series.map(_._2).sum / series.length
      var p = 0L; var runmin = Long.MaxValue; var best = -1L; var bestH = -1L
      series.foreach { case (h, n) =>
        p += n - mean; runmin = math.min(runmin, p)
        if (p - runmin > best) { best = p - runmin; bestH = h }
      }
      assert(r.getLong(1) == series.length && r.getLong(2) == mean)
      assert(r.getLong(3) == best && r.getLong(4) == bestH,
        s"$t: drift ${r.getLong(3)}@${r.getLong(4)} vs local $best@$bestH")
    }
  }

  test("q_ship_latency: gaps non-negative, percentiles ordered, lines conserved") {
    val rows = Events.shipLatency(spark, Sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.lineitem(spark, Sf).count(),
      "every lineitem lands in exactly one priority row")
    rows.foreach { r =>
      assert(r.getLong(2) >= 0, "ship date never precedes order date")
      // p50_x2 is doubled, p90_floor is not: compare on the same scale
      assert(r.getLong(3) <= 2 * r.getLong(4), "p50 ≤ p90 floor rank")
    }
  }

  test("q_pareto_bands: shares monotone from the top, classes ordered A→C") {
    val rows = Tpch.paretoBands(spark, Sf).collect() // ordered band DESC
    assert(rows.length >= 3, "log-linear banding must resolve the revenue range")
    assert(rows.last.getLong(3) == 10000, "bottom band carries the full share")
    assert(rows.sliding(2).forall {
      case Array(hi, lo) => hi.getLong(3) <= lo.getLong(3)
      case _ => true
    }, "cumulative share grows as bands descend")
    val classes = rows.map(_.getString(4)).distinct
    assert(classes.sameElements(classes.sorted), "A before B before C")
  }

  test("ev_top_paths: paths bounded to 5 hops, session accounting consistent") {
    val rows = Events.topPaths(spark, Sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val hops = r.getString(0).split(">")
      assert(hops.length >= 1 && hops.length <= 5)
      assert(hops.forall(Events.EventTypes.contains), "hops from the vocabulary")
      assert(r.getLong(2) <= r.getLong(1), "users ≤ sessions per path")
    }
    assert(rows.sliding(2).forall {
      case Array(a, b) => a.getLong(1) > b.getLong(1) ||
        (a.getLong(1) == b.getLong(1) && a.getString(0) < b.getString(0))
      case _ => true
    }, "(count desc, path asc) order")
  }

  test("ev_transition_entropy: 0 ≤ H ≤ ln(branches), micro-snap within tolerance") {
    val rows = Events.transitionEntropy(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (h, hmax) = (r.getDouble(3), r.getDouble(4))
      assert(h >= -1e-6, "entropy non-negative")
      // micro-integer ln snapping perturbs H by < |edges|·1e-6
      assert(h <= hmax + 1e-4, s"H $h exceeds ln(branches) $hmax")
    }
  }

  test("q_segment_migration: matrix partitions customers, halves meaningful") {
    val rows = Tpch.segmentMigration(spark, Sf).collect()
    val total = rows.map(_.getLong(2)).sum
    val nCust = Tables.orders(spark, Sf).select("o_custkey").distinct().count()
    assert(total == nCust, "every ordering customer lands in exactly one cell")
    val segs = Set("low", "mid", "high", "none")
    assert(rows.forall(r => segs(r.getString(0)) && segs(r.getString(1))))
    assert(!rows.exists(r => r.getString(0) == "none" && r.getString(1) == "none"),
      "a customer absent from both halves has no orders at all")
  }

  test("text_readability: rates bounded, Flesch recomputes from its factors") {
    val rows = TextAnalysis.readability(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (wps, spw, f) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(wps >= 1000, "at least one word per sentence (floor per-mille)")
      assert(spw >= 0 && spw <= 8000, "syllables per word sane")
      // the per-source mean of per-doc Flesch stays inside the score's
      // affine hull of the mean rates (floor-div slack per doc < 2 units)
      val approx = 206835 - 1015 * wps / 1000 - 84600 * spw / 1000
      assert(math.abs(f - approx) <= 2000, s"flesch $f vs affine $approx")
    }
  }

  test("ev_bitmap_distinct: bitmap popcount equals exact distinct in every cell") {
    val rows = Events.bitmapDistinct(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(4),
        s"bitmap ${r.getLong(3)} vs exact ${r.getLong(4)} — the bitmap path must be lossless")
      assert(r.getLong(2) <= (r.getLong(4) + 61) / 62 + 1,
        "word count bounded by ceil(users/62) (+1 for id-range spread)")
    }
  }

  test("ev_stickiness: bounds hold — mean DAU never exceeds MAU") {
    val rows = Events.stickiness(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(4) <= 10000, "stickiness ≤ 100%")
      assert(r.getLong(3) >= r.getLong(2), "Σdau ≥ MAU (each MAU user active ≥1 day)")
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 30)
    }
  }

  test("q_join_card_est: exact pairs recompute from per-key counts; estimate unbiased-ish") {
    val r = Tpch.joinCardEst(spark, Sf).collect()(0)
    val local = Tables.events(spark, Sf).groupBy("user_id").count()
      .collect().map(x => x.getLong(1) * x.getLong(1)).sum
    assert(r.getLong(2) == local, "Σa² matches a local recompute")
    // the tiny sf0.001 key population can legitimately miss the 1/4
    // sample entirely ((3/4)^15 ≈ 1.3%) — the audit must then REPORT the
    // miss (est 0, err −100%), not hide it
    if (r.getLong(1) == 0)
      assert(r.getLong(3) == 0 && r.getLong(4) == -10000,
        "an empty sample must surface as a −100% error, never silently")
    else
      assert(math.abs(r.getLong(4)) <= 10000,
        "estimate within ±100% on near-uniform keys")
  }

  test("q_delta_distinct: the incremental view equals the direct distinct") {
    val r = Tpch.deltaDistinct(spark, Sf).collect()(0)
    val direct = Tables.lineitem(spark, Sf)
      .select("l_partkey", "l_suppkey").distinct().count()
    assert(r.getLong(3) == direct,
      "hist + appended must reconstruct the direct distinct exactly")
    assert(r.getLong(2) <= r.getLong(1), "appended ⊆ delta")
  }

  test("q_partition_advisor: three candidates, shares and means consistent") {
    val rows = Tpch.partitionAdvisor(spark, Sf).collect()
    assert(rows.length == 3)
    val nOrders = Tables.orders(spark, Sf).count()
    rows.foreach { r =>
      assert(r.getLong(1) >= 1)
      assert(r.getLong(2) >= 10000 / r.getLong(1),
        "the largest partition is at least the uniform share")
      assert(r.getLong(3) == nOrders / r.getLong(1),
        "mean rows = total div partitions")
    }
  }

  test("ev_missing_hours: span arithmetic consistent, coverage bounded") {
    val rows = Events.missingHours(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "present ≤ expected")
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
      assert(r.getLong(4) <= 10000 && r.getLong(4) > 0)
    }
  }

  test("text_substr_dup_winnow: planted cross-doc passages survive winnowing; the index shrinks") {
    import spark.implicits._
    // a 63-char passage (≥ 40+w−1 = 47, the winnowing guarantee length)
    // planted at DIFFERENT alignments in docs 1 and 2; doc 3 is clean
    val p = "the quick brown fox jumps over the lazy dog repeatedly tonight"
    // aperiodic deterministic filler so window distinctness behaves like
    // real text, not like a degenerate run
    def filler(seed: Int, n: Int): String =
      (0 until n).map(i => ('a' + ((i * i * 31 + seed * 7 + i) % 26)).toChar).mkString
    val docs = Seq(
      (1L, "s", filler(1, 83) + p + filler(2, 100)),
      (2L, "s", filler(3, 57) + p + filler(4, 140)),
      (3L, "s", filler(5, 320))).toDF("doc_id", "source", "text")
    val exact = graft.operators.TextAnalysis.substrDupOn(docs).collect()(0)
    val win = graft.operators.TextAnalysis.substrDupWinnowOn(docs, 8).collect()(0)
    assert(exact.getLong(2) == 2, s"stride-1 truth flags both planted docs: $exact")
    assert(win.getLong(2) == 2,
      s"winnowing must keep the planted recall (shared run ≥ 47 chars): $win")
    assert(win.getLong(4) * 3 < exact.getLong(4),
      s"winnowed index must be well under a third of the stride-1 universe: " +
        s"${win.getLong(4)} vs ${exact.getLong(4)}")
  }

  test("band-occupancy accounting: a planted hot family is counted, never silent") {
    import spark.implicits._
    // 70 docs pile into one (band, value) bucket — the exact-dup-family
    // shape on real media; the 64-cap must drop that bucket and say so
    val bands = ((1L to 70L).map(d => (d, 0, 7L)) ++
      Seq((100L, 1, 9L), (101L, 1, 9L))).toDF("doc_id", "c", "chunk")
    val r = graft.operators.Dedup.bandStatsOver(bands, Seq("c", "chunk"), 64).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((2L, 1L, 1L, 70L, 70L)),
      s"census (buckets, kept, dropped, max_df, docs_affected) wrong: $r")
  }

  test("mm_phash_dedup: every planted 1-bit variant is found (band pigeonhole), distances exact") {
    val rows = graft.operators.Multimodal.phashDedup(spark, Sf).collect()
    val planted = rows.filter(_.getLong(3) == 1L)
    val nPlanted = Tables.documents(spark, Sf)
      .filter(col("doc_id") % 3 === 0).count()
    assert(planted.length == nPlanted,
      s"pigeonhole guarantee: all $nPlanted planted variants found, got ${planted.length}")
    assert(planted.forall(_.getLong(2) == 1L), "planted pairs sit at Hamming 1")
    assert(rows.forall(_.getLong(2) <= 3L), "verify step enforces the cutoff")
  }

  test("ev_watermark_curve: loss is monotone non-increasing in the delay") {
    // sf0.001 spreads 1000 events over 64 shards so thinly that nothing
    // trails its shard's running max — run the invariant probe at 4
    // shards, where the planted slip measurably defeats a 60 s delay
    val rows = Events.watermarkCurve(spark, Sf, nShards = 4).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val drops = Seq(r.getLong(2), r.getLong(4), r.getLong(6), r.getLong(8))
      assert(drops.sliding(2).forall { case Seq(a, b) => a >= b },
        s"a longer delay can only drop fewer events: $drops")
      assert(drops.head <= r.getLong(1))
    }
    // planted slips are ≥30 min behind, so a 1-minute delay must lose some
    assert(rows.map(_.getLong(2)).sum > 0, "the planted slip defeats a 60 s delay")
    assert(rows.map(_.getLong(2)).sum >= rows.map(_.getLong(8)).sum,
      "the curve orders short before long delays")
  }

  test("text_js_divergence: symmetric pairs, bounded by ln 2, self-similarity ~0") {
    val rows = TextAnalysis.jsDivergence(spark, Sf).collect()
    val nSources = Tables.documents(spark, Sf).select("source").distinct().count()
    assert(rows.length == nSources * (nSources - 1) / 2, "one row per unordered pair")
    rows.foreach { r =>
      val js = r.getDouble(2)
      assert(js >= -1e-4 && js <= math.log(2) + 1e-4,
        s"JS in [0, ln 2]: $js for ${r.getString(0)}↔${r.getString(1)}")
      assert(r.getString(0) < r.getString(1), "canonical pair order")
    }
  }

  test("vec_dim_variance: moment identity matches a local recompute per dimension") {
    val rows = Similarity.dimVariance(spark, Sf).collect()
    assert(rows.length == 64)
    val local = Tables.embeddings(spark, Sf)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(v => math.floor(v * 1000 + 0.5).toLong))
    rows.take(8).foreach { r =>
      val d = r.getLong(0).toInt
      val xs = local.map(_(d))
      val (n, s, s2) = (xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
      assert(r.getLong(1) == Math.floorDiv(s, n) ||
        r.getLong(1) == s / n, "mean matches")
      assert(r.getLong(2) == (n * s2 - s * s) / (n * n), "variance matches")
    }
    assert(rows.forall(_.getLong(2) >= 0), "population variance non-negative")
  }

  test("ev_user_lifetime: buckets partition users, activity bounded by tenure") {
    val rows = Events.userLifetime(spark, Sf).collect()
    val nUsers = Tables.events(spark, Sf).select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == nUsers, "every user in exactly one bucket")
    rows.foreach { r =>
      assert(r.getLong(3) >= 1, "an observed user is active at least one day")
      assert(r.getLong(4) >= r.getLong(3), "events ≥ active days")
    }
  }

  test("q_broadcast_audit: all five dims broadcastable at sf0.001, bytes consistent") {
    val rows = Tpch.broadcastAudit(spark, Sf).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getString(0)).sorted.sameElements(
      Array("customer", "nation", "part", "region", "supplier")))
    rows.foreach { r =>
      assert(r.getLong(2) > r.getLong(1) * 8, "estimate exceeds the numeric floor")
      assert(r.getLong(3) == (if (r.getLong(2) <= 10L * 1024 * 1024) 1L else 0L))
    }
    assert(rows.forall(_.getLong(3) == 1L), "every dim clears 10 MiB at sf0.001")
  }

  test("vec_ivf_balance: shares partition the corpus, imbalance ≥ uniform") {
    val rows = Similarity.ivfBalance(spark, Sf).collect()
    val nVecs = Tables.embeddings(spark, Sf).count()
    assert(rows.map(_.getLong(1)).sum == nVecs, "members partition the corpus")
    val shareSum = rows.map(_.getLong(2)).sum
    assert(shareSum <= 10000 && shareSum > 10000 - rows.length)
    val imb = rows.head.getLong(3)
    assert(rows.forall(_.getLong(3) == imb), "imbalance is a global constant")
    assert(imb >= 10000 - rows.length, "max/mean ≥ 1 up to floor slack")
  }

  test("ev_profile_drift: halves partition the stream, deltas conserve to ~0") {
    val rows = Events.profileDrift(spark, Sf).collect()
    val nEvents = Tables.events(spark, Sf).count()
    assert(rows.map(r => r.getLong(2) + r.getLong(3)).sum == nEvents,
      "both halves together cover every event")
    rows.foreach { r =>
      assert(r.getLong(6) == r.getLong(5) - r.getLong(4),
        "delta recomputes from the shares")
    }
    // Σ share deltas ≈ 0 (both share columns sum to ~10000 up to floor slack)
    assert(math.abs(rows.map(_.getLong(6)).sum) <= rows.length,
      "share deltas conserve across the matrix")
  }

  test("docs_pipeline_full: every planted family drops at exactly its stage") {
    val stages = Pipeline.pipelineFullStages(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // recompute the quality rule locally to select plants whose ORIGINAL
    // survives stage 1 (a plant of a quality-dropped doc drops there too)
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def keptQ(text: String): Boolean = {
      val t = text.split(" ", -1)
      t.length >= 30 && t.length <= 80 &&
        t.distinct.length.toDouble / t.length >= 0.45
    }
    val nonEval = docs.keys.filter(_ % 97 != 0)
    // exact plant: verbatim re-entry loses the canonical (min-id) race
    val d5 = nonEval.filter(id => id % 5 == 0 && keptQ(docs(id))).min
    assert(stages(d5 + 9000000L) == "exact", s"exact plant of $d5: ${stages(d5 + 9000000L)}")
    // near-dup plant: the zqdup-prepended twin (nw+1 must stay ≤ 80)
    val d7 = nonEval.filter(id => id % 7 == 0 && keptQ(docs(id)) &&
      docs(id).split(" ", -1).length <= 79).min
    assert(stages(d7 + 7000000L) == "neardup", s"near-dup plant of $d7: ${stages(d7 + 7000000L)}")
    // contamination plant: a held-out eval doc re-entered verbatim
    val d97 = docs.keys.filter(id => id % 97 == 0 && keptQ(docs(id))).min
    assert(stages(d97 + 5000000L) == "contam", s"contam plant of $d97: ${stages(d97 + 5000000L)}")
    // the originals win their races and stay clean
    assert(stages(d5) == "kept" && stages(d7) == "kept", "plant originals survive")
    // funnel columns are cumulative survivor counts: monotone non-increasing
    Pipeline.pipelineFull(spark, Sf).collect().foreach { r =>
      val cols = (1 to 5).map(r.getLong)
      assert(cols.zip(cols.tail).forall { case (a, b) => a >= b },
        s"funnel must shrink monotonically: $cols")
    }
  }

  test("knn_join: adaptive planes + occupancy cap — over-cap buckets drop with ledger accounting") {
    import graft.operators.Similarity
    // at the gate SF nothing reaches the ceiling: the ledger proves it and
    // the capped join equals the uncapped one
    val ledger = Similarity.knnBucketStats(spark, Sf).head()
    assert(ledger.getLong(4) == 0L && ledger.getLong(2) == 0L,
      s"no bucket may exceed the ceiling at $Sf: $ledger")
    assert(ledger.getLong(6) <= Similarity.MaxKnnBucket * ledger.getLong(3),
      "kept pair budget bounded by ceiling x vectors")
    // force a hot bucket (1 plane -> 2 buckets) with a tiny ceiling: the
    // join must only emit vectors from under-cap buckets, and the ledger
    // must account for every excluded vector
    val tiny = Similarity.knnBucketStats(spark, Sf, nPlanes = 1, maxBucket = 10).head()
    val nVec = Tables.embeddings(spark, Sf).count()
    assert(tiny.getLong(3) == nVec, "ledger covers the whole corpus")
    val kept = nVec - tiny.getLong(4)
    val joined = Similarity.knnJoin(spark, Sf, nPlanes = 1, maxBucket = 10)
      .select("vec_id").distinct().count()
    assert(joined <= kept,
      s"capped join may only emit under-cap vectors: $joined > $kept")
    assert(tiny.getLong(4) > 0L,
      "the forced-hot configuration must actually exercise the cap")
  }

  test("dedup_semantic: adaptive sqrt-n cell grid + occupancy ledger accounting") {
    val r = Dedup.semanticCellStats(spark, Sf).head()
    val base = Tables.embeddings(spark, Sf)
    val n = base.count() + base.filter(col("vec_id") % 10 === 0).count()
    val grid = math.max(32L, math.sqrt(n.toDouble).toLong)
    assert(r.getLong(0) <= grid, s"populated cells ${r.getLong(0)} exceed the $grid grid")
    assert(r.getLong(2) == n, "ledger covers corpus + plants")
    assert(r.getLong(3) == 0L && r.getLong(1) == 0L,
      s"no cell may reach the ceiling at $Sf: $r")
    assert(r.getLong(5) <= Dedup.MaxSemanticCell.toLong * r.getLong(2),
      "kept pair budget bounded by ceiling x vectors")
    // a forced ceiling of 1 leaves no pairable cell at all
    assert(Dedup.semantic(spark, Sf, maxCell = 1).count() == 0L)
  }

  test("dedup_embedding: occupancy cap with ledger; gate SF untouched") {
    val r = Dedup.embeddingBucketStats(spark, Sf).head()
    val n = Tables.embeddings(spark, Sf).count() * 2 // corpus + x2 plants
    assert(r.getLong(2) == n, "ledger covers corpus + plants")
    assert(r.getLong(1) == 0L && r.getLong(3) == 0L,
      s"no bucket may reach the ceiling at $Sf: $r")
    assert(r.getLong(5) <= Dedup.MaxEmbedBucket.toLong * r.getLong(2))
    // forced-hot: 1 plane -> 2 buckets; a tiny ceiling leaves only
    // under-cap buckets in the join, ledger accounts for the rest
    val tiny = Dedup.embeddingBucketStats(spark, Sf, nPlanes = 1, maxBucket = 10).head()
    assert(tiny.getLong(3) > 0L, "forced-hot configuration must exercise the cap")
    val pairs = Dedup.embeddingCosine(spark, Sf, nPlanes = 1, maxBucket = 10)
    val touched = pairs.select("vec_a").union(pairs.select("vec_b")).distinct().count()
    assert(touched <= n - tiny.getLong(3),
      "capped join may only emit under-cap vectors")
  }

  test("docs_softdedup: weights conserve mass and the planted groups price at exactly 1/g") {
    val rows = Pipeline.softDedup(spark, Sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, Sf).select("doc_id", "source").collect()
    val perSrc = docs.groupBy(_.getString(1))
    rows.foreach { r =>
      val src = r.getString(0)
      val ids = perSrc(src).map(_.getLong(0))
      val n2 = ids.count(i => i % 7 == 3 && i % 91 != 10) // pairs
      val n3 = ids.count(_ % 91 == 10)                    // triples
      val base = ids.length
      assert(r.getLong(1) == base + n2 + 2L * n3, s"$src corpus size")
      assert(r.getLong(2) == 2L * n2 + 3L * n3, s"$src dup count")
      // every group of g copies contributes g * (10000 div g)
      val expectedEff = (base - n2 - n3) * 10000L + n2 * 2L * 5000L + n3 * 3L * 3333L
      assert(r.getLong(3) == expectedEff, s"$src effective docs")
      assert(r.getLong(3) <= r.getLong(1) * 10000L, "soft weights never exceed raw mass")
    }
  }

  test("docs_softdedup_neardup: per-lang effective mass re-derives from the cluster labels") {
    val rows = Dedup.softDedupNearDup(spark, Sf).collect()
    assert(rows.nonEmpty)
    // independent re-derivation in plain Scala from the label assignment
    val labels = Dedup.clusterLabels(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.documents(spark, Sf).select("doc_id", "lang").collect()
      .flatMap(r => Seq((r.getLong(0), r.getString(1)),
        (r.getLong(0) + 1000000L, r.getString(1))))
    val lab = docs.map { case (id, lang) => (lang, labels.getOrElse(id, id)) }
    val sizes = lab.groupBy(_._2).map { case (l, xs) => l -> xs.length.toLong }
    val expect = lab.groupBy(_._1).map { case (lang, xs) =>
      lang -> (xs.length.toLong,
        xs.count(x => sizes(x._2) > 1).toLong,
        xs.map(x => 10000L / sizes(x._2)).sum)
    }
    rows.foreach { r =>
      val (n, in, eff) = expect(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == in && r.getLong(3) == eff,
        s"${r.getString(0)}: got (${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}) want ($n,$in,$eff)")
    }
  }

  test("ann_mips: one query's top-5 re-derives from plain-Scala dot products") {
    val got = Similarity.mipsTopK(spark, Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.nonEmpty && got.forall(_._4 >= 1) && got.forall(_._4 <= 5))
    // per query: ranks are 1..5 with ip non-increasing
    got.groupBy(_._1).foreach { case (q, xs) =>
      val s = xs.sortBy(_._4)
      assert(s.map(_._4).toSeq == (1 to s.length) &&
        s.sliding(2).forall {
          case Array(a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)
          case _ => true
        }, s"query $q ordering")
    }
    // independent re-derivation for query 0
    val vecs = Tables.embeddings(spark, Sf)
      .selectExpr("vec_id", "cast(embedding as array<double>) e").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val q0 = vecs(0L)
    val expect = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, e) =>
        (id, math.floor(q0.zip(e).map(p => p._1 * p._2).sum * 1e6 + 0.5).toLong)
      }
      .sortBy { case (id, ip) => (-ip, id) }.take(5)
    assert(got.filter(_._1 == 0L).sortBy(_._4).map(x => (x._2, x._3)).toSeq == expect,
      "query 0 top-5 by hand")
  }

  test("docs_quality_classifier: bands partition the corpus and one doc's band recomputes by hand") {
    val rows = Pipeline.qualityClassifier(spark, Sf).collect()
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) <= 9),
      "score bands are the integer deciles of the [0,2) scaled-mean range")
    assert(rows.forall(r => r.getLong(4) == (if (r.getLong(1) >= 5) 1L else 0L)),
      "kept is exactly the band >= 5 threshold")
    // every doc lands in exactly one (source, band) cell
    assert(rows.map(_.getLong(2)).sum == Tables.documents(spark, Sf).count())
    // independent re-derivation: score one document with java MessageDigest,
    // not Spark SQL, and find it in its source's band histogram
    val doc = Tables.documents(spark, Sf)
      .select("doc_id", "source", "text").orderBy("doc_id").head()
    val md = java.security.MessageDigest.getInstance("MD5")
    val ws = doc.getString(2).split(" ", -1).map { t =>
      val hex = md.digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      (java.lang.Long.parseLong(hex, 16) % Pipeline.ClassifierBuckets) *
        2654435761L % 2048
    }
    val band = 10L * ws.sum / (2048L * ws.length)
    assert(rows.exists(r => r.getString(0) == doc.getString(1) &&
      r.getLong(1) == band && r.getLong(2) >= 1L),
      s"hand-scored band $band for doc 0 missing from its source histogram")
  }

  test("text_zipf_slope: negated slope is non-negative and one source refits by hand") {
    val rows = TextAnalysis.zipfSlope(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= math.min(r.getLong(1), TextAnalysis.ZipfHead),
        "fit head bounded by vocab and ZipfHead")
      assert(r.getLong(4) >= 0L,
        "rank-ordering makes frequency non-increasing, so -slope >= 0")
    }
    // independent refit: pull one source's vocabulary and redo the
    // quantized least squares in plain Scala
    val src = rows.head.getString(0)
    val vocab = Tables.documents(spark, Sf)
      .filter(col("source") === src)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (w, c) => (-c, w) }
      .take(TextAnalysis.ZipfHead)
    val xy = vocab.zipWithIndex.map { case ((_, c), i) =>
      (math.floor(math.log(i + 1.0) * 1000 + 0.5).toLong,
        math.floor(math.log(c.toDouble) * 1000 + 0.5).toLong)
    }
    val n = xy.length.toLong
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val (sxy, sxx) = (xy.map(p => p._1 * p._2).sum, xy.map(p => p._1 * p._1).sum)
    val expected = (10000L * (sx * sy - n * sxy)) / (n * sxx - sx * sx)
    assert(rows.head.getLong(4) == expected,
      s"hand refit of $src gives $expected, operator says ${rows.head.getLong(4)}")
  }

  test("text_code_detect: densities bounded, routing share recomputes") {
    val rows = TextAnalysis.codeDetect(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "code docs bounded by docs")
      assert(r.getLong(3) == r.getLong(2) * 10000 / r.getLong(1))
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000, "per-mille bound")
      assert(r.getLong(5) >= 0 && r.getLong(5) <= 1000)
    }
  }
}
