package graft

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** The tokenizer queries of [[TextAnalysis]]: the BPE step table, the BPE
  * and WordPiece merge trainers (train, apply and curve), the unigram-LM
  * trainer (EM, prune, curve and apply), the exactness rules of the
  * driver-side trainers — Spark's milli-ln, Spark's symbols (code points)
  * and Spark's string order — and their build-job budget. */
class TextAnalysisSpec extends SparkSpec {

  /** Independent reference trainer: the classic Sennrich loop over a
    * (symbols, freq) vocabulary — get_stats counts every adjacent position
    * (overlaps included), the merge applies greedily left-to-right, argmax
    * ties break on pair string order — emitting (step, pair, count, symbols
    * after) until pairs run dry. */
  private def refBpeTrain(words: Seq[(String, Long)],
      steps: Int): Seq[(Long, String, Long, Long)] = {
    var vocab = words.map { case (w, f) => (w.map(_.toString).toVector, f) }
    (1 to steps).flatMap { k =>
      val stats = mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        stats((syms(i), syms(i + 1))) = stats.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (stats.isEmpty) None
      else {
        val ((a, b), c) = stats.toSeq.minBy { case ((x, y), n) => (-n, x + " " + y) }
        vocab = vocab.map { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += a + b; i += 2
            } else { out += syms(i); i += 1 }
          }
          (out.result(), f)
        }
        val symAfter = vocab.map { case (syms, f) => syms.length * f }.sum
        Some((k.toLong, s"$a $b", c, symAfter))
      }
    }
  }

  /** 12 seeded random corpora: a tiny alphabet maximizes pair/symbol-count
    * collisions (tie-rule stressor) and run-heavy words (greedy
    * non-overlap stressor); small corpora also exercise the pairs-run-dry
    * early stop. */
  private val randomCorpora: Seq[(Int, Seq[String])] = (1 to 12).map { seed =>
    val rnd = new scala.util.Random(seed * 104729)
    val alphabet = "abc"
    def word(): String =
      (0 until (1 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(3))).mkString
    val vocabWords = (0 until (3 + rnd.nextInt(7))).map(_ => word())
    val corpus = (0 until (4 + rnd.nextInt(9)))
      .map(_ => (0 until (1 + rnd.nextInt(5)))
        .map(_ => vocabWords(rnd.nextInt(vocabWords.size))).mkString(" "))
    (seed, corpus)
  }

  test("text_bpe_step: hand-computed merge table on a planted corpus, incl. the overlap case") {
    import spark.implicits._
    // words: aaaa ×2, bb ×1, ab ×1 (and a single-char token that must be
    // excluded from the symbol universe entirely)
    val docs = Seq("aaaa bb aaaa", "ab c").toDF("text")
    val got = TextAnalysis.bpeStepOver(docs, topK = 20).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    // 'aa' in aaaa: 3 adjacent pairs but only 2 greedy merges (the BPE
    // overlap case); symbols_before = 4·2 + 2 + 2 = 12
    val want = Seq(
      ("aa", 6L, 4L, 12L, 8L),
      ("ab", 1L, 1L, 12L, 11L),
      ("bb", 1L, 1L, 12L, 11L))
    assert(got == want, s"got $got")
    // corpus-level sanity on real data: greedy never exceeds the raw
    // count, accounting recomputes, ordering is (count desc, pair asc)
    val rows = TextAnalysis.bpeStep(spark, Sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty && rows.forall { case (_, raw, greedy, before, after) =>
      greedy >= 1 && greedy <= raw && after == before - greedy })
    assert(rows.map(-_._2).zip(rows.map(_._1)).sorted.map(_._2).toSeq ==
      rows.map(_._1).toSeq, "rank order is (count desc, pair asc)")
  }

  test("text_bpe_train: five unrolled merges match a plain-Scala BPE trainer") {
    import spark.implicits._
    // planted corpus exercising the overlap case (aaaa), a cascading merge
    // (e->er->ert chains across steps) and ties
    val docs = Seq("aaaa bb aaaa ert", "ab ert aaaa", "ert erx c").toDF("text")
    val words = Seq("aaaa" -> 3L, "bb" -> 1L, "ab" -> 1L, "ert" -> 3L, "erx" -> 1L)
    val got = TextAnalysis.bpeTrainOver(docs, steps = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val want = refBpeTrain(words, 5).map { case (k, p, c, _) => (k, p, c) }
    assert(got == want && got.size == 5, s"got $got want $want")
    // and on the real corpus: steps are 1..5, counts positive and
    // non-increasing is NOT required (merges change the pair universe),
    // but every chosen pair must be two space-separated symbols
    val real = TextAnalysis.bpeTrain(spark, Sf).collect()
    assert(real.map(_.getLong(0)).toSeq == (1L to 5L) &&
      real.forall(r => r.getString(1).split(" ").length == 2 && r.getLong(2) > 0))
  }

  test("text_bpe_apply: per-source symbol accounting is conservative and consistent with the trainer") {
    val rows = TextAnalysis.bpeApply(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tok, chars, sym, bp) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(sym <= chars, "a merge never adds symbols")
      assert(sym >= tok, "every token is at least one symbol")
      assert(bp == sym * 10000 / chars, "compression recomputes")
    }
    // corpus-wide totals: chars equals the raw character count of all
    // tokens; 5 merges must remove exactly (applied merge count) symbols,
    // which is positive on real text
    assert(rows.map(_.getLong(3)).sum < rows.map(_.getLong(2)).sum)
  }

  test("text_bpe_apply: merges that run out before `steps` leave the table empty") {
    import spark.implicits._
    // "ab" ×2 and "c": one merge (a b), then no word has two symbols
    val docs = Seq(("s", "ab ab c")).toDF("source", "text")
    val one = TextAnalysis.bpeApplyOver(docs, 1).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(one == Seq(("s", 3L, 5L, 3L, 6000L)), one.toString)
    assert(TextAnalysis.bpeApplyOver(docs, 2).collect().isEmpty)
  }

  test("text_bpe_curve: 20 driver-driven merges match a plain-Scala trainer with curve") {
    import spark.implicits._
    // enough pair mass for 20 genuine merges: shared morphology + overlap runs
    val corpus = Seq(
      "internationalization nationalization aaaa",
      "internationale nationalization abcdefgh aaaa",
      "nationalization internationalization aaaa bb",
      "abcdefgh internationale rationalization")
    val docs = corpus.toDF("text")
    val words = corpus.flatMap(_.split(" ")).filter(_.length >= 2)
      .groupBy(identity).map { case (w, xs) => (w, xs.size.toLong) }.toSeq
    val got = TextAnalysis.bpeTrainCurveOver(docs, steps = 20).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val want = refBpeTrain(words, 20)
    assert(got == want, s"merge/curve divergence:\n got=$got\nwant=$want")
    // the curve is strictly decreasing: every merge removes >= 1 symbol
    assert(got.map(_._4) == got.map(_._4).sorted.reverse && got.map(_._4).distinct.size == 20)
  }

  test("text_wordpiece_train: likelihood argmax diverges from BPE's count argmax") {
    import spark.implicits._
    // "ab" is the most FREQUENT pair but its symbols are equally frequent,
    // so its likelihood count(ab)/(c(a)c(b)) = 1/50; "xy" is rarer but
    // 1/10 — WordPiece must pick "x y" where BPE picks "a b"
    val docs = (Seq.fill(50)("ab") ++ Seq.fill(10)("xy"))
      .map(Tuple1(_)).toDF("text")
    val wp = TextAnalysis.wordpieceTrainOver(docs, 1).collect()
    assert(wp.length == 1)
    assert(wp(0).getAs[String]("pair") == "x y", wp(0).toString)
    assert(wp(0).getAs[Long]("pair_count") == 10L)
    // exact milli-ln score: lnq(10) - lnq(10) - lnq(10) = -2303
    assert(wp(0).getAs[Long]("score_milli") == -2303L)
    val bpe = TextAnalysis.bpeTrainOver(docs, 1).collect()
    assert(bpe(0).getAs[String]("pair") == "a b", bpe(0).toString)
  }

  test("text_wordpiece_train: merged symbol feeds the next round's denominator") {
    import spark.implicits._
    // after merging "x y" -> "xy", the symbol "xy" has count 10 and the
    // pair "xy z" scores lnq(10)-lnq(10)-lnq(10); the trainer must count
    // the FUSED symbol, not its characters
    val docs = (Seq.fill(50)("ab") ++ Seq.fill(10)("xyz"))
      .map(Tuple1(_)).toDF("text")
    val wp = TextAnalysis.wordpieceTrainOver(docs, 2).collect()
    assert(wp.map(_.getAs[String]("pair")).toSeq == Seq("x y", "xy z"),
      wp.mkString(";"))
    assert(wp(1).getAs[Long]("score_milli") == -2303L)
  }

  /** Plain-Scala mirror of the MaxMatch fold, truncating substr and all:
    * at 1-based pos, try lengths maxL→2 against the merge products
    * (substring clamped at word end), else consume one char — maxL is the
    * longest TRAINED product (merges fuse multi-char products, so lengths
    * reach 2^steps; a static steps+1 cap silently skips shipped pieces). */
  private def refMaxMatch(w: String, products: Set[String]): Long = {
    val maxL = if (products.isEmpty) 2 else math.max(2, products.map(_.length).max)
    var pos = 1
    var cnt = 0L
    while (pos <= w.length) {
      val mlen = (maxL to 2 by -1).find { l =>
        products.contains(w.substring(pos - 1, math.min(pos - 1 + l, w.length)))
      }.getOrElse(1)
      pos += mlen
      cnt += 1
    }
    cnt
  }

  test("text_wordpiece_apply: per-source counts match a plain-Scala MaxMatch") {
    import spark.implicits._
    val docs = Seq(
      ("web", "the theme then theory the the quick quick brown"),
      ("web", "thequick ck qui quince a b the"),
      ("book", "quick the anthem x yz the theme"),
      ("book", "zz the the the quince quip")).toDF("source", "text")
    val products = TextAnalysis
      .wordpieceTrainOver(docs.select($"text"), 5).collect()
      .map(_.getAs[String]("pair").replace(" ", "")).toSet
    assert(products.size == 5, products.toString)
    val got = TextAnalysis.wordpieceApplyOver(docs, 5).collect()
      .map(r => r.getString(0) -> r).toMap
    val toks = docs.collect().flatMap(r =>
      r.getString(1).split(" ").filter(_.nonEmpty).map(w => (r.getString(0), w)))
    for (src <- Seq("web", "book")) {
      val ws = toks.filter(_._1 == src).map(_._2)
      assert(got(src).getAs[Long]("n_tokens") == ws.length.toLong, src)
      assert(got(src).getAs[Long]("chars") == ws.map(_.length.toLong).sum, src)
      val pieces = ws.map(refMaxMatch(_, products)).sum
      assert(got(src).getAs[Long]("pieces_after") == pieces, s"$src: $pieces")
      assert(got(src).getAs[Long]("compression_bp") ==
        pieces * 10000L / ws.map(_.length.toLong).sum, src)
    }
  }

  /** Plain-Scala mirror of the WordPiece trainer: milli-ln likelihood
    * scoring over len≥2 words, (score desc, pair asc) tie rule, greedy
    * left-to-right non-overlapping merge — emits (step, pair, count, score,
    * symbols after) until pairs run dry. */
  private def refWordpieceTrain(corpus: Seq[String],
      steps: Int): Seq[(Long, String, Long, Long, Long)] = {
    def lnq(x: Long): Long = math.floor(math.log(x.toDouble) * 1000 + 0.5).toLong
    def mergeLs(ls: List[String], a: String, b: String): List[String] = {
      val buf = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < ls.length) {
        if (i + 1 < ls.length && ls(i) == a && ls(i + 1) == b) { buf += a + b; i += 2 }
        else { buf += ls(i); i += 1 }
      }
      buf.toList
    }
    var vocab: Map[List[String], Long] = corpus.flatMap(_.split(" "))
      .filter(_.length >= 2).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
      .map { case (w, f) => w.split("").toList -> f }
    val out = scala.collection.mutable.ListBuffer.empty[(Long, String, Long, Long, Long)]
    var k = 1
    var dry = false
    while (k <= steps && !dry) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      val syms = scala.collection.mutable.Map.empty[String, Long]
      vocab.foreach { case (ls, f) =>
        ls.foreach(s => syms(s) = syms.getOrElse(s, 0L) + f)
        ls.zip(ls.tail).foreach(p => pairs(p) = pairs.getOrElse(p, 0L) + f)
      }
      if (pairs.isEmpty) dry = true
      else {
        val scored = pairs.toSeq.map { case ((a, b), pc) =>
          (s"$a $b", pc, lnq(pc) - lnq(syms(a)) - lnq(syms(b))) }
        val (bp, bc, bs) = scored.minBy { case (p, _, s) => (-s, p) }
        val Array(a, b) = bp.split(" ")
        vocab = vocab.map { case (ls, f) => mergeLs(ls, a, b) -> f }
        out += ((k.toLong, bp, bc, bs, vocab.map { case (ls, f) => ls.length * f }.sum))
      }
      k += 1
    }
    out.toSeq
  }

  test("text_wordpiece_train property: Spark trainer == plain-Scala reference on 12 random corpora") {
    import spark.implicits._
    for ((seed, corpus) <- randomCorpora) {
      val got = TextAnalysis.wordpieceTrainOver(corpus.toDF("text"), 5).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      val want = refWordpieceTrain(corpus, 5).map { case (k, p, c, s, _) => (k, p, c, s) }
      assert(got == want,
        s"seed $seed divergence: got=$got want=$want\ncorpus=$corpus")
    }
  }

  test("text_wordpiece_apply: MaxMatch is greedy, not optimal — and that's pinned") {
    import spark.implicits._
    // products {ab, abc} on word "abcd": greedy takes "abc"+"d" (2 pieces);
    // on "abd": "ab"+"d" (2); on "abcabc": "abc"+"abc" (2). The word "aabc"
    // shows the longest-FIRST rule: "a"+"abc" (2), never "a a b c"
    val docs = Seq(
      ("s", "ababab ababab abab ababab abab abcabc abcabc abcd abd aabc"))
      .toDF("source", "text")
    val products = TextAnalysis
      .wordpieceTrainOver(docs.select($"text"), 2).collect()
      .map(_.getAs[String]("pair").replace(" ", "")).toSet
    val got = TextAnalysis.wordpieceApplyOver(docs, 2).collect()
    val ws = docs.collect().flatMap(_.getString(1).split(" "))
    val expect = ws.map(refMaxMatch(_, products)).sum
    assert(got(0).getAs[Long]("pieces_after") == expect,
      s"products=$products got=${got(0)}")
  }

  test("text_wordpiece_apply: probes products LONGER than steps+1 (fused multi-char merges)") {
    import spark.implicits._
    // step 1 fuses a+b→ab; step 2 fuses ab+ab→abab — a 4-char product at
    // steps=2, beyond the old static steps+1 probe cap. 'ababab' must
    // segment abab+ab (2 pieces), not ab+ab+ab (3): the cap bug's witness
    val text = "abab abab abab abab abab abab ab ababab"
    val docs = Seq(("s", text)).toDF("source", "text")
    val products = TextAnalysis
      .wordpieceTrainOver(docs.select($"text"), 2).collect()
      .map(_.getAs[String]("pair").replace(" ", "")).toSet
    assert(products == Set("ab", "abab"), products.toString)
    assert(refMaxMatch("ababab", products) == 2L) // the fixed twin agrees
    val got = TextAnalysis.wordpieceApplyOver(docs, 2).collect()(0)
    val expect = text.split(" ").map(refMaxMatch(_, products)).sum
    assert(got.getAs[Long]("pieces_after") == expect,
      s"products=$products got=$got want=$expect")
  }

  test("tokenizer trainers property: BPE train and curve, WordPiece curve == plain-Scala references") {
    import spark.implicits._
    var dry = 0
    for ((seed, corpus) <- randomCorpora) {
      val docs = corpus.toDF("text")
      val words = corpus.flatMap(_.split(" ")).filter(_.length >= 2)
        .groupBy(identity).map { case (w, xs) => (w, xs.size.toLong) }.toSeq
      val bpe = refBpeTrain(words, 20)
      val train = TextAnalysis.bpeTrainOver(docs, 5).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(train == bpe.take(5).map { case (k, p, c, _) => (k, p, c) },
        s"seed $seed bpe train: got=$train want=${bpe.take(5)}\ncorpus=$corpus")
      val curve = TextAnalysis.bpeTrainCurveOver(docs, 20).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      assert(curve == bpe, s"seed $seed bpe curve: got=$curve want=$bpe\ncorpus=$corpus")
      val wp = TextAnalysis.wordpieceCurveOver(docs, 20).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq
      val want = refWordpieceTrain(corpus, 20)
      assert(wp == want, s"seed $seed wordpiece curve: got=$wp want=$want\ncorpus=$corpus")
      if (bpe.size < 20) dry += 1
    }
    assert(dry > 0, "some corpus must run out of pairs before 20 merges")
  }

  test("lnq equals Spark's floor(log(x) * 1000 + 0.5) for every x in 1..2 000 000") {
    val lnq = udf((x: Long) => TextAnalysis.lnq(x))
    val bad = spark.range(1, 2000001)
      .filter(lnq(col("id")) =!= floor(log(col("id").cast("double")) * 1000 + lit(0.5)).cast("long"))
      .limit(3).collect()
    assert(bad.isEmpty, bad.mkString(", "))
  }

  test("tokenizer trainers break score ties on UTF-8 byte order, not UTF-16 order") {
    import spark.implicits._
    // "Ａ x" and "𝒜 x" tie on count (BPE) and on score (WordPiece). UTF-8
    // puts U+FF21 (EF BC A1) before U+1D49C (F0 9D 92 9C), as Spark's and
    // DuckDB's string order do; String.compareTo puts the surrogate pair
    // (D835 DC9C) first. Spark's split keeps U+1D49C one symbol.
    val (fw, script) = ("\uFF21", "\uD835\uDC9C")
    val docs = Seq(s"${fw}x ${script}x").toDF("text")
    val bpe = TextAnalysis.bpeTrainOver(docs, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(bpe == Seq((1L, s"$fw x", 1L), (2L, s"$script x", 1L)), bpe.toString)
    val wp = TextAnalysis.wordpieceTrainOver(docs, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(wp == Seq((1L, s"$fw x", 1L, -693L), (2L, s"$script x", 1L, 0L)), wp.toString)
  }

  /** Independent unigram-LM reference over a (word, freq) vocabulary:
    * symbols are code points; seeds are every char plus the top
    * UnigramSeedNgrams bigrams and trigrams by count, ties on UTF-8 bytes;
    * the Viterbi DP scores pieces of up to 3 symbols (absent ones
    * UnigramNeg), ties prefer the longer piece, and the backtrack's piece
    * uses weigh by word frequency. */
  private object refUnigram {
    private val utf8: Ordering[String] = (a, b) =>
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
    /** (count desc, piece asc) as Spark and DuckDB order them. */
    val byCount: Ordering[(String, Long)] =
      Ordering.by[(String, Long), (Long, String)] { case (p, c) => (-c, p) }(
        Ordering.Tuple2(Ordering.Long, utf8))
    def syms(w: String): Vector[String] =
      w.codePoints.toArray.toVector.map(cp => new String(Character.toChars(cp)))
    def len(p: String): Long = syms(p).length.toLong
    def words(texts: Seq[String]): Seq[(String, Long)] =
      texts.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }.toSeq
    def seeds(words: Seq[(String, Long)]): Seq[(String, Long)] = {
      def grams(n: Int): Seq[(String, Long)] = words.flatMap { case (w, f) =>
        syms(w).sliding(n).filter(_.length == n).map(_.mkString -> f)
      }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }.toSeq
      grams(1) ++ grams(2).sorted(byCount).take(TextAnalysis.UnigramSeedNgrams) ++
        grams(3).sorted(byCount).take(TextAnalysis.UnigramSeedNgrams)
    }
    /** ilnq(max(s,1)) − ilnq(Σ max(s,1)). */
    def lp(scores: Seq[(String, Long)]): Map[String, Long] = {
      val t = scores.map(s => math.max(s._2, 1L)).sum
      scores.map { case (p, s) =>
        p -> (TextAnalysis.ilnqRef(math.max(s, 1L)) - TextAnalysis.ilnqRef(t)) }.toMap
    }
    def segment(lp: Map[String, Long], w: String): Seq[String] = {
      val s = syms(w)
      val L = s.length
      val dp = Array.fill(L + 1)(TextAnalysis.UnigramNeg); dp(0) = 0L
      val bl = Array.fill(L + 1)(1)
      for (i <- 1 to L) {
        var best = Long.MinValue; var blen = 1
        for (l <- 1 to 3 if i - l >= 0) {
          val c = dp(i - l) + lp.getOrElse(s.slice(i - l, i).mkString, TextAnalysis.UnigramNeg)
          if (c > best || (c == best && l > blen)) { best = c; blen = l }
        }
        dp(i) = best; bl(i) = blen
      }
      var i = L
      val out = Seq.newBuilder[String]
      while (i > 0) { out += s.slice(i - bl(i), i).mkString; i -= bl(i) }
      out.result()
    }
    def eCounts(words: Seq[(String, Long)], lp: Map[String, Long]): Map[String, Long] =
      words.flatMap { case (w, f) => segment(lp, w).map(_ -> f) }
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    /** Every char of `inv` plus its top-k used multi-char pieces, scored by use. */
    def keep(inv: Seq[(String, Long)], e: Map[String, Long], k: Int): Seq[(String, Long)] = {
      val se = inv.map { case (p, _) => p -> e.getOrElse(p, 0L) }
      se.filter(x => len(x._1) == 1) ++
        se.filter(x => len(x._1) > 1 && x._2 > 0).sorted(byCount).take(k)
    }
    /** text_unigram_em's rows: (piece, len, seed count, e-count, lp_micro). */
    def em(texts: Seq[String]): Seq[(String, Long, Long, Long, Long)] = {
      val ws = words(texts)
      val s = seeds(ws)
      val e = eCounts(ws, lp(s))
      val lpE = lp(e.toSeq)
      val seedCount = s.toMap
      e.toSeq.sorted(byCount).map { case (p, n) => (p, len(p), seedCount(p), n, lpE(p)) }
    }
  }

  private def rows5(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq

  // aperiodic deterministic filler so chars stay competitive beside the
  // planted repeats
  private def filler(seed: Int, n: Int): String =
    (0 until n).map(i => ('a' + ((i * i * 31 + seed * 7 + i) % 26)).toChar).mkString

  test("text_unigram_em: EM step matches the plain-Scala reference, planted corpus") {
    import spark.implicits._
    // repetitive structure so multi-char pieces WIN segmentations, plus
    // aperiodic filler so chars stay competitive elsewhere
    val corpus = Seq(
      "abcabcabc ababab " + filler(21, 40),
      "abcabc xyxyxyxy " + filler(22, 35),
      "abcabcabcabc zzzz zzzz " + filler(23, 30),
      filler(24, 50) + " ababab xyxy")
    val got = rows5(TextAnalysis.unigramEmOver(corpus.toDF("text")))
    val want = refUnigram.em(corpus)
    assert(got == want, s"EM divergence:\n got=${got.take(8)}...\nwant=${want.take(8)}...")
    // the repetitive plants must actually segment into multi-char pieces
    val byPiece = got.map(x => x._1 -> x._4).toMap
    assert(byPiece.contains("abc") && byPiece("abc") >= 7L,
      s"'abc' must be a winning trigram piece: ${got.filter(_._1.length == 3).take(5)}")
    assert(got.exists(_._2 == 2L), "some bigram piece must be used")
  }

  test("text_unigram_em: full-corpus parity with the plain-Scala reference, sf0.001") {
    val texts = graft.Tables.documents(spark, Sf).select("text")
      .collect().map(_.getString(0)).toSeq
    val got = rows5(TextAnalysis.unigramEm(spark, Sf))
    val want = refUnigram.em(texts)
    assert(got == want,
      s"sf0.001 EM divergence: first diff ${got.zip(want).find(x => x._1 != x._2)}")
  }

  test("text_unigram_em property: == plain-Scala reference on 12 random corpora") {
    import spark.implicits._
    // seeded random corpora over a tiny alphabet maximize piece-score
    // collisions (the tie-rule stressor) and run-heavy words (the
    // overlap stressor)
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed * 7919)
      val alphabet = "abcd"
      def word(): String =
        (0 until (1 + rnd.nextInt(11))).map(_ => alphabet(rnd.nextInt(4))).mkString
      val vocabWords = (0 until (4 + rnd.nextInt(8))).map(_ => word())
      val corpus = (0 until (6 + rnd.nextInt(10)))
        .map(_ => (0 until (1 + rnd.nextInt(5)))
          .map(_ => vocabWords(rnd.nextInt(vocabWords.size))).mkString(" "))
      val got = rows5(TextAnalysis.unigramEmOver(corpus.toDF("text")))
      val want = refUnigram.em(corpus)
      assert(got == want,
        s"seed $seed divergence: first diff ${got.zip(want).find(x => x._1 != x._2)}" +
          s" (sizes ${got.size}/${want.size})\ncorpus=$corpus")
    }
  }

  test("text_unigram_apply: per-source compression matches the plain-Scala reference") {
    import spark.implicits._
    val rows = Seq(
      ("web", "abcabcabc ababab " + filler(31, 40)),
      ("web", "abcabc xyxyxyxy " + filler(32, 35)),
      ("book", "abcabcabcabc zzzz zzzz " + filler(33, 30)),
      ("book", filler(34, 50) + " ababab xyxy"),
      ("code", filler(35, 44) + " abcabc"))
    val got = rows5(TextAnalysis.unigramApplyOver(rows.toDF("source", "text")))
    // reference: the em model, Viterbi piece COUNT per word, agg by source
    val srcCounts = rows.flatMap { case (src, t) => t.split(" ").filter(_.nonEmpty).map(src -> _) }
      .groupBy(identity).map { case ((src, w), xs) => (src, w, xs.size.toLong) }.toSeq
    val words = refUnigram.words(rows.map(_._2))
    val lp = refUnigram.lp(refUnigram.seeds(words))
    val np = words.map { case (w, _) => w -> refUnigram.segment(lp, w).size.toLong }.toMap
    val want = srcCounts.groupBy(_._1).map { case (src, xs) =>
      val toks = xs.map(_._3).sum
      val chars = xs.map { case (_, w, f) => refUnigram.len(w) * f }.sum
      val pieces = xs.map { case (_, w, f) => np(w) * f }.sum
      (src, toks, chars, pieces, pieces * 10000 / chars)
    }.toSeq.sortBy(_._1)
    assert(got == want, s"apply divergence:\n got=$got\nwant=$want")
    // the repetitive plants compress: every source ends below 10000 bp
    assert(got.forall(_._5 < 10000L), s"compression must bite: $got")
  }

  test("text_unigram_prune: keepN=1 forces redistribution, matching plain Scala") {
    import spark.implicits._
    // round 1 uses both 'abc' and 'xy' heavily; keepN=1 keeps only the
    // top multi-char piece, so the other's mass must redistribute to
    // chars/survivors in round 2
    val corpus = Seq(
      "abcabcabc xyxyxyxy " + filler(41, 30),
      "abcabc xyxy " + filler(42, 25),
      "abcabcabcabc xyxyxy " + filler(43, 20))
    val got = rows5(TextAnalysis.unigramPruneOver(corpus.toDF("text"), keepN = 1))
    val words = refUnigram.words(corpus)
    val seeds = refUnigram.seeds(words)
    val kept = refUnigram.keep(seeds, refUnigram.eCounts(words, refUnigram.lp(seeds)), 1)
    val lp2 = refUnigram.lp(kept)
    val e2 = refUnigram.eCounts(words, lp2)
    val keptE = kept.toMap
    val want = e2.toSeq.filter { case (p0, _) => keptE.contains(p0) }
      .sorted(refUnigram.byCount)
      .map { case (p0, e) => (p0, refUnigram.len(p0), keptE(p0), e, lp2(p0)) }
    assert(got == want, s"prune divergence:\n got=${got.take(8)}\nwant=${want.take(8)}")
    // pruning actually bit: exactly one multi-char survivor, and the cut
    // piece's mass reappears as extra char/survivor uses
    val multiGot = got.filter(_._2 > 1)
    assert(multiGot.size == 1, s"keepN=1 must keep one multi-char piece: $multiGot")
    assert(got.exists(r => r._2 == 1 && r._4 > r._3),
      s"cut mass must redistribute to single chars: $got")
  }

  test("text_unigram_curve: bit-exact vs the plain-Scala EM+prune fold") {
    import spark.implicits._
    for ((corpus, ci) <- Seq(
      Seq("abcab cabca bcabc", "the cat sat on the mat", "abcab the the",
        "zqzqzq zq zq", "cat cat cabca"),
      Seq("aaaa bbbb aaaa", "ab ab ab ba", "a b ab ba abab")).zipWithIndex) {
      val got = TextAnalysis.unigramCurveOver(corpus.toDF("text")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
      val words = refUnigram.words(corpus)
      val chars = words.map { case (w, f) => refUnigram.len(w) * f }.sum
      var inv = refUnigram.seeds(words)
      val want = (1 to TextAnalysis.UnigramCurveRounds).map { k =>
        val e = refUnigram.eCounts(words, refUnigram.lp(inv))
        val before = inv.size.toLong
        inv = refUnigram.keep(inv, e, TextAnalysis.unigramCurveKeepN(k))
        (k.toLong, before, inv.size.toLong, e.values.sum, e.values.sum * 10000L / chars)
      }
      assert(got == want, s"corpus $ci curve divergence:\n got=$got\nwant=$want")
      // the shrink schedule really shrinks: vocab never grows
      assert(got.map(_._3).zip(got.map(_._2)).forall { case (a, b) => a <= b })
    }
  }

  test("ilnqRef is monotone and within ln(1 + 1/256)·10⁶ below ln(x)·10⁶") {
    // floor(x·256 >> b) drops less than one 256th of the octave; the table
    // and ln 2 roundings add under 12 micro units over the whole domain
    val xs = (1L to 200000L) ++
      (1 to 55).flatMap(b => Seq((1L << b) - 1, 1L << b, (1L << b) + 1)) :+ ((1L << 56) - 1)
    val bad = xs.filter { x =>
      val err = math.log(x.toDouble) * 1e6 - TextAnalysis.ilnqRef(x)
      err < -12 || err > 3906 + 12
    }
    assert(bad.isEmpty, bad.take(5).toString)
    assert(xs.sorted.map(TextAnalysis.ilnqRef).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("text_unigram_em and apply: a supplementary character stays one symbol") {
    import spark.implicits._
    // U+1D49C is one code point and two UTF-16 units: Java substring would
    // cut the pair, Spark's and DuckDB's length/substr never do. DuckDB's
    // oracle SQL returns the same rows over the same text
    val script = "𝒜"
    val docs = Seq(("s", s"${script}bc ${script}bc ${script}bcd"), ("t", s"b${script}bc bc"))
      .toDF("source", "text")
    val em = rows5(TextAnalysis.unigramEmOver(docs.select($"text")))
    assert(em == Seq((s"${script}bc", 3L, 4L, 3L, -847298L), ("b", 1L, 6L, 1L, -1945910L),
      ("bc", 2L, 5L, 1L, -1945910L), ("bcd", 3L, 1L, 1L, -1945910L),
      (script, 1L, 4L, 1L, -1945910L)), em.toString)
    val apply = rows5(TextAnalysis.unigramApplyOver(docs))
    assert(apply == Seq(("s", 3L, 10L, 4L, 4000L), ("t", 2L, 6L, 3L, 5000L)), apply.toString)
  }

  test("text_unigram_prune: keepN ties break on UTF-8 byte order, not UTF-16 order") {
    import spark.implicits._
    // "Ａx" and "𝒜x" tie on round-1 usage; keepN = 1 keeps the one that
    // sorts first by UTF-8 bytes (U+FF21 = EF BC A1 before U+1D49C = F0 9D
    // 92 9C), as Spark's orderBy and DuckDB do; String.compareTo would keep
    // the surrogate pair (D835 DC9C). DuckDB's oracle SQL with LIMIT 1
    // returns the same rows
    val (fw, script) = ("Ａ", "𝒜")
    val got = rows5(TextAnalysis.unigramPruneOver(Seq(s"${fw}x ${script}x").toDF("text"),
      keepN = 1))
    assert(got == Seq(("x", 1L, 0L, 1L, -1386294L), (s"${fw}x", 2L, 1L, 1L, -1386294L),
      (script, 1L, 0L, 1L, -1386294L)), got.toString)
  }

  /** Build jobs (jobs run while the DataFrame is constructed) of one
    * SparkEntry row, read by job group. */
  private def buildJobs(row: String): Int = {
    val sc = spark.sparkContext
    val group = s"build-$row-${System.nanoTime}"
    sc.setJobGroup(group, row)
    try SparkEntry.queries(row)(spark, Sf) finally sc.clearJobGroup()
    // the status store learns of jobs from the listener bus, in order: once
    // it has seen a later job, it has seen every build job
    val barrier = s"$group-barrier"
    sc.setJobGroup(barrier, "barrier")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime + 30L * 1000000000L
    while (sc.statusTracker.getJobIdsForGroup(barrier).isEmpty && System.nanoTime < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(barrier).nonEmpty, "status store stalled")
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("tokenizer rows run at most 6 build jobs each") {
    // the driver-side trainers collect the vocabulary once: a per-step
    // Spark loop would add jobs per merge or EM round
    val rows = Seq("text_bpe_step", "text_bpe_train", "text_bpe_apply", "text_bpe_curve",
      "text_wordpiece_train", "text_wordpiece_apply", "text_wordpiece_curve",
      "text_unigram_em", "text_unigram_prune", "text_unigram_curve", "text_unigram_apply")
    val jobs = rows.map(r => r -> buildJobs(r))
    assert(jobs.forall(_._2 <= 6), jobs.mkString(", "))
  }
}
