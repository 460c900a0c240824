package graft.operators

import graft.Tables
import graft.functions.Kernels._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** Text-analysis operators for the training-data pipeline: quality scoring,
  * token counting, language ID, fingerprinting, corpus stats.
  *
  * Everything is a pure column expression (codegen'd, partial-agg friendly);
  * at 100 TB these run as a single map pass over the corpus with no shuffle
  * except the final stats aggregations.
  */
object TextAnalysis {

  private val Stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "on", "for", "with")

  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "und", "die", "ist", "ein"),
    "fr" -> Seq("le", "et", "les", "des", "un"),
    "es" -> Seq("el", "los", "las", "y", "una"))

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  private def sqlCountIn(words: Seq[String]): String =
    s"len(list_filter(string_split(text, ' '), t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** Per-doc quality metrics + composite score.
    *
    * Computed over exploded tokens with a per-doc hash-aggregate (count /
    * count-if / sum are codegen'd with map-side combine) instead of
    * per-row array-lambda filters, which evaluate interpreted — the same
    * explode-then-aggregate shape every other corpus operator uses, and the
    * one that scales: shuffle volume is |docs|, not |tokens|. */
  def quality(spark: SparkSession, d: String): DataFrame = {
    // Doc-level char metrics in their own branch: if they ride through the
    // Generate, Catalyst re-projects them above it and the regex runs once
    // per TOKEN row instead of once per doc (measured 8.5s vs 1.5s at sf0.1).
    val chars = Tables.documents(spark, d)
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        length(translate(col("text"), " ", "")).as("n_nospace"),
        length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).as("n_punct"))
    val tokAgg = Tables.documents(spark, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"),
        sum(when(col("t").isInCollection(Stopwords), 1L).otherwise(0L)).as("nstop"))
    val agg = tokAgg.join(chars, "doc_id")
    val nWords = col("nw").cast("int")
    val stopRatio = col("nstop").cast("double") / col("nw")
    val punctRatio = col("n_punct").cast("double") / col("n_chars")
    // The composite score is computed in EXACT integer arithmetic (milli
    // units, common denominator nw·n_chars) rather than a double sum: the
    // weighted-sum-of-rationals frequently lands exactly on round()'s .xxx5
    // boundaries, where a 1-ulp engine difference flips the digit. Integer
    // div is bit-identical everywhere.
    //   score = 0.4·min(nw,100)/100 + 0.3·(1−nstop/nw) + 0.3·(1−np/nc)
    val scoreNum = lit(4L) * least(col("nw"), lit(100L)) * col("nw") * col("n_chars") +
      lit(300L) * (col("nw") - col("nstop")) * col("n_chars") +
      lit(300L) * (col("n_chars") - col("n_punct")) * col("nw")
    // integer division via exact-multiple subtraction: num − (num mod den)
    // is an exact multiple of den, so the double division is exact too
    val den = col("nw") * col("n_chars")
    val scoreMilli = (scoreNum - pmod(scoreNum, den)) / den
    agg.select(
      col("doc_id"),
      nWords.as("n_words"),
      round(col("n_nospace").cast("double") / col("nw"), 4).as("avg_word_len"),
      round(stopRatio, 4).as("stopword_ratio"),
      round(punctRatio, 4).as("punct_ratio"),
      scoreMilli.cast("long").as("score_milli"))
      .orderBy(col("doc_id"))
  }

  val qualityOracle: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    cast(len(string_split(text, ' ')) AS bigint) AS nw,
       |    cast(${sqlCountIn(Stopwords)} AS bigint) AS nstop,
       |    cast(length(text) AS bigint) AS nc,
       |    cast(length(replace(text, ' ', '')) AS bigint) AS nns,
       |    cast(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS bigint) AS np
       |  FROM documents)
       |SELECT doc_id,
       |  cast(nw AS int) AS n_words,
       |  round(cast(nns AS double) / nw, 4) AS avg_word_len,
       |  round(cast(nstop AS double) / nw, 4) AS stopword_ratio,
       |  round(cast(np AS double) / nc, 4) AS punct_ratio,
       |  (4 * least(nw, 100) * nw * nc + 300 * (nw - nstop) * nc
       |    + 300 * (nc - np) * nw) // (nw * nc) AS score_milli
       |FROM m ORDER BY doc_id""".stripMargin

  /** Token counting: whitespace tokens + BPE-ish regex tokens. */
  def tokenCounts(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d).select(
      col("doc_id"),
      size(tokens(col("text"))).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("re_tokens"))
      .orderBy(col("doc_id"))

  val tokenCountsOracle: String =
    """SELECT doc_id,
      |  cast(len(string_split(text, ' ')) AS int) AS ws_tokens,
      |  cast(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS int) AS re_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Marker-word language ID: per-language hit counts + argmax with a fixed
    * tie order (en > de > fr > es > unknown). */
  def langId(spark: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val scores = LangMarkers.map { case (l, ws) => l -> countIn(toks, ws) }
    val Seq(en, de, fr, es) = scores.map(_._2)
    Tables.documentsSpread(spark, d).select(
      (Seq(col("doc_id")) ++ scores.map { case (l, c) => c.as(s"s_$l") } :+
        when(en >= de && en >= fr && en >= es && en > 0, "en")
          .when(de >= fr && de >= es && de > 0, "de")
          .when(fr >= es && fr > 0, "fr")
          .when(es > 0, "es")
          .otherwise("unknown").as("predicted")): _*)
      .orderBy(col("doc_id"))
  }

  val langIdOracle: String = {
    val exprs = LangMarkers.map { case (l, ws) => s"cast(${sqlCountIn(ws)} AS int) AS s_$l" }
    s"""WITH sc AS (
       |  SELECT doc_id, ${exprs.mkString(",\n    ")}
       |  FROM documents)
       |SELECT doc_id, s_en, s_de, s_fr, s_es,
       |  CASE
       |    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
       |    WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
       |    WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
       |    WHEN s_es > 0 THEN 'es'
       |    ELSE 'unknown' END AS predicted
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Language-ID confusion matrix against the table's ground-truth `lang`
    * column — the eval that closes the langid loop (the [[langId]]
    * heuristic is only as useful as its measured accuracy; a deployment
    * publishes this matrix beside the classifier). Composes [[langId]] with
    * one broadcast-size group-count; a diagonal cell is a correct call,
    * off-diagonal cells show which languages the marker heuristic
    * confuses. On the synthetic corpus the matrix is all off-diagonal
    * (every lang label carries English-like tokens, so the heuristic
    * collapses to en/unknown) — which is the point: the eval SURFACES that
    * the classifier cannot separate this corpus, rather than letting the
    * per-doc predictions pass unexamined. */
  def langIdEval(spark: SparkSession, d: String): DataFrame =
    langId(spark, d).select(col("doc_id"), col("predicted"))
      .join(Tables.documents(spark, d).select(col("doc_id"), col("lang")), "doc_id")
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("predicted"))

  val langIdEvalOracle: String =
    s"""WITH pred AS (SELECT doc_id, predicted FROM ($langIdOracle) p)
       |SELECT lang, predicted, count(*) AS n_docs
       |FROM pred JOIN documents USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Document fingerprints: md5 of normalized text, 60-bit md5-prefix
    * digest, and the native codegen'd polynomial rolling hash
    * ([[graft.functions.RollingHash]]). */
  def fingerprint(spark: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    Tables.documents(spark, d).select(
      col("doc_id"),
      md5(norm).as("md5_fp"),
      hash60(norm).as("fp60"),
      call_function(graft.functions.GraftFunctions.RollingHashName, norm).as("fp_roll"))
      .orderBy(col("doc_id"))
  }

  val fingerprintOracle: String = {
    val norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    s"""SELECT doc_id, md5($norm) AS md5_fp, ${sqlHash60(norm)} AS fp60,
       | list_reduce(list_prepend(cast(0 AS bigint),
       |   list_transform(range(1, len($norm)+1),
       |     i -> cast(ord(substr($norm, cast(i AS int), 1)) AS bigint))),
       |   (a, c) -> (a * 131 + c) % 2147483647) AS fp_roll
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Winnowing fingerprint selection (`text_winnowing`) — the MOSS
    * algorithm: hash every k-gram (k=8 chars) of the normalized text,
    * then keep the MINIMUM hash of each sliding window of w=4 — the
    * canonical fingerprint set that guarantees any shared substring of
    * length ≥ k+w−1 produces a shared fingerprint, at ~2/(w+1) of the
    * gram density. Emits per-doc fingerprint accounting (count + sum as
    * the set's integer digest). All array-local higher-order expressions
    * over the shared md5 `hash31` — one map pass, no explode, no
    * shuffle; the per-gram md5 is the codegen'd built-in, not a Scala
    * lambda over characters. */
  /** k-gram hash array of a normalized text column — winnowing stage 1.
    * REFERENCE/SPEC form: used by the guarantee spec on toy docs. The
    * corpus operators run the distributed explode+window formulation
    * instead — an array lambda that references the gram array once gets
    * CollapseProject-inlined and recomputes the whole array per window
    * (O(n²k) per doc). */
  private[graft] def kgramHashes(t: Column, k: Int): Column =
    when(length(t) >= k,
      transform(sequence(lit(1L), length(t).cast("long") - (k - 1)),
        i => hash31(t.substr(i.cast("int"), lit(k)))))
      .otherwise(array().cast("array<bigint>"))

  /** Distinct window-min fingerprints over a k-gram hash array — winnowing
    * stage 2 (exposed for the guarantee spec). */
  private[graft] def winnowFps(kh: Column, w: Int): Column =
    when(size(kh) >= w,
      array_distinct(transform(sequence(lit(1), size(kh) - (w - 1)),
        i => array_min(slice(kh, i, lit(w))))))
      .otherwise(array().cast("array<bigint>"))

  def winnowing(spark: SparkSession, d: String, k: Int = 8, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val base = Tables.documentsSpread(spark, d).select(col("doc_id"), norm.as("t"))
    // distributed form (see [[kgramHashes]]): explode gram positions, hash
    // in a codegen'd Project, sliding min via a per-doc SQL window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    val grams = base.filter(length(col("t")) >= k)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1L), length(col("t")).cast("long") - (k - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        hash31(col("t").substr(col("pos").cast("int"), lit(k))).as("h"))
    val gcount = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val fstats = grams
      .withColumn("m", min(col("h")).over(byDoc))
      .withColumn("wn", count(lit(1)).over(byDoc))
      .filter(col("wn") === w)
      .select(col("doc_id"), col("m")).distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fingerprints"), sum(col("m")).as("fp_sum"))
    // shuffle_hash: both per-doc aggregate sides are corpus-cardinality —
    // the no-corpus-broadcast family rule (see Dedup.jaccardConfirm)
    base.select(col("doc_id"))
      .join(gcount.hint("shuffle_hash"), Seq("doc_id"), "left")
      .join(fstats.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_fingerprints"), lit(0L)).as("n_fingerprints"),
        coalesce(col("fp_sum"), lit(0L)).as("fp_sum"))
      .orderBy(col("doc_id"))
  }

  val winnowingOracle: String = {
    val h = sqlHash31("substr(t, cast(i AS int), 8)")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
       |  FROM documents),
       |g AS (
       |  SELECT doc_id,
       |    CASE WHEN length(t) >= 8
       |      THEN [$h for i in range(1, length(t) - 6)]
       |      ELSE [] END AS kh
       |  FROM d),
       |f AS (
       |  SELECT doc_id, kh,
       |    CASE WHEN len(kh) >= 4
       |      THEN list_distinct([list_min(kh[i:i+3]) for i in range(1, len(kh) - 2)])
       |      ELSE [] END AS fps
       |  FROM g)
       |SELECT doc_id,
       |  cast(len(kh) AS bigint) AS n_grams,
       |  cast(len(fps) AS bigint) AS n_fingerprints,
       |  cast(coalesce(list_sum(fps), 0) AS bigint) AS fp_sum
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** Corpus vocabulary: top-k tokens by occurrence (tf + document
    * frequency) — the inverted-index / BPE-vocabulary precursor. Partial
    * aggregation bounds the shuffle by |vocabulary|, not corpus size. */
  def topTerms(spark: SparkSession, d: String, k: Int = 50): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)

  val topTermsOracle: String =
    """SELECT t AS token, count(*) AS n_occurrences,
      | count(DISTINCT doc_id) AS n_docs
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      |GROUP BY 1 ORDER BY n_occurrences DESC, token LIMIT 50""".stripMargin

  /** TF-IDF: top-5 terms per doc by tf·ln(N/df). ONE pass over the exploded
    * token stream: tf per (doc, term), then df derived from tf itself
    * (tf rows are already distinct doc×term, so df(term) = count of tf
    * rows) — the corpus is exploded and shuffled once, not twice. The
    * term-df side is the full VOCABULARY (Heaps-law-unbounded), so it joins
    * shuffled, token-co-partitioned with tf; idf is a generic real so
    * round(…,6) compares safely. */
  def tfidf(spark: SparkSession, d: String, k: Int = 5): DataFrame = {
    val docs = Tables.documentsSpread(spark, d)
    // doc_id is the table key: a plain count (partial-agg, no by-key
    // shuffle) equals the oracle's count(DISTINCT doc_id)
    val nDocs = docs.groupBy().agg(count(lit(1)).as("n"))
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // the token→df map is the full VOCABULARY — Heaps-law-unbounded, so it
    // shuffles (the no-corpus-broadcast rule); only the 1-row nDocs rides
    // a broadcast
    val scored = tf.join(df.hint("shuffle_hash"), "token").join(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") * log(col("n").cast("double") / col("df")), 6))
    scored.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("token"))))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("tfidf"),
        col("rank").cast("int").as("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val tfidfOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT token, count(*) AS df
      |       FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, tf.token, tf,
      |    round(tf * ln(cast(n AS double) / df), 6) AS tfidf
      |  FROM tf JOIN df ON tf.token = df.token, n),
      |r AS (SELECT *, cast(row_number() OVER (PARTITION BY doc_id
      |    ORDER BY tfidf DESC, token) AS int) AS rank FROM scored)
      |SELECT doc_id, token, tf, tfidf, rank FROM r
      |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin

  /** BM25 ranked retrieval for a fixed query term set — the inverted-index
    * scoring step of a retrieval pipeline (Robertson idf with the +1 floor,
    * k1 = 1.2, b = 0.75). One corpus pass: tokens filter to the query terms
    * BEFORE any shuffle (per-doc tf groups are ≤ |terms| rows), df derives
    * from the tf rows, and N/avgdl ride a broadcast 1-row aggregate. The
    * global top-k is orderBy+limit — planned as TakeOrderedAndProject
    * (per-partition bounded heaps), never a single-reducer window. Scoring
    * arithmetic is written with the same association order as the oracle so
    * round-6 scores match bit-for-bit. */
  def bm25(spark: SparkSession, d: String,
      terms: Seq[String] = Seq("hash", "join", "vector"), k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val wl = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"), size(col("t")).cast("long").as("dl"))
    val stats = wl.groupBy().agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tf = wl.select(col("doc_id"), col("dl"), explode(col("t")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), "token").join(broadcast(stats))
      .withColumn("w",
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), round(sum(col("w")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  val bm25Oracle: String =
    """WITH wl AS (
      |  SELECT doc_id, t, cast(len(t) AS bigint) AS dl
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
      |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM wl),
      |tf AS (
      |  SELECT doc_id, dl, token, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(t) AS token FROM wl)
      |  WHERE token IN ('hash', 'join', 'vector')
      |  GROUP BY 1, 2, 3),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT doc_id,
      |    ln((n - df + 0.5) / (df + 0.5) + 1.0) *
      |      (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS w
      |  FROM tf JOIN df USING (token), stats)
      |SELECT doc_id, count(*) AS n_hits, round(sum(w), 6) AS score
      |FROM scored GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  /** Corpus stats per source: volume, language spread, exact-dup rate. */
  def bySource(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(md5(col("text"))).as("n_unique"))
      .orderBy(col("source"))

  val bySourceOracle: String =
    """SELECT source, count(*) AS n_docs,
      |  cast(sum(length(text)) AS bigint) AS total_chars,
      |  count(DISTINCT lang) AS n_langs,
      |  count(DISTINCT md5(text)) AS n_unique
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** Collocation extraction: pointwise mutual information for every bigram
    * seen ≥ minCount times — PMI = ln(p(xy) / (p(x)·p(y))), the standard
    * phrase-mining signal (high-PMI pairs are multiword units a tokenizer
    * or phrase table should keep together). Bigrams come from one
    * `slice`+`arrays_zip` pass per doc (no window, no self-join); unigram
    * and bigram counts are map-side partial aggregations, and the unigram
    * frequency table broadcasts twice (w1, w2) — |vocabulary| rows, the
    * only data that moves besides the bigram groups themselves. The PMI
    * argument is computed as one fixed multiplication/division sequence of
    * count-valued doubles, so both engines produce the identical IEEE
    * value; ln-then-round-4 follows the [[Pipeline.unigramLogProb]]
    * convention. */
  def pmiBigrams(spark: SparkSession, d: String, minCount: Int = 5): DataFrame = {
    val toks = Tables.documents(spark, d).select(tokens(col("text")).as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
    // totals derive from the count tables (Σc ≡ the stream count), so the
    // token/bigram streams are each read ONCE — the unpinned form replayed
    // the corpus tokenization per consumer (r15); uf is read twice (total +
    // join side), pinned at |vocab| rows
    val uf = uni.groupBy(col("w")).agg(count(lit(1)).as("c")).localCheckpoint()
    val utot = uf.groupBy().agg(sum(col("c")).as("nu"))
    val bg = toks.filter(size(col("t")) >= 2)
      .select(explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1))).as("p"))
      .select(col("p.0").as("w1"), col("p.1").as("w2"))
    val bf = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .localCheckpoint()
    val btot = bf.groupBy().agg(sum(col("c_xy")).as("nb"))
    // unigram-frequency sides are the full vocabulary — shuffled, never
    // broadcast; the two 1-row totals stay broadcasts
    bf.filter(col("c_xy") >= minCount)
      .join(uf.select(col("w").as("w1"), col("c").as("c1")).hint("shuffle_hash"), "w1")
      .join(uf.select(col("w").as("w2"), col("c").as("c2")).hint("shuffle_hash"), "w2")
      .join(broadcast(utot)).join(broadcast(btot))
      .select(col("w1"), col("w2"), col("c_xy"),
        // + 0.0 canonicalizes a rounded −0.0 to +0.0 (IEEE): DuckDB's round
        // keeps the sign of a tiny negative, Spark's drops it, and the
        // driver's stringified row sort would misalign on "-0.0" vs "0.0"
        (round(log((col("c_xy").cast("double") * col("nu") * col("nu")) /
          ((col("c1").cast("double") * col("c2")) * col("nb"))), 4) + lit(0.0)).as("pmi"))
      .orderBy(col("w1"), col("w2"))
  }

  val pmiBigramsOracle: String =
    """WITH t AS (SELECT string_split(text, ' ') AS a FROM documents),
      |uni AS (SELECT unnest(a) AS w FROM t),
      |utot AS (SELECT count(*) AS nu FROM uni),
      |uf AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
      |bg0 AS (SELECT a, unnest(range(1, len(a))) AS i FROM t WHERE len(a) >= 2),
      |bg AS (SELECT a[i] AS w1, a[i+1] AS w2 FROM bg0),
      |btot AS (SELECT count(*) AS nb FROM bg),
      |bf AS (SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY 1, 2)
      |SELECT w1, w2, c_xy,
      |  round(ln((cast(c_xy AS double) * nu * nu) /
      |    ((cast(u1.c AS double) * u2.c) * nb)), 4) + 0.0 AS pmi
      |FROM bf JOIN uf u1 ON bf.w1 = u1.w JOIN uf u2 ON bf.w2 = u2.w, utot, btot
      |WHERE c_xy >= 5 ORDER BY w1, w2""".stripMargin

  /** Bigram-LM quality score (`text_bigram_lm`): per-doc mean log
    * probability under an add-one-smoothed bigram model trained on the
    * corpus itself — the KenLM/CCNet perplexity proxy one tier above the
    * unigram score (`text_unigram_lp`): a doc of common words in an
    * UNCOMMON order now scores low. P(w2|w1) = (c(w1w2)+1)/(c(w1)+V).
    * Scale shape: the model is two count aggregates; scoring joins each
    * doc bigram to the bigram table (shuffle on the bigram key — high
    * cardinality, no skew) with the unigram table and V riding
    * broadcasts; ln of an integer ratio is bit-identical cross-engine
    * and the per-doc mean rounds at 4dp like the unigram row. */
  /** Per-doc bigram-LM scores with the language stratum carried — the
    * scoring stage shared by `text_bigram_lm` and the CCNet bucketing
    * (`docs_ccnet_buckets`). Same plan either way; lang rides the doc rows
    * for free. */
  private[operators] def bigramDocScores(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("t"))
    val uni = docs.select(explode(col("t")).as("w"))
    // pinned (r15): uf feeds the vocab total and the scoring join, bg feeds
    // the bigram model AND the scoring join — unpinned, each consumer
    // replayed the corpus tokenization (the ccnet/anneal rows compounded
    // this, scanning documents 24/96 times)
    val uf = uni.groupBy(col("w")).agg(count(lit(1)).as("c1")).localCheckpoint()
    val vocab = uf.groupBy().agg(count(lit(1)).as("v"))
    val bg = docs.filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("lang"), explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1))).as("p"))
      .select(col("doc_id"), col("lang"), col("p.0").as("w1"), col("p.1").as("w2"))
      .localCheckpoint()
    val bf = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
    bg.join(bf.hint("shuffle_hash"), Seq("w1", "w2"))
      .join(uf.select(col("w").as("w1"), col("c1")).hint("shuffle_hash"), "w1")
      .join(broadcast(vocab))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        (round(avg(log((col("c_xy") + 1).cast("double") / (col("c1") + col("v")))), 4)
          + lit(0.0)).as("avg_logprob"))
  }

  def bigramLm(spark: SparkSession, d: String): DataFrame =
    bigramDocScores(spark, d)
      .select(col("doc_id"), col("n_bigrams"), col("avg_logprob"))
      .orderBy(col("doc_id"))

  val bigramLmOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
      |uni AS (SELECT unnest(a) AS w FROM t),
      |uf AS (SELECT w, count(*) AS c1 FROM uni GROUP BY 1),
      |voc AS (SELECT count(*) AS v FROM uf),
      |bg0 AS (SELECT doc_id, a, unnest(range(1, len(a))) AS i FROM t WHERE len(a) >= 2),
      |bg AS (SELECT doc_id, a[i] AS w1, a[i+1] AS w2 FROM bg0),
      |bf AS (SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY 1, 2)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  round(avg(ln(cast(c_xy + 1 AS double) / (c1 + v))), 4) + 0.0 AS avg_logprob
      |FROM bg JOIN bf USING (w1, w2) JOIN uf ON bg.w1 = uf.w, voc
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Vocabulary-pruning coverage audit (`text_vocab_prune`): for each
    * min-frequency cutoff, how many terms survive and what fraction of
    * the token stream they cover — the audit that sizes a tokenizer
    * vocabulary / OOV budget before training. Pure aggregation (term
    * counts → threshold cross join → partial agg): NO global rank window,
    * so there is no single-reducer stage at any corpus size; totals ride
    * a broadcast back. All-integer outputs (basis points). */
  def vocabPrune(spark: SparkSession, d: String,
      thresholds: Seq[Int] = Seq(2, 10, 100)): DataFrame = {
    val uni = Tables.documents(spark, d)
      .select(explode(tokens(col("text"))).as("w"))
    // pinned (r15): uf feeds the totals and the threshold cross join —
    // unpinned, each replayed the corpus tokenization
    val uf = uni.groupBy(col("w")).agg(count(lit(1)).as("c")).localCheckpoint()
    val tot = uf.groupBy().agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_terms"))
    val thr = spark.range(thresholds.size)
      .select(element_at(array(thresholds.map(t => lit(t.toLong)): _*),
        col("id").cast("int") + 1).as("min_count"))
    uf.crossJoin(broadcast(thr))
      .groupBy(col("min_count"))
      .agg(sum(when(col("c") >= col("min_count"), 1L).otherwise(0L)).as("n_kept_terms"),
        sum(when(col("c") >= col("min_count"), col("c")).otherwise(0L)).as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("min_count"), col("n_kept_terms"), col("covered_tokens"),
        expr("covered_tokens * 10000 div n_tokens").as("coverage_bp"),
        expr("n_kept_terms * 10000 div n_terms").as("vocab_bp"))
      .orderBy(col("min_count"))
  }

  val vocabPruneOracle: String =
    """WITH uni AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |uf AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
      |tot AS (SELECT cast(sum(c) AS bigint) AS n_tokens,
      |               cast(count(*) AS bigint) AS n_terms FROM uf),
      |thr AS (SELECT cast(t AS bigint) AS min_count FROM (VALUES (2), (10), (100)) v(t))
      |SELECT min_count,
      |  cast(sum(CASE WHEN c >= min_count THEN 1 ELSE 0 END) AS bigint) AS n_kept_terms,
      |  cast(sum(CASE WHEN c >= min_count THEN c ELSE 0 END) AS bigint) AS covered_tokens,
      |  cast(sum(CASE WHEN c >= min_count THEN c ELSE 0 END) * 10000
      |    // min(n_tokens) AS bigint) AS coverage_bp,
      |  cast(sum(CASE WHEN c >= min_count THEN 1 ELSE 0 END) * 10000
      |    // min(n_terms) AS bigint) AS vocab_bp
      |FROM uf, thr, tot GROUP BY 1 ORDER BY 1""".stripMargin

  /** Duplicated-n-gram fraction (`text_dup_ngram_frac`) — the per-document
    * duplication measure of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better": for each doc, the share of its DISTINCT word
    * 3-grams that occur in at least one other document, bucketed to deciles
    * and aggregated per source. This is the corpus health metric the
    * near-dup pipeline publishes BEFORE choosing thresholds. Plan: distinct
    * (doc, gram) rows reduce to 60-bit digests, gram df is one partial agg
    * on the digest, the df joins back on the digest (high-cardinality
    * hash-partitioned key, no skew — df is per distinct gram, never per
    * occurrence), per-doc accounting is a second partial agg, and the
    * decile report is \|sources\|×11 rows at any corpus size. Fractions in
    * exact integer basis points. */
  def dupNgramFrac(spark: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("source"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 2)).as("i"))
      .select(col("doc_id"), col("source"),
        hash60(concat_ws(" ", element_at(col("t"), col("i")),
          element_at(col("t"), col("i") + 1),
          element_at(col("t"), col("i") + 2))).as("h"))
      .distinct()
    val df = sh.groupBy(col("h")).agg(count(lit(1)).as("gram_df"))
    // digest-keyed corpus-growing build — the exact r13 OOM class; never
    // broadcast (see Dedup.jaccardConfirm)
    val perDoc = sh.join(df.hint("shuffle_hash"), "h")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gram_df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("frac_bp", expr("n_dup * 10000 div n_grams"))
    perDoc
      .groupBy(col("source"), expr("frac_bp div 1000").as("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_dup")).as("dup_grams"),
        sum(col("n_grams")).as("total_grams"))
      .orderBy(col("source"), col("decile"))
  }

  val dupNgramFracOracle: String = {
    import graft.functions.Kernels.sqlHash60
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, source,
       |    ${sqlHash60("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")} AS h
       |  FROM (SELECT doc_id, source, t, unnest(generate_series(1, len(t)-2)) AS i
       |        FROM (SELECT doc_id, source, string_split(text, ' ') AS t
       |              FROM documents WHERE len(string_split(text, ' ')) >= 3))),
       |gdf AS (SELECT h, count(*) AS gram_df FROM sh GROUP BY 1),
       |pd AS (
       |  SELECT doc_id, source, count(*) AS n_grams,
       |    sum(CASE WHEN gram_df >= 2 THEN 1 ELSE 0 END) AS n_dup
       |  FROM sh JOIN gdf USING (h) GROUP BY 1, 2)
       |SELECT source, cast((n_dup * 10000 // n_grams) // 1000 AS bigint) AS decile,
       |  count(*) AS n_docs, cast(sum(n_dup) AS bigint) AS dup_grams,
       |  cast(sum(n_grams) AS bigint) AS total_grams
       |FROM pd GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** Boilerplate-phrase report (`text_top_phrases`) — the 20 most
    * duplicated word 3-grams corpus-wide with occurrence count and
    * document spread: the phrase-level view the dedup pipeline publishes
    * so a human can see WHAT the near-dup mass is (footers, disclaimers,
    * navigation). The aggregate groups on the 60-bit digest and carries
    * one representative string via min() (digest↔gram 1:1 up to md5
    * collisions — the family's standing digest-shuffle rule), so gram
    * TEXT never shuffles per occurrence; global top-20 plans as
    * TakeOrderedAndProject (distributed partial top-k, no single-reducer
    * sort). */
  def topPhrases(spark: SparkSession, d: String, k: Int = 20): DataFrame = {
    val sh = Tables.documents(spark, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - 2)).as("i"), col("t"))
      .select(col("doc_id"), concat_ws(" ", element_at(col("t"), col("i")),
        element_at(col("t"), col("i") + 1), element_at(col("t"), col("i") + 2)).as("s"))
    sh.groupBy(hash60(col("s")).as("h"))
      .agg(min(col("s")).as("phrase"),
        count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("h"))
      .limit(k)
      .select(col("phrase"), col("n_occurrences"), col("n_docs"))
  }

  val topPhrasesOracle: String = {
    import graft.functions.Kernels.sqlHash60
    s"""WITH sh AS (
       |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t)-2)) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |              WHERE len(string_split(text, ' ')) >= 3))),
       |g AS (
       |  SELECT ${sqlHash60("s")} AS h, min(s) AS phrase,
       |    count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
       |  FROM sh GROUP BY 1)
       |SELECT phrase, n_occurrences, n_docs
       |FROM g ORDER BY n_occurrences DESC, h LIMIT 20""".stripMargin
  }

  /** Type-token ratio audit (`text_ttr`) — per-source lexical diversity:
    * each doc's distinct/total token ratio in basis points, plus the
    * corpus-level ratio (which Heaps' law drives DOWN as sources grow —
    * the comparison between the two is the diversity signal). ALL integer:
    * per-doc ratios are exact basis points, the per-source mean is an
    * integer floor division, so there is no float anywhere. One explode +
    * two partial aggs. */
  def ttr(spark: SparkSession, d: String): DataFrame = {
    val perDoc = Tables.documentsSpread(spark, d)
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("source"))
      .agg(countDistinct(col("w")).as("n_types"), count(lit(1)).as("n_tokens"))
      .withColumn("ttr_bp", expr("n_types * 10000 div n_tokens"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_types")).as("sum_types"),
        sum(col("n_tokens")).as("sum_tokens"),
        expr("sum(ttr_bp) div count(1)").as("mean_doc_ttr_bp"))
      .withColumn("corpus_ttr_bp", expr("sum_types * 10000 div sum_tokens"))
      .orderBy(col("source"))
  }

  val ttrOracle: String =
    """WITH pd AS (
      |  SELECT doc_id, source, count(DISTINCT w) AS n_types, count(*) AS n_tokens
      |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY 1, 2)
      |SELECT source, count(*) AS n_docs,
      |  cast(sum(n_types) AS bigint) AS sum_types,
      |  cast(sum(n_tokens) AS bigint) AS sum_tokens,
      |  cast(sum(n_types * 10000 // n_tokens) // count(*) AS bigint) AS mean_doc_ttr_bp,
      |  cast(sum(n_types) * 10000 // sum(n_tokens) AS bigint) AS corpus_ttr_bp
      |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin

  /** N-gram novelty curve (`text_ngram_novelty`) — how much genuinely new
    * text each document contributes, the dataset-growth health check a
    * curation pipeline tracks as a corpus accretes: a doc's novelty is the
    * share of its distinct 3-grams whose FIRST occurrence (min doc_id over
    * the corpus order) is the doc itself. First-seen is one partial agg on
    * the 60-bit gram digest; the comparison joins back on the digest (per
    * distinct gram — no skew); the report aggregates per source. Integer
    * basis points; mean-of-doc-ratios by exact floor division. */
  def ngramNovelty(spark: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), size(col("t")) - 2)).as("i"), col("t"))
      .select(col("doc_id"), col("source"),
        hash60(concat_ws(" ", element_at(col("t"), col("i")),
          element_at(col("t"), col("i") + 1),
          element_at(col("t"), col("i") + 2))).as("h"))
      .distinct()
    val firstSeen = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    // digest-keyed corpus-growing build — never broadcast (see
    // Dedup.jaccardConfirm)
    sh.join(firstSeen.hint("shuffle_hash"), "h")
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_bp", expr("n_novel * 10000 div n_grams"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_novel")).as("novel_grams"),
        sum(col("n_grams")).as("total_grams"),
        expr("sum(novelty_bp) div count(1)").as("mean_novelty_bp"))
      .orderBy(col("source"))
  }

  val ngramNoveltyOracle: String = {
    import graft.functions.Kernels.sqlHash60
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, source,
       |    ${sqlHash60("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")} AS h
       |  FROM (SELECT doc_id, source, t, unnest(generate_series(1, len(t)-2)) AS i
       |        FROM (SELECT doc_id, source, string_split(text, ' ') AS t
       |              FROM documents WHERE len(string_split(text, ' ')) >= 3))),
       |fs AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY 1),
       |pd AS (
       |  SELECT doc_id, source, count(*) AS n_grams,
       |    sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS n_novel
       |  FROM sh JOIN fs USING (h) GROUP BY 1, 2)
       |SELECT source, count(*) AS n_docs,
       |  cast(sum(n_novel) AS bigint) AS novel_grams,
       |  cast(sum(n_grams) AS bigint) AS total_grams,
       |  cast(sum(n_novel * 10000 // n_grams) // count(*) AS bigint) AS mean_novelty_bp
       |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** ExactSubstr-style duplicated-passage audit (`text_substr_dup`) — the
    * character-level analogue of Lee et al.'s ExactSubstr dedup
    * ("Deduplicating Training Data Makes Language Models Better", §3.1):
    * EVERY 40-char window of every document (stride 1 — the same position
    * universe a suffix array indexes, so a shared passage is caught at
    * ANY alignment); a window whose digest appears in ≥2 DISTINCT
    * documents marks a shared passage (cross-document boilerplate the
    * word-3-gram view of [[dupNgramFrac]] underweights — long verbatim
    * spans). Per source: docs with ≥1 shared passage, the mean share of a
    * doc's windows that are shared (basis points, floor division), and
    * corpus totals.
    *
    * The suffix-array machinery of the paper is replaced by the engine's
    * native shape: \|chars\| window rows (exactly the paper's index size)
    * reduce to 60-bit digests immediately (raw 40-char strings never
    * shuffle), the doc-frequency pass is one distinct + partial agg on
    * the digest, and the join back runs per DISTINCT window digest —
    * never per occurrence, so a viral passage cannot hot-spot a
    * reducer. Output is \|sources\| rows at any corpus size. */
  def substrDup(spark: SparkSession, d: String): DataFrame =
    substrDupOn(Tables.documentsSpread(spark, d))

  /** The [[substrDup]] kernel over any (doc_id, source, text) relation —
    * public so the winnow-recall spec can plant passages. */
  def substrDupOn(docs: DataFrame): DataFrame = {
    // NOT pinned (r15 finding): materializing the position universe
    // (suffix-array-sized) blew the 8 GB local driver at sf1 — the two
    // consumers recompute the stride-1 pass instead, which the native
    // md5-prefix kernel made cheap; at real scale the index would be an
    // on-disk artifact, not executor storage.
    val win = docs
      .filter(length(col("text")) >= 40)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), length(col("text")) - 39)).as("i"),
        col("text"))
      .select(col("doc_id"), col("source"),
        hash60(expr("substring(text, i, 40)")).as("h"))
      .distinct()
    substrShareReport(win)
  }

  /** The shared-passage report over a (doc_id, source, h) window/
    * fingerprint relation: df ≥ 2 marks a cross-document passage; the
    * per-source rollup is the audit schema both the stride-1 and the
    * winnowed variants publish, so their numbers compare row-for-row.
    *
    * PRECONDITION: `win` must be distinct on (doc_id, h) with `source`
    * functionally determined by doc_id — the count window below equals
    * countDistinct(doc_id) per digest only under that contract (both
    * callers guarantee it via their .distinct() over doc-keyed rows). */
  private def substrShareReport(win: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `win` is distinct on (doc_id, h), so rows-per-digest IS the distinct
    // doc frequency: one count window partitioned by h replaces the
    // r14 distinct→df-aggregate→shuffle_hash-join chain — two corpus-sized
    // exchanges and a join build drop out of the plan (3 exchanges → 2),
    // and no corpus-derived frame can become a broadcast build side
    // because there is no join left at all
    val perDoc = win
      .withColumn("ndocs", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_shared") > 0, 1L).otherwise(0L)).as("docs_with_dup"),
        sum(col("n_shared")).as("shared_windows"),
        sum(col("n_windows")).as("total_windows"),
        expr("sum(n_shared * 10000 div n_windows) div count(1)").as("mean_shared_bp"))
      .orderBy(col("source"))
  }

  /** Winnowed ExactSubstr audit (`text_substr_dup_winnow`) — the 100 TB
    * path for [[substrDup]]'s stride-1 window universe: the SAME 40-char
    * position digests, winnowed by a width-`w` sliding minimum (the MOSS
    * kernel of `dedup_winnow_pairs`, here at WINDOW granularity) before
    * any distinct/df shuffle, so the fingerprint index — and every
    * downstream join — shrinks to ~2/(w+1) of the position universe
    * (≈22% at w=8) while the winnowing guarantee keeps recall: any
    * cross-document run ≥ 40+w−1 = 47 chars still shares a fingerprint
    * at SOME alignment (the spec pins planted-passage recall against the
    * stride-1 truth). The stride-1 row expansion (~40× characters) is the
    * exact variant's deliberate cost for calibration; this is the one you
    * run at scale. Same report schema, numbers over fingerprints instead
    * of all windows; docs shorter than 40+w−1 chars produce no full
    * winnow window and drop from the report (they cannot contain a
    * ≥47-char shared run). */
  def substrDupWinnow(spark: SparkSession, d: String, w: Int = 8): DataFrame =
    substrDupWinnowOn(Tables.documentsSpread(spark, d), w)

  def substrDupWinnowOn(docs: DataFrame, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, w - 1)
    val fps = docs
      .filter(length(col("text")) >= 40)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), length(col("text")) - 39)).as("i"),
        col("text"))
      .select(col("doc_id"), col("source"), col("i"),
        hash60(expr("substring(text, i, 40)")).as("h0"))
      .withColumn("m", min(col("h0")).over(byDoc))
      .withColumn("wn", count(lit(1)).over(byDoc))
      .filter(col("wn") === w)
      .select(col("doc_id"), col("source"), col("m").as("h"))
      .distinct()
    substrShareReport(fps)
  }

  val substrDupWinnowOracle: String = {
    import graft.functions.Kernels.sqlHash60
    val h = sqlHash60("substr(text, cast(i AS int), 40)")
    s"""WITH d AS (
       |  SELECT doc_id, source, text FROM documents WHERE len(text) >= 40),
       |g AS (
       |  SELECT doc_id, source,
       |    [$h for i in range(1, len(text) - 38)] AS kh
       |  FROM d),
       |f AS (
       |  SELECT doc_id, source,
       |    CASE WHEN len(kh) >= 8
       |      THEN list_distinct([list_min(kh[i:i+7]) for i in range(1, len(kh) - 6)])
       |      ELSE [] END AS fps
       |  FROM g),
       |win AS (SELECT doc_id, source, unnest(fps) AS h FROM f),
       |df AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM win GROUP BY 1),
       |pd AS (
       |  SELECT doc_id, source, count(*) AS n_windows,
       |    sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS n_shared
       |  FROM win JOIN df USING (h) GROUP BY 1, 2)
       |SELECT source, count(*) AS n_docs,
       |  cast(sum(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) AS bigint)
       |    AS docs_with_dup,
       |  cast(sum(n_shared) AS bigint) AS shared_windows,
       |  cast(sum(n_windows) AS bigint) AS total_windows,
       |  cast(sum(n_shared * 10000 // n_windows) // count(*) AS bigint)
       |    AS mean_shared_bp
       |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val substrDupOracle: String = {
    import graft.functions.Kernels.sqlHash60
    s"""WITH win AS (
       |  SELECT DISTINCT doc_id, source,
       |    ${sqlHash60("substr(text, i, 40)")} AS h
       |  FROM (SELECT doc_id, source, text,
       |          unnest(generate_series(1, len(text) - 39)) AS i
       |        FROM documents WHERE len(text) >= 40)),
       |df AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM win GROUP BY 1),
       |pd AS (
       |  SELECT doc_id, source, count(*) AS n_windows,
       |    sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS n_shared
       |  FROM win JOIN df USING (h) GROUP BY 1, 2)
       |SELECT source, count(*) AS n_docs,
       |  cast(sum(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) AS bigint)
       |    AS docs_with_dup,
       |  cast(sum(n_shared) AS bigint) AS shared_windows,
       |  cast(sum(n_windows) AS bigint) AS total_windows,
       |  cast(sum(n_shared * 10000 // n_windows) // count(*) AS bigint)
       |    AS mean_shared_bp
       |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** ExactSubstr APPLY (`text_substr_apply`) — the removal contract behind
    * [[substrDup]]'s audit: Lee et al.'s ExactSubstr dedup DELETES the
    * duplicated spans, so this is the decision operator — per affected
    * document, how many characters a span cut removes and what survives.
    * A character is duplicated iff some 40-char stride-1 window covering
    * it has a digest appearing in ≥2 DISTINCT documents (every occurrence
    * cut — the deduplicate-text-datasets convention, which drops all
    * copies of a cross-document passage rather than electing a keeper;
    * [[substrKeep]] is the keep-one variant with the global per-digest
    * anchor pass).
    *
    * The cut is an exact interval union computed relationally: shared
    * window positions sort per doc, and position i contributes
    * min(40, next_shared_i − i) chars (40 for the last) — a per-doc
    * `lead` window over SHARED positions only, never the full position
    * universe. Scale shape is [[substrDup]]'s: the stride-1 digest pass
    * is the paper's suffix-array index size, the df pass is one distinct
    * + partial agg, and everything after the shared-join is bounded by
    * \|shared positions\|. The passage-level twin of [[Dedup.lineDedupApply]]'s
    * contract (kept/cut accounting per affected doc); at 100 TB run the
    * [[substrApplyWinnow]] prefilter first so only candidate docs pay the
    * stride-1 pass. */
  def substrApply(spark: SparkSession, d: String): DataFrame =
    substrApplyOn(Tables.documentsSpread(spark, d))

  /** The [[substrApply]] kernel over any (doc_id, source, text) relation —
    * public so specs can plant cross-document passages at any alignment. */
  def substrApplyOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the corpus-sized position frame carries ONLY (doc_id, i, digest) —
    // doc metadata rejoins per AFFECTED doc after the aggregation, so the
    // two big shuffles (digest df, shared-position join) move 20 bytes/row
    val win = docs
      .filter(length(col("text")) >= 40)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - 39)).as("i"),
        col("text"))
      .select(col("doc_id"), col("i"),
        hash60(expr("substring(text, i, 40)")).as("h"))
    // digests shared across >= 2 distinct docs (the audit's df >= 2 rule)
    val sharedH = win.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2).select(col("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    // shuffle_hash, NEVER broadcast: sharedH grows with the corpus, and AQE
    // happily converts the SMJ to broadcast from compressed shuffle stats
    // (narrow long rows compress hard) — at sf1 the materialized
    // LongToUnsafeRowMap OOMs the heap on the keep variant's anchors join,
    // and at 100 TB any corpus-derived build side is hopeless. A shuffled
    // hash join keys the same exchange and its per-PARTITION build side
    // shrinks as the cluster grows.
    val perDoc = win.join(sharedH.hint("shuffle_hash"), "h")
      .withColumn("next_i", lead(col("i"), 1).over(byDoc))
      .withColumn("cut",
        least(lit(40L), coalesce((col("next_i") - col("i")).cast("long"), lit(40L))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_windows"), sum(col("cut")).as("chars_cut"))
    perDoc
      .join(docs.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("chars_total"))
        .hint("shuffle_hash"), "doc_id")
      .select(col("doc_id"), col("source"), col("n_shared_windows"),
        col("chars_total"), col("chars_cut"),
        (col("chars_total") - col("chars_cut")).as("chars_kept"),
        expr("(chars_total - chars_cut) * 10000 div chars_total").as("kept_bp"))
      .orderBy(col("doc_id"))
  }

  val substrApplyOracle: String = {
    import graft.functions.Kernels.sqlHash60
    s"""WITH w AS (
       |  SELECT doc_id, source, cast(len(text) AS bigint) AS chars_total, i,
       |    ${sqlHash60("substr(text, cast(i AS int), 40)")} AS h
       |  FROM (SELECT doc_id, source, text,
       |          unnest(generate_series(1, len(text) - 39)) AS i
       |        FROM documents WHERE len(text) >= 40)),
       |df AS (
       |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM w)
       |  GROUP BY h HAVING count(*) >= 2),
       |s AS (SELECT w.* FROM w JOIN df USING (h)),
       |c AS (
       |  SELECT doc_id, source, chars_total, i,
       |    least(40, coalesce(
       |      lead(i) OVER (PARTITION BY doc_id ORDER BY i) - i, 40)) AS cut
       |  FROM s)
       |SELECT doc_id, source, count(*) AS n_shared_windows, chars_total,
       |  cast(sum(cut) AS bigint) AS chars_cut,
       |  chars_total - cast(sum(cut) AS bigint) AS chars_kept,
       |  (chars_total - cast(sum(cut) AS bigint)) * 10000 // chars_total
       |    AS kept_bp
       |FROM c GROUP BY doc_id, source, chars_total
       |ORDER BY doc_id""".stripMargin
  }

  /** The 100 TB path for [[substrApply]]: the winnowed fingerprint index
    * ([[substrDupWinnow]]'s w-window minima, ~2/(w+1) of the position
    * universe) PREFILTERS candidate documents, and only those pay the
    * stride-1 exact cut. The winnowing guarantee bounds the recall loss
    * exactly: any cross-document run ≥ 40+w−1 chars shares a fingerprint,
    * so a doc whose duplicated passages are all ≥ 47 chars is always a
    * candidate; only docs whose ONLY shared material is a 40-46-char run
    * can be missed — and since window df is recomputed over the candidate
    * set, a candidate's overlap with such a missed doc is likewise
    * uncounted (both sides of the loss are bounded by the same <47-char
    * rule; the spec pins planted-passage equality with the exact form).
    * Same output contract as [[substrApply]]. */
  def substrApplyWinnow(spark: SparkSession, d: String, w: Int = 8): DataFrame =
    substrApplyWinnowOn(Tables.documentsSpread(spark, d), w)

  def substrApplyWinnowOn(docs: DataFrame, w: Int = 8): DataFrame =
    substrApplyOn(docs.join(winnowCandidates(docs, w).hint("shuffle_hash"),
      "doc_id"))

  val substrApplyWinnowOracle: String = {
    import graft.functions.Kernels.sqlHash60
    val h = sqlHash60("substr(text, cast(i AS int), 40)")
    s"""WITH d AS (
       |  SELECT doc_id, source, text FROM documents WHERE len(text) >= 40),
       |g AS (
       |  SELECT doc_id, [$h for i in range(1, len(text) - 38)] AS kh FROM d),
       |f AS (
       |  SELECT doc_id,
       |    CASE WHEN len(kh) >= 8
       |      THEN list_distinct([list_min(kh[i:i+7]) for i in range(1, len(kh) - 6)])
       |      ELSE [] END AS fps
       |  FROM g),
       |fp AS (SELECT doc_id, unnest(fps) AS h FROM f),
       |fdf AS (SELECT h FROM fp GROUP BY h HAVING count(*) >= 2),
       |cand AS (SELECT DISTINCT doc_id FROM fp JOIN fdf USING (h)),
       |w AS (
       |  SELECT doc_id, i, ${sqlHash60("substr(text, cast(i AS int), 40)")} AS h
       |  FROM (SELECT d.doc_id, d.text,
       |          unnest(generate_series(1, len(text) - 39)) AS i
       |        FROM d JOIN cand USING (doc_id))),
       |df2 AS (
       |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM w)
       |  GROUP BY h HAVING count(*) >= 2),
       |s AS (SELECT w.* FROM w JOIN df2 USING (h)),
       |c AS (
       |  SELECT doc_id, i,
       |    least(40, coalesce(
       |      lead(i) OVER (PARTITION BY doc_id ORDER BY i) - i, 40)) AS cut
       |  FROM s),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_shared_windows,
       |    cast(sum(cut) AS bigint) AS chars_cut
       |  FROM c GROUP BY 1)
       |SELECT a.doc_id, d.source, a.n_shared_windows,
       |  cast(len(d.text) AS bigint) AS chars_total, a.chars_cut,
       |  len(d.text) - a.chars_cut AS chars_kept,
       |  (len(d.text) - a.chars_cut) * 10000 // len(d.text) AS kept_bp
       |FROM agg a JOIN d USING (doc_id) ORDER BY a.doc_id""".stripMargin
  }

  /** ExactSubstr KEEP-ONE apply (`text_substr_keep`) — Lee et al.'s
    * default convention: a duplicated passage keeps ONE canonical copy
    * and every other occurrence is cut ([[substrApply]] implements the
    * drop-all-copies variant; this row adds the keeper election its doc
    * names as the missing piece). Election is per shared digest: the
    * anchor is the global minimum occurrence key doc_id·2²⁴ + i (a pure
    * bigint min — one partial aggregate, bit-exact on both engines;
    * 2²⁴ > any document length, doc ids < 2³⁰, so the key is collision-
    * free and orders lexicographically by (doc_id, i)). A window
    * occurrence is cut iff its digest is shared (df ≥ 2 distinct docs)
    * and it is not the anchor; the cut is the same exact interval union
    * as [[substrApply]] (per-doc `lead` over CUT positions only).
    *
    * Scale shape: the stride-1 digest pass is unchanged; the df
    * aggregate, the anchor min-aggregate, and the shared-occurrence join
    * all hash on the digest — one exchange, reused. Per affected doc
    * (≥ 1 shared occurrence) the report shows how many of its shared
    * windows were elected keepers vs cut, and the char accounting; a doc
    * whose occurrences are all anchors survives whole (kept_bp = 10000),
    * which is how "exactly one copy survives" reads in the output. */
  def substrKeep(spark: SparkSession, d: String): DataFrame =
    substrKeepOn(Tables.documentsSpread(spark, d))

  /** The [[substrKeep]] kernel over any (doc_id, source, text) relation —
    * public so specs can plant cross-document passages at any alignment. */
  def substrKeepOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = docs
      .filter(length(col("text")) >= 40)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - 39)).as("i"),
        col("text"))
      .select(col("doc_id"), col("i").cast("long").as("i"),
        hash60(expr("substring(text, i, 40)")).as("h"))
    val sharedH = win.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2).select(col("h"))
    // shuffle_hash on every digest-keyed join: sharedH and anchors GROW
    // WITH THE CORPUS (one row per shared digest). The r13 sf1 failure was
    // AQE converting this exact join to BroadcastHashJoin off compressed
    // shuffle stats and OOMing while deserializing the LongToUnsafeRowMap
    // (HashedRelation.scala:949); forbidding broadcast keeps all three
    // hash-on-h operators on ONE reused exchange with per-partition builds.
    val sh = win.join(sharedH.hint("shuffle_hash"), "h")
    // the global per-digest anchor: min (doc_id, i) as one bigint key
    val anchors = sh.groupBy(col("h"))
      .agg(min(col("doc_id") * lit(16777216L) + col("i")).as("akey"))
    val flagged = sh.join(anchors.hint("shuffle_hash"), "h")
      .withColumn("is_anchor",
        col("doc_id") * lit(16777216L) + col("i") === col("akey"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val cuts = flagged.filter(!col("is_anchor"))
      .withColumn("next_i", lead(col("i"), 1).over(byDoc))
      .withColumn("cut",
        least(lit(40L), coalesce(col("next_i") - col("i"), lit(40L))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cut_windows"), sum(col("cut")).as("chars_cut"))
    val kept = flagged.filter(col("is_anchor"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_anchor_windows"))
    cuts.join(kept, Seq("doc_id"), "full")
      .select(col("doc_id"),
        coalesce(col("n_cut_windows"), lit(0L)).as("n_cut_windows"),
        coalesce(col("n_anchor_windows"), lit(0L)).as("n_anchor_windows"),
        coalesce(col("chars_cut"), lit(0L)).as("chars_cut"))
      .join(docs.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("chars_total"))
        .hint("shuffle_hash"), "doc_id")
      .select(col("doc_id"), col("source"), col("n_cut_windows"),
        col("n_anchor_windows"), col("chars_total"), col("chars_cut"),
        (col("chars_total") - col("chars_cut")).as("chars_kept"),
        expr("(chars_total - chars_cut) * 10000 div chars_total").as("kept_bp"))
      .orderBy(col("doc_id"))
  }

  val substrKeepOracle: String = {
    import graft.functions.Kernels.sqlHash60
    s"""WITH w AS (
       |  SELECT doc_id, i, ${sqlHash60("substr(text, cast(i AS int), 40)")} AS h
       |  FROM (SELECT doc_id, text,
       |          unnest(generate_series(1, len(text) - 39)) AS i
       |        FROM documents WHERE len(text) >= 40)),
       |df AS (
       |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM w)
       |  GROUP BY h HAVING count(*) >= 2),
       |s AS (SELECT w.* FROM w JOIN df USING (h)),
       |a AS (SELECT h, min(doc_id * 16777216 + i) AS akey FROM s GROUP BY 1),
       |f AS (
       |  SELECT s.doc_id, s.i,
       |    s.doc_id * 16777216 + s.i = a.akey AS is_anchor
       |  FROM s JOIN a USING (h)),
       |c AS (
       |  SELECT doc_id, i,
       |    least(40, coalesce(
       |      lead(i) OVER (PARTITION BY doc_id ORDER BY i) - i, 40)) AS cut
       |  FROM f WHERE NOT is_anchor),
       |cagg AS (
       |  SELECT doc_id, count(*) AS n_cut_windows,
       |    cast(sum(cut) AS bigint) AS chars_cut
       |  FROM c GROUP BY 1),
       |kagg AS (
       |  SELECT doc_id, count(*) AS n_anchor_windows
       |  FROM f WHERE is_anchor GROUP BY 1),
       |per AS (
       |  SELECT coalesce(cagg.doc_id, kagg.doc_id) AS doc_id,
       |    coalesce(n_cut_windows, 0) AS n_cut_windows,
       |    coalesce(n_anchor_windows, 0) AS n_anchor_windows,
       |    coalesce(chars_cut, 0) AS chars_cut
       |  FROM cagg FULL JOIN kagg USING (doc_id))
       |SELECT per.doc_id, d.source, per.n_cut_windows, per.n_anchor_windows,
       |  cast(len(d.text) AS bigint) AS chars_total, per.chars_cut,
       |  len(d.text) - per.chars_cut AS chars_kept,
       |  (len(d.text) - per.chars_cut) * 10000 // len(d.text) AS kept_bp
       |FROM per JOIN documents d ON per.doc_id = d.doc_id
       |ORDER BY per.doc_id""".stripMargin
  }

  /** The 100 TB path for [[substrKeep]] — the same winnowed-fingerprint
    * candidate prefilter as [[substrApplyWinnow]] (and the same bounded
    * <47-char recall contract: election and df are recomputed over the
    * candidate subset, so both sides of the loss obey the winnowing
    * guarantee); only candidate docs pay the stride-1 election pass. */
  def substrKeepWinnow(spark: SparkSession, d: String, w: Int = 8): DataFrame =
    substrKeepWinnowOn(Tables.documentsSpread(spark, d), w)

  def substrKeepWinnowOn(docs: DataFrame, w: Int = 8): DataFrame =
    substrKeepOn(docs.join(winnowCandidates(docs, w).hint("shuffle_hash"),
      "doc_id"))

  /** Candidate docs under the winnowed fingerprint prefilter — shared by
    * [[substrApplyWinnowOn]] and [[substrKeepWinnowOn]] so the two apply
    * variants can never desynchronize from the index that gates them. */
  private def winnowCandidates(docs: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, w - 1)
    val fps = docs
      .filter(length(col("text")) >= 40)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - 39)).as("i"),
        col("text"))
      .select(col("doc_id"), col("i"),
        hash60(expr("substring(text, i, 40)")).as("h0"))
      .withColumn("m", min(col("h0")).over(byDoc))
      .withColumn("wn", count(lit(1)).over(byDoc))
      .filter(col("wn") === w)
      .select(col("doc_id"), col("m").as("fp"))
      .distinct()
    val sharedFp = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("ndocs")).filter(col("ndocs") >= 2).select(col("fp"))
    // same no-broadcast rule: sharedFp is corpus-derived (one row per
    // shared fingerprint), so it must never become a broadcast build side
    fps.join(sharedFp.hint("shuffle_hash"), "fp").select(col("doc_id")).distinct()
  }

  val substrKeepWinnowOracle: String = {
    import graft.functions.Kernels.sqlHash60
    val h = sqlHash60("substr(text, cast(i AS int), 40)")
    s"""WITH d AS (
       |  SELECT doc_id, source, text FROM documents WHERE len(text) >= 40),
       |g AS (
       |  SELECT doc_id, [$h for i in range(1, len(text) - 38)] AS kh FROM d),
       |fwin AS (
       |  SELECT doc_id,
       |    CASE WHEN len(kh) >= 8
       |      THEN list_distinct([list_min(kh[i:i+7]) for i in range(1, len(kh) - 6)])
       |      ELSE [] END AS fps
       |  FROM g),
       |fp AS (SELECT doc_id, unnest(fps) AS h FROM fwin),
       |fdf AS (SELECT h FROM fp GROUP BY h HAVING count(*) >= 2),
       |cand AS (SELECT DISTINCT doc_id FROM fp JOIN fdf USING (h)),
       |w AS (
       |  SELECT doc_id, i, ${sqlHash60("substr(text, cast(i AS int), 40)")} AS h
       |  FROM (SELECT d.doc_id, d.text,
       |          unnest(generate_series(1, len(text) - 39)) AS i
       |        FROM d JOIN cand USING (doc_id))),
       |df2 AS (
       |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM w)
       |  GROUP BY h HAVING count(*) >= 2),
       |s AS (SELECT w.* FROM w JOIN df2 USING (h)),
       |a AS (SELECT h, min(doc_id * 16777216 + i) AS akey FROM s GROUP BY 1),
       |f AS (
       |  SELECT s.doc_id, s.i,
       |    s.doc_id * 16777216 + s.i = a.akey AS is_anchor
       |  FROM s JOIN a USING (h)),
       |c AS (
       |  SELECT doc_id, i,
       |    least(40, coalesce(
       |      lead(i) OVER (PARTITION BY doc_id ORDER BY i) - i, 40)) AS cut
       |  FROM f WHERE NOT is_anchor),
       |cagg AS (
       |  SELECT doc_id, count(*) AS n_cut_windows,
       |    cast(sum(cut) AS bigint) AS chars_cut
       |  FROM c GROUP BY 1),
       |kagg AS (
       |  SELECT doc_id, count(*) AS n_anchor_windows
       |  FROM f WHERE is_anchor GROUP BY 1),
       |per AS (
       |  SELECT coalesce(cagg.doc_id, kagg.doc_id) AS doc_id,
       |    coalesce(n_cut_windows, 0) AS n_cut_windows,
       |    coalesce(n_anchor_windows, 0) AS n_anchor_windows,
       |    coalesce(chars_cut, 0) AS chars_cut
       |  FROM cagg FULL JOIN kagg USING (doc_id))
       |SELECT per.doc_id, d.source, per.n_cut_windows, per.n_anchor_windows,
       |  cast(len(d.text) AS bigint) AS chars_total, per.chars_cut,
       |  len(d.text) - per.chars_cut AS chars_kept,
       |  (len(d.text) - per.chars_cut) * 10000 // len(d.text) AS kept_bp
       |FROM per JOIN d USING (doc_id)
       |ORDER BY per.doc_id""".stripMargin
  }

  /** Pairwise source divergence (`text_js_divergence`) — the
    * Jensen–Shannon divergence between every pair of sources' hashed
    * 64-bucket unigram distributions: the corpus-similarity matrix a
    * mixing pipeline consults before reweighting (near-duplicate sources
    * → merge; outlier sources → inspect). JS(P,Q) = ½KL(P‖M) + ½KL(Q‖M),
    * M the midpoint — symmetric, bounded by ln 2, defined even where one
    * side has zero mass.
    *
    * Exactness: each bucket's log-ratio ln(2·c_s·n_t / (c_s·n_t + c_t·n_s))
    * is a log of EXACT INTEGERS, snapped to micro-nats (floor-form), so
    * the per-pair Σ c_s·li is an order-independent bigint
    * (`ev_transition_entropy`'s rule); the two directed sums combine in
    * one fixed-order float finish (round 6). Models are \|sources\|×64
    * rows; the directed-pair expansion is (\|sources\|²−\|sources\|)×64 —
    * model-sized, never corpus-sized. */
  def jsDivergence(spark: SparkSession, d: String, nBuckets: Int = 64): DataFrame = {
    import graft.functions.Kernels.hash31
    // pinned (r15): the |sources|×64 model feeds three consumers (totals,
    // left, right) and the directed table both self-join sides — unpinned,
    // each replayed the corpus tokenize+hash pass (20 scans in the plan)
    val m = Tables.documents(spark, d)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .select(col("source"), pmod(hash31(col("w")), lit(nBuckets.toLong)).as("b"))
      .groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val n = m.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val left = m.join(n, "source")
      .select(col("source").as("sa"), col("b"), col("c").as("ca"), col("n").as("na"))
    val pairs = n.select(col("source").as("sa"), col("n").as("na2"))
      .join(n.select(col("source").as("sb"), col("n").as("nb")),
        col("sa") =!= col("sb"))
      .select(col("sa"), col("sb"), col("nb"))
    val right = m.select(col("source").as("sb"), col("b"), col("c").as("cb"))
    val directed = left.join(broadcast(pairs), "sa")
      .join(right, Seq("sb", "b"), "left")
      .na.fill(0L, Seq("cb"))
      .withColumn("li",
        floor((log(col("ca") * col("nb") * 2) - log(col("ca") * col("nb")
          + col("cb") * col("na"))) * 1e6 + lit(0.5)).cast("long"))
      .groupBy(col("sa"), col("sb"))
      .agg(sum(col("ca") * col("li")).as("dsum"), max(col("na")).as("na"))
      .localCheckpoint() // model-sized; both sides of the symmetric join
    directed.as("f")
      .join(directed.as("r"),
        col("f.sa") === col("r.sb") && col("f.sb") === col("r.sa") &&
          col("f.sa") < col("f.sb"))
      .select(col("f.sa").as("source_a"), col("f.sb").as("source_b"),
        round(col("f.dsum").cast("double") / 2e6 / col("f.na").cast("double")
          + col("r.dsum").cast("double") / 2e6 / col("r.na").cast("double"), 6)
          .as("js_nats"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val jsDivergenceOracle: String = {
    import graft.functions.Kernels.sqlHash31
    s"""WITH toks AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
       |m AS (
       |  SELECT source, ${sqlHash31("w")} % 64 AS b, count(*) AS c
       |  FROM toks GROUP BY 1, 2),
       |n AS (SELECT source, sum(c) AS n FROM m GROUP BY 1),
       |pairs AS (
       |  SELECT a.source AS sa, b.source AS sb, b.n AS nb
       |  FROM n a JOIN n b ON a.source <> b.source),
       |directed AS (
       |  SELECT l.source AS sa, p.sb,
       |    sum(l.c * cast(floor((ln(cast(l.c * p.nb * 2 AS double))
       |      - ln(cast(l.c * p.nb + coalesce(r.c, 0) * ln1.n AS double)))
       |      * 1e6 + 0.5) AS bigint)) AS dsum,
       |    max(ln1.n) AS na
       |  FROM m l
       |  JOIN n ln1 ON l.source = ln1.source
       |  JOIN pairs p ON l.source = p.sa
       |  LEFT JOIN m r ON r.source = p.sb AND r.b = l.b
       |  GROUP BY 1, 2)
       |SELECT f.sa AS source_a, f.sb AS source_b,
       |  round(cast(f.dsum AS double) / 2e6 / cast(f.na AS double)
       |    + cast(r.dsum AS double) / 2e6 / cast(r.na AS double), 6) AS js_nats
       |FROM directed f JOIN directed r ON f.sa = r.sb AND f.sb = r.sa
       |WHERE f.sa < f.sb ORDER BY 1, 2""".stripMargin
  }

  /** Readability audit (`text_readability`) — per-source Flesch reading
    * ease in MILLI-POINTS, fully integer: per doc, words per sentence and
    * syllables per word (per mille, floor-div) feed the scaled Flesch
    * formula 206835 − 1015·wps − 84600·spw. The syllable proxy is the
    * VOWEL-GROUP count — runs of `[aeiouy]+` collapsed by regexp_replace
    * (the `normText` precedent: same pattern semantics in both regex
    * engines, DuckDB with the 'g' flag) and counted by length
    * difference — the standard cheap estimator. Sentences count period
    * characters (+1). One map pass + a \|sources\|-row partial agg; the
    * quality-score family's reading-level signal beside [[quality]]'s
    * length/stopword rules. */
  def readability(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .filter(length(col("text")) > 0)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("words"),
        (length(col("text")) - length(regexp_replace(col("text"), "\\.", ""))
          + 1).cast("long").as("sentences"),
        regexp_replace(lower(col("text")), "[aeiouy]+", "V").as("vg"))
      .select(col("source"), col("words"), col("sentences"),
        greatest((length(col("vg")) - length(regexp_replace(col("vg"), "V", "")))
          .cast("long"), lit(1L)).as("syl"))
      .select(col("source"),
        expr("words * 1000 div sentences").as("wps_pm"),
        expr("syl * 1000 div words").as("spw_pm"))
      .withColumn("flesch_m",
        expr("206835 - 1015 * wps_pm div 1000 - 84600 * spw_pm div 1000"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(wps_pm) div count(1)").as("mean_wps_pm"),
        expr("sum(spw_pm) div count(1)").as("mean_spw_pm"),
        expr("sum(flesch_m) div count(1)").as("mean_flesch_m"))
      .orderBy(col("source"))
  }

  val readabilityOracle: String =
    """WITH x AS (
      |  SELECT source,
      |    cast(len(string_split(text, ' ')) AS bigint) AS words,
      |    cast(length(text) - length(replace(text, '.', '')) + 1 AS bigint)
      |      AS sentences,
      |    regexp_replace(lower(text), '[aeiouy]+', 'V', 'g') AS vg
      |  FROM documents WHERE length(text) > 0),
      |y AS (
      |  SELECT source, words, sentences,
      |    greatest(cast(length(vg) - length(replace(vg, 'V', '')) AS bigint),
      |      1) AS syl
      |  FROM x),
      |z AS (
      |  SELECT source, words * 1000 // sentences AS wps_pm,
      |    syl * 1000 // words AS spw_pm
      |  FROM y),
      |f AS (
      |  SELECT source, wps_pm, spw_pm,
      |    206835 - 1015 * wps_pm // 1000 - 84600 * spw_pm // 1000 AS flesch_m
      |  FROM z)
      |SELECT source, count(*) AS n_docs,
      |  cast(sum(wps_pm) // count(*) AS bigint) AS mean_wps_pm,
      |  cast(sum(spw_pm) // count(*) AS bigint) AS mean_spw_pm,
      |  cast(sum(flesch_m) // count(*) AS bigint) AS mean_flesch_m
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  /** Code-vs-prose detection (`text_code_detect`) — the corpus-routing
    * signal a pretraining pipeline computes before sending documents to a
    * code-specific vs natural-language processing path (StarCoder/RedPajama
    * style source separation): per doc the density of code-symbol
    * characters (`{}();=<>[]#`) and digits per mille of characters, a doc
    * is routed `code` when symbol density exceeds 20‰. Character counts
    * use `translate` deletion (length minus length-after-removal) —
    * engine-identical by construction where regex counting would hinge on
    * two engines' regex dialects; everything integer. Per source: docs,
    * code-routed docs and share, floor-div mean densities — a pure map +
    * \|sources\|-row partial agg, one corpus pass. */
  def codeDetect(spark: SparkSession, d: String): DataFrame = {
    Tables.documents(spark, d)
      .filter(length(col("text")) > 0)
      .select(col("source"),
        expr("(length(text) - length(translate(text, '{}();=<>[]#', ''))) " +
          "* 1000L div length(text)").as("sym_pm"),
        expr("(length(text) - length(translate(text, '0123456789', ''))) " +
          "* 1000L div length(text)").as("dig_pm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("sym_pm") > 20, 1L).otherwise(0L)).as("n_code"),
        expr("sum(sym_pm) div count(1)").as("mean_sym_pm"),
        expr("sum(dig_pm) div count(1)").as("mean_dig_pm"))
      .select(col("source"), col("n_docs"), col("n_code"),
        expr("n_code * 10000 div n_docs").as("code_bp"),
        col("mean_sym_pm"), col("mean_dig_pm"))
      .orderBy(col("source"))
  }

  val codeDetectOracle: String =
    """WITH x AS (
      |  SELECT source,
      |    (length(text) - length(translate(text, '{}();=<>[]#', '')))
      |      * 1000 // length(text) AS sym_pm,
      |    (length(text) - length(translate(text, '0123456789', '')))
      |      * 1000 // length(text) AS dig_pm
      |  FROM documents WHERE length(text) > 0)
      |SELECT source, count(*) AS n_docs,
      |  cast(sum(CASE WHEN sym_pm > 20 THEN 1 ELSE 0 END) AS bigint) AS n_code,
      |  cast(sum(CASE WHEN sym_pm > 20 THEN 1 ELSE 0 END) * 10000 // count(*)
      |    AS bigint) AS code_bp,
      |  cast(sum(sym_pm) // count(*) AS bigint) AS mean_sym_pm,
      |  cast(sum(dig_pm) // count(*) AS bigint) AS mean_dig_pm
      |FROM x GROUP BY 1 ORDER BY 1""".stripMargin

  /** One distributed BPE merge step (`text_bpe_step`) — the tokenizer-
    * training kernel a data pipeline runs upstream of `docs_pack`: from
    * the character-level symbol vocabulary, the top-`topK` candidate
    * merges with (a) the classic get_stats pair count (adjacent
    * occurrences, overlaps included — the statistic BPE ranks merges by)
    * and (b) the number of merges a greedy left-to-right application
    * would actually perform (overlap-aware: a run of r+1 identical chars
    * holds r adjacent pairs but only ⌊(r+1)/2⌋ non-overlapping merges),
    * plus the corpus symbol count before/after applying that pair — the
    * what-if table a tokenizer trainer reads to pick the next merge.
    *
    * 100 TB shape: ONE corpus pass (token explode) reduces to the
    * (word, freq) vocabulary table; every later stage — position explode,
    * per-(word, pair) island runs, the merge aggregate — is bounded by
    * Σ|word| over the VOCABULARY, not the corpus, and the only windows
    * are partitioned by (word, pair). All-integer arithmetic; the one-row
    * symbol total broadcasts. Single-char tokens carry no pair and are
    * excluded from the symbol universe (documented contract, mirrored in
    * the oracle). */
  def bpeStep(spark: SparkSession, d: String, topK: Int = 20): DataFrame =
    bpeStepOver(Tables.documents(spark, d).select(col("text")), topK)

  /** [[bpeStep]] over an explicit docs frame (spec hook). */
  def bpeStepOver(docs: DataFrame, topK: Int): DataFrame = {
    val words = docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val pos = words
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w"), col("freq"), col("i"), expr("substr(w, i, 2)").as("pair"))
    // islands of consecutive positions per (word, pair): only a self-pair
    // (aa) can chain, and a chain of r pair-positions greedily merges
    // (r+1) div 2 times
    val runs = pos
      .withColumn("g", col("i") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("w"), col("pair")).orderBy(col("i"))))
      .groupBy(col("w"), col("freq"), col("pair"), col("g"))
      .agg(count(lit(1)).as("run"))
    val stats = runs
      .groupBy(col("w"), col("freq"), col("pair"))
      .agg(sum(col("run")).as("raw"), sum(expr("(run + 1) div 2")).as("greedy"))
      .groupBy(col("pair"))
      .agg(sum(col("raw") * col("freq")).as("pair_count"),
        sum(col("greedy") * col("freq")).as("n_merges"))
    val symbols = words
      .agg(sum(length(col("w")).cast("long") * col("freq")).as("symbols_before"))
    stats.join(broadcast(symbols))
      .select(col("pair"), col("pair_count"), col("n_merges"),
        col("symbols_before"),
        (col("symbols_before") - col("n_merges")).as("symbols_after"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(topK)
  }

  val bpeStepOracle: String =
    """WITH words AS (
      |  SELECT w, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) >= 2 GROUP BY 1),
      |pos AS (
      |  SELECT w, freq, i, substr(w, cast(i AS int), 2) AS pair
      |  FROM (SELECT w, freq, unnest(generate_series(1, length(w) - 1)) AS i
      |        FROM words)),
      |isl AS (
      |  SELECT w, freq, pair,
      |    i - row_number() OVER (PARTITION BY w, pair ORDER BY i) AS g
      |  FROM pos),
      |runs AS (SELECT w, freq, pair, g, count(*) AS run FROM isl GROUP BY 1, 2, 3, 4),
      |perword AS (
      |  SELECT w, freq, pair, sum(run) AS raw, sum((run + 1) // 2) AS greedy
      |  FROM runs GROUP BY 1, 2, 3),
      |stats AS (
      |  SELECT pair, cast(sum(raw * freq) AS bigint) AS pair_count,
      |    cast(sum(greedy * freq) AS bigint) AS n_merges
      |  FROM perword GROUP BY 1),
      |sym AS (SELECT cast(sum(length(w) * freq) AS bigint) AS symbols_before
      |  FROM words)
      |SELECT pair, pair_count, n_merges, symbols_before,
      |  symbols_before - n_merges AS symbols_after
      |FROM stats, sym
      |ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin

  /** Number of unrolled merge steps in [[bpeTrain]]. */
  val BpeTrainSteps = 5

  /** One learned merge: the pair (`"a b"`), its adjacency count, its score
    * and the vocab's symbol total once it is applied. */
  private case class Merge(pair: String, count: Long, score: Long, symbolsAfter: Long)

  /** The tokenizer trainers' `(w, freq)` vocabulary: one corpus pass, words
    * of length ≥ 2 (single-char words carry no pair). */
  private def trainWords(docs: DataFrame): DataFrame = docs
    .select(explode(tokens(col("text"))).as("w"))
    .filter(length(col("w")) >= 2)
    .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** The merge trainer behind BPE and WordPiece (Sennrich et al. 2016): Spark
    * reduces the corpus to the `(w, freq)` vocabulary, which is collected to
    * the driver ONCE as Spark's own `split(w, "")` symbols (code points, as
    * the plans split them), and up to `steps` merges are learned in memory.
    * Each step recounts adjacent pairs (overlaps included) and symbols over
    * the current vocab, takes the max of `score(pairCount, count(a),
    * count(b))` with ties on the pair's UTF-8 byte order (Spark's and
    * DuckDB's string order, not `String.compareTo`), and merges it greedily
    * left to right without overlap — what the oracles' double-space
    * `replace` does. Stops early once no word has two symbols. The driver
    * holds the distinct-word vocabulary: 31 words at every testdata scale. */
  private def trainMerges(words: DataFrame, steps: Int)(
      score: (Long, Long, Long) => Long): Seq[Merge] = {
    var vocab = words.select(split(col("w"), "").as("l"), col("freq")).collect()
      .map(r => (r.getSeq[String](0).toVector, r.getLong(1)))
    val merges = Seq.newBuilder[Merge]
    var k = 0
    while (k < steps && vocab.exists(_._1.length >= 2)) {
      val pairs = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      val syms = mutable.Map.empty[String, Long].withDefaultValue(0L)
      for ((l, f) <- vocab) {
        l.foreach(syms(_) += f)
        l.iterator.zip(l.iterator.drop(1)).foreach(pairs(_) += f)
      }
      val ((a, b), n, sc) = pairs.iterator
        .map { case (p @ (a, b), n) => (p, n, score(n, syms(a), syms(b))) }
        .minBy { case ((a, b), _, sc) => (-sc, UTF8String.fromString(s"$a $b")) }
      vocab = vocab.map { case (l, f) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < l.length) {
          if (i + 1 < l.length && l(i) == a && l(i + 1) == b) { out += a + b; i += 2 }
          else { out += l(i); i += 1 }
        }
        (out.result(), f)
      }
      merges += Merge(s"$a $b", n, sc, vocab.map { case (l, f) => l.length * f }.sum)
      k += 1
    }
    merges.result()
  }

  /** BPE ranks merges by the raw pair count. */
  private val bpeScore: (Long, Long, Long) => Long = (n, _, _) => n

  /** Multi-step BPE training (`text_bpe_train`) — the actual tokenizer-
    * training LOOP, not just [[bpeStep]]'s one-step what-if table: starting
    * from the character symbol vocabulary, [[BpeTrainSteps]] rounds of
    * (count adjacent pairs → pick the argmax merge → apply it greedily
    * left-to-right), emitting each round's chosen merge and its get_stats
    * count (overlaps included — the statistic BPE ranks merges by,
    * recomputed from the CURRENT symbol sequence each round exactly like
    * the classic trainer).
    *
    * The oracle's greedy merge application is exact through the
    * DOUBLE-SPACE symbol encoding: a word's symbol sequence is
    * `' ' + symbols.mkString("  ") + ' '`, so every symbol is flanked by
    * its own space on each side, the merge (a, b) is the literal string
    * replacement `' a  b ' → ' ab '`, and SQL `replace`'s left-to-right
    * non-overlapping scan IS the greedy BPE pass (a run `a a a a` merges
    * to `aa aa`, never the overlapping `a aa a`). Symbols never contain
    * spaces, so a pattern can only align on true symbol boundaries.
    *
    * 100 TB shape: ONE corpus pass reduces to the (word, freq) vocabulary,
    * which [[trainMerges]] trains on the driver; the corpus is never
    * re-scanned. Deterministic: argmax ties break on pair string order. */
  def bpeTrain(spark: SparkSession, d: String, steps: Int = BpeTrainSteps): DataFrame =
    bpeTrainOver(Tables.documents(spark, d).select(col("text")), steps)

  /** [[bpeTrain]] over an explicit docs frame (spec hook). */
  def bpeTrainOver(docs: DataFrame, steps: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMerges(trainWords(docs), steps)(bpeScore).zipWithIndex
      .map { case (m, i) => (i + 1L, m.pair, m.count) }
      .toDF("step", "pair", "pair_count")
  }

  val bpeTrainOracle: String = {
    val steps = (1 to BpeTrainSteps).map { k =>
      s"""stats$k AS (
         |  SELECT l[i] || ' ' || l[i+1] AS pair,
         |    cast(sum(freq) AS bigint) AS pair_count
         |  FROM (SELECT string_split(trim(s), '  ') AS l, freq,
         |          unnest(generate_series(1,
         |            len(string_split(trim(s), '  ')) - 1)) AS i
         |        FROM vocab${k - 1})
         |  GROUP BY 1),
         |best$k AS (
         |  SELECT cast($k AS bigint) AS step, pair, pair_count
         |  FROM stats$k ORDER BY pair_count DESC, pair LIMIT 1),
         |vocab$k AS (
         |  SELECT replace(s,
         |    ' ' || split_part(pair, ' ', 1) || '  ' ||
         |      split_part(pair, ' ', 2) || ' ',
         |    ' ' || split_part(pair, ' ', 1) ||
         |      split_part(pair, ' ', 2) || ' ') AS s, freq
         |  FROM vocab${k - 1}, best$k)""".stripMargin
    }.mkString(",\n")
    val union = (1 to BpeTrainSteps)
      .map(k => s"SELECT * FROM best$k").mkString(" UNION ALL ")
    s"""WITH words AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 2 GROUP BY 1),
       |vocab0 AS (
       |  SELECT ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s,
       |    freq
       |  FROM words),
       |$steps
       |$union ORDER BY step""".stripMargin
  }

  /** Tokenizer application (`text_bpe_apply`) — run the [[bpeTrain]]-learned
    * merges over the WHOLE corpus and publish the per-source compression
    * table (tokens, char-level symbols, symbols after BPE, compression in
    * basis points) — the number `docs_token_budget` actually wants: how many
    * symbols a trained tokenizer emits per source. Merges are learned
    * corpus-wide (same argmax sequence as [[bpeTrain]] — single-char words
    * carry no pairs so their inclusion here changes no merge decision) and
    * applied as ONE projection (a `replace` per merge) over the
    * DISTINCT-word vocabulary only; per-source numbers come
    * from joining the per-word symbol count back onto the (source, word)
    * counts, so the corpus is scanned once and everything downstream is
    * vocab-bounded. Same double-space replace encoding as [[bpeTrain]]. */
  def bpeApply(spark: SparkSession, d: String, steps: Int = BpeTrainSteps): DataFrame =
    bpeApplyOver(Tables.documents(spark, d).select(col("source"), col("text")), steps)

  /** [[bpeApply]] over an explicit (source, text) frame (spec hook). */
  def bpeApplyOver(docs: DataFrame, steps: Int = BpeTrainSteps): DataFrame = {
    // pinned as in [[wordpieceApplyOver]]: srcCounts feeds the word rollup
    // and the final join-back; |vocab|·|sources|-bounded
    val srcCounts = docs
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val words = srcCounts.groupBy(col("w")).agg(sum(col("freq")).as("freq"))
    val merges = trainMerges(words, steps)(bpeScore)
    val merged = merges.foldLeft(
        concat(lit(" "), array_join(split(col("w"), ""), "  "), lit(" "))) { (s, m) =>
      val Array(a, b) = m.pair.split(" ")
      replace(s, lit(s" $a  $b "), lit(s" $a$b "))
    }
    // fewer than `steps` merges: empty, as the oracle's `FROM vocab, best`
    // cross join with an empty argmax
    val perWord = words.filter(lit(merges.length == steps))
      .select(col("w"), size(split(trim(merged), "  ")).cast("long").as("n_sym"))
    srcCounts.join(perWord, "w")
      .groupBy(col("source"))
      .agg(sum(col("freq")).as("n_tokens"),
        sum(length(col("w")).cast("long") * col("freq")).as("chars"),
        sum(col("n_sym") * col("freq")).as("sym_after"))
      .select(col("source"), col("n_tokens"), col("chars"), col("sym_after"),
        expr("sym_after * 10000 div chars").as("compression_bp"))
      .orderBy(col("source"))
  }

  val bpeApplyOracle: String = {
    val steps = (1 to BpeTrainSteps).map { k =>
      s"""stats$k AS (
         |  SELECT l[i] || ' ' || l[i+1] AS pair, sum(freq) AS pair_count
         |  FROM (SELECT string_split(trim(s), '  ') AS l, freq,
         |          unnest(generate_series(1,
         |            len(string_split(trim(s), '  ')) - 1)) AS i
         |        FROM vocab${k - 1})
         |  GROUP BY 1),
         |best$k AS (SELECT pair FROM stats$k
         |  ORDER BY pair_count DESC, pair LIMIT 1),
         |vocab$k AS (
         |  SELECT w, replace(s,
         |    ' ' || split_part(pair, ' ', 1) || '  ' ||
         |      split_part(pair, ' ', 2) || ' ',
         |    ' ' || split_part(pair, ' ', 1) ||
         |      split_part(pair, ' ', 2) || ' ') AS s, freq
         |  FROM vocab${k - 1}, best$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH src AS (
       |  SELECT source, w, count(*) AS freq FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS w
       |    FROM documents)
       |  GROUP BY 1, 2),
       |words AS (SELECT w, sum(freq) AS freq FROM src GROUP BY 1),
       |vocab0 AS (
       |  SELECT w,
       |    ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s,
       |    freq
       |  FROM words),
       |$steps,
       |perword AS (
       |  SELECT w, len(string_split(trim(s), '  ')) AS n_sym
       |  FROM vocab$BpeTrainSteps)
       |SELECT source, cast(sum(freq) AS bigint) AS n_tokens,
       |  cast(sum(length(w) * freq) AS bigint) AS chars,
       |  cast(sum(n_sym * freq) AS bigint) AS sym_after,
       |  cast(sum(n_sym * freq) * 10000 // sum(length(w) * freq)
       |    AS bigint) AS compression_bp
       |FROM src JOIN perword USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Merge budget for [[bpeTrainCurve]]; 20 keeps the DuckDB oracle's
    * unrolled twin tractable at the gate SFs. */
  val BpeCurveSteps = 20

  /** Trained-tokenizer curve (`text_bpe_curve`) — [[bpeTrain]]'s trainer
    * run to N merges (a real tokenizer runs thousands). Emits one row per
    * round: the chosen merge, its get_stats count, and the corpus symbol
    * count AFTER the merge — the compression curve a tokenizer trainer
    * watches for diminishing returns. The corpus is scanned ONCE into the
    * (word, freq) vocabulary; the oracle unrolls the identical N rounds in
    * SQL with the same double-space greedy-replace encoding as
    * [[bpeTrain]]. */
  def bpeTrainCurve(spark: SparkSession, d: String,
      steps: Int = BpeCurveSteps): DataFrame =
    bpeTrainCurveOver(Tables.documents(spark, d).select(col("text")), steps)

  /** [[bpeTrainCurve]] over an explicit docs frame (spec hook). */
  def bpeTrainCurveOver(docs: DataFrame, steps: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMerges(trainWords(docs), steps)(bpeScore).zipWithIndex
      .map { case (m, i) => (i + 1L, m.pair, m.count, m.symbolsAfter) }
      .toDF("step", "pair", "pair_count", "symbols_after")
  }

  val bpeTrainCurveOracle: String = {
    val steps = (1 to BpeCurveSteps).map { k =>
      s"""stats$k AS (
         |  SELECT l[i] || ' ' || l[i+1] AS pair,
         |    cast(sum(freq) AS bigint) AS pair_count
         |  FROM (SELECT string_split(trim(s), '  ') AS l, freq,
         |          unnest(generate_series(1,
         |            len(string_split(trim(s), '  ')) - 1)) AS i
         |        FROM vocab${k - 1})
         |  GROUP BY 1),
         |best$k AS (
         |  SELECT cast($k AS bigint) AS step, pair, pair_count
         |  FROM stats$k ORDER BY pair_count DESC, pair LIMIT 1),
         |vocab$k AS MATERIALIZED (
         |  SELECT replace(s,
         |    ' ' || split_part(pair, ' ', 1) || '  ' ||
         |      split_part(pair, ' ', 2) || ' ',
         |    ' ' || split_part(pair, ' ', 1) ||
         |      split_part(pair, ' ', 2) || ' ') AS s, freq
         |  FROM vocab${k - 1}, best$k),
         |sym$k AS (
         |  SELECT cast(sum(len(string_split(trim(s), '  ')) * freq) AS bigint)
         |    AS symbols_after
         |  FROM vocab$k),
         |row$k AS (
         |  SELECT step, pair, pair_count, symbols_after FROM best$k, sym$k)"""
        .stripMargin
    }.mkString(",\n")
    val union = (1 to BpeCurveSteps)
      .map(kk => s"SELECT * FROM row$kk").mkString(" UNION ALL ")
    s"""WITH words AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 2 GROUP BY 1),
       |vocab0 AS (
       |  SELECT ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s,
       |    freq
       |  FROM words),
       |$steps
       |$union ORDER BY step""".stripMargin
  }

  /** Seed head sizes for [[unigramEm]]: all single chars plus the top
    * [[UnigramSeedNgrams]] bigrams AND trigrams (by count, ties on piece
    * string) form the seed inventory — max piece length 3 bounds the
    * Viterbi look-back to three positions. */
  val UnigramSeedNgrams = 150

  /** Score of an absent piece in the Viterbi DP — far below any real path
    * (a piece scores ≥ −ilnq(Σ counts) ≈ −28·10⁶ micro-ln even at 10¹²
    * pieces) yet safe from Long overflow when two sentinels add. */
  val UnigramNeg = -1000000000000000L

  /** Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer EM step
    * (`text_unigram_em`) — the OTHER tokenizer family real pipelines
    * train, beside BPE: ONE full EM iteration over a seed vocabulary.
    * Seed = every single character + the top-[[UnigramSeedNgrams]]
    * bigrams/trigrams by corpus count; piece log-probs are integer
    * MICRO-lns from the integer-exact [[ilnqRef]] quantizer, quantized
    * BEFORE any summation, so the whole DP is exact long arithmetic.
    * E-step: Viterbi-segment every vocab word under those log-probs
    * ([[segment]]); M-step: re-estimate from the segmentation counts
    * (`lp_micro = ilnq(e_count) − ilnq(Σe)`).
    *
    * Spark reduces the corpus to the `(w, freq)` vocabulary in one pass;
    * the driver collects it once and runs seeding, the DP and both
    * estimates in memory, as every unigram row does. The DuckDB twin runs
    * the identical DP as a recursive CTE over (word, position) with the
    * same sentinel/tie conventions. */
  def unigramEm(spark: SparkSession, d: String): DataFrame =
    unigramEmOver(Tables.documents(spark, d).select(col("text")))

  /** 256-entry mantissa table for the INTEGER-EXACT micro-ln quantizer
    * [[ilnqRef]]: entry j is `round(ln(1 + j/256)·10⁶)`, generated ONCE with
    * `StrictMath` (bit-identical on every JVM). The driver-side trainers
    * index it directly and DuckDB reads it baked into the oracle SQL string
    * by the same process that builds this table, so NO floating-point op
    * executes at query time on either engine. Public for the specs. */
  val IlnTableMicro: IndexedSeq[Long] =
    (0 until 256).map(j => Math.round(StrictMath.log1p(j / 256.0) * 1e6))

  /** `round(ln 2 · 10⁶)` — the per-octave step of [[ilnqRef]]. */
  val IlnLn2Micro = 693147L

  /** Integer-exact micro-ln quantizer of the unigram trainers: for
    * 1 ≤ x < 2⁵⁶ (`x·256` must fit in 64 unsigned bits; larger x throws),
    * `b·693147 + T[(x·256 >> b) − 256]` where `b = ⌊log₂ x⌋` is x's bit
    * length minus one and T is [[IlnTableMicro]]. Approximates `ln(x)·10⁶`
    * to within `ln(1+1/256)·10⁶ ≈ 3906` micro units, is monotone
    * non-decreasing, and is EXACT integer arithmetic end to end, so the
    * driver and the DuckDB twin ([[ilnqSql]]) agree bit for bit. */
  def ilnqRef(x: Long): Long = {
    require(x >= 1, s"ilnq domain is x >= 1, got $x")
    val b = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val j = ((x * 256L) >>> b).toInt - 256
    b * IlnLn2Micro + IlnTableMicro(j)
  }

  /** DuckDB fragment computing [[ilnqRef]] of `x`; requires the one-row
    * `ilntab(ilnt)` CTE ([[ilnTabSql]]) to be cross-joined in scope. */
  private def ilnqSql(x: String): String = {
    val xe = s"cast($x AS bigint)"
    s"((length(bin($xe)) - 1) * $IlnLn2Micro + " +
      s"ilnt[cast((($xe * 256) >> (length(bin($xe)) - 1)) - 255 AS int)])"
  }

  /** The one-row mantissa-table CTE body backing [[ilnqSql]]. */
  private def ilnTabSql: String =
    s"ilntab AS (SELECT [${IlnTableMicro.mkString(", ")}] AS ilnt)"

  /** The (w, freq) word vocabulary a unigram model trains over. */
  private def unigramWordsOf(docs: DataFrame): DataFrame = docs
    .select(explode(tokens(col("text"))).as("w"))
    .filter(col("w") =!= "")
    .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** One distinct word on the driver: the word, its symbols and its
    * corpus frequency. */
  private case class UnigramWord(w: String, syms: IndexedSeq[String], freq: Long)

  /** Collects a `(w, freq)` vocabulary to the driver ONCE, as Spark's own
    * `split(w, "")` symbols: code points, the unit Spark's and DuckDB's
    * `length`/`substr` count, so a supplementary character stays one
    * symbol. The driver holds the whole distinct-word vocabulary (31 words
    * at every testdata scale). */
  private def collectUnigramWords(words: DataFrame): Seq[UnigramWord] =
    words.select(col("w"), split(col("w"), "").as("l"), col("freq")).collect().toSeq
      .map(r => UnigramWord(r.getString(0), r.getSeq[String](1).toIndexedSeq, r.getLong(2)))

  /** (piece, count) pairs by count desc, ties on the piece's UTF-8 bytes:
    * `orderBy(cnt.desc, p)` in Spark's and DuckDB's string order, not
    * `String.compareTo`. */
  private def byCount(g: Seq[(String, Long)]): Seq[(String, Long)] =
    g.sortBy { case (p, n) => (-n, UTF8String.fromString(p)) }

  /** Seed inventory with corpus counts: every single char plus the
    * top-[[UnigramSeedNgrams]] bigrams and trigrams. */
  private def unigramSeeds(words: Seq[UnigramWord]): Seq[(String, Long)] = {
    def grams(n: Int): Seq[(String, Long)] = {
      val g = mutable.Map.empty[String, Long].withDefaultValue(0L)
      for (u <- words; i <- 0 to u.syms.length - n) g(u.syms.slice(i, i + n).mkString) += u.freq
      g.toSeq
    }
    grams(1) ++ byCount(grams(2)).take(UnigramSeedNgrams) ++
      byCount(grams(3)).take(UnigramSeedNgrams)
  }

  /** Piece log-probs from scores: `ilnq(max(n, 1)) − ilnq(Σ max(n, 1))`.
    * Seed counts are ≥ 1; the floor keeps a pruned model's unused chars
    * finite without smoothing the used pieces. */
  private def unigramLp(scores: Seq[(String, Long)]): Map[String, Long] = {
    lazy val total = ilnqRef(scores.map(s => math.max(s._2, 1L)).sum)
    scores.map { case (p, n) => p -> (ilnqRef(math.max(n, 1L)) - total) }.toMap
  }

  /** The one unigram Viterbi: the max-log-prob segmentation of a word's
    * symbols into pieces of at most 3 symbols under `lp`. Ties prefer the
    * LONGER piece; an absent piece scores [[UnigramNeg]], which never wins
    * because every model keeps all single chars. */
  private def segment(lp: Map[String, Long], syms: IndexedSeq[String]): List[String] = {
    val best = Array.fill(syms.length + 1)(Long.MinValue)
    val back = new Array[Int](syms.length + 1)
    best(0) = 0L
    for (i <- 1 to syms.length; l <- 1 to math.min(3, i)) {
      val c = best(i - l) + lp.getOrElse(syms.slice(i - l, i).mkString, UnigramNeg)
      if (c >= best(i)) { best(i) = c; back(i) = l }
    }
    var pieces = List.empty[String]
    var i = syms.length
    while (i > 0) { pieces = syms.slice(i - back(i), i).mkString :: pieces; i -= back(i) }
    pieces
  }

  /** E-step: each piece's uses over the segmentations of every word,
    * weighted by the word's frequency. */
  private def unigramUsage(words: Seq[UnigramWord], lp: Map[String, Long]): Map[String, Long] = {
    val e = mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (u <- words; p <- segment(lp, u.syms)) e(p) += u.freq
    e.toMap
  }

  /** The prune rule: every single char of `inv` (never prunable — the
    * coverage guarantee) plus its top-`keepN` USED multi-char pieces by
    * usage, each scored by its usage `e`. */
  private def unigramKeep(inv: Seq[(String, Long)], e: Map[String, Long],
      keepN: Int): Seq[(String, Long)] = {
    val (chars, multi) = inv.map { case (p, _) => p -> e.getOrElse(p, 0L) }
      .partition { case (p, _) => pieceLen(p) == 1 }
    chars ++ byCount(multi.filter(_._2 > 0)).take(keepN)
  }

  /** A piece's length in code points, as Spark's `length`. */
  private def pieceLen(p: String): Long = p.codePointCount(0, p.length).toLong

  /** [[unigramEm]] over an explicit docs frame (spec hook). */
  def unigramEmOver(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = collectUnigramWords(unigramWordsOf(docs))
    val seeds = unigramSeeds(words)
    val e = unigramUsage(words, unigramLp(seeds))
    val lp = unigramLp(e.toSeq)
    val seedCount = seeds.toMap
    byCount(e.toSeq).map { case (p, n) => (p, pieceLen(p), seedCount(p), n, lp(p)) }
      .toDF("piece", "piece_len", "seed_count", "e_count", "lp_micro")
  }

  /** Multi-char pieces the prune round keeps (single chars are never
    * prunable — they are the coverage guarantee). */
  val UnigramKeepNgrams = 100

  /** Unigram-LM vocabulary PRUNE round (`text_unigram_prune`) — the step
    * after [[unigramEm]] in SentencePiece's train loop: shrink the piece
    * inventory to the survivors (every single char + the
    * top-[[UnigramKeepNgrams]] multi-char pieces by round-1 usage,
    * ties on piece string), re-estimate log-probs over the kept set
    * (`ilnq(max(e1,1)) − ilnq(Σ max(e1,1))` — the +1 floor keeps unused
    * chars finite without smoothing the used ones), and RE-SEGMENT the
    * corpus under the pruned model. Emits per kept piece its round-1 and
    * round-2 usage counts plus the pruned log-prob — the redistribution
    * table showing where cut pieces' mass went. Both rounds run on the
    * driver over the once-collected vocabulary with [[unigramEm]]'s
    * [[segment]]; the DuckDB twin runs both DPs as recursive CTEs. */
  def unigramPrune(spark: SparkSession, d: String): DataFrame =
    unigramPruneOver(Tables.documents(spark, d).select(col("text")))

  /** [[unigramPrune]] over an explicit docs frame; `keepN` lets specs
    * force a cut that actually prunes USED pieces (the oracle row runs
    * the default). */
  def unigramPruneOver(docs: DataFrame,
      keepN: Int = UnigramKeepNgrams): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = collectUnigramWords(unigramWordsOf(docs))
    val seeds = unigramSeeds(words)
    val kept = unigramKeep(seeds, unigramUsage(words, unigramLp(seeds)), keepN)
    val lp2 = unigramLp(kept)
    val e2 = unigramUsage(words, lp2)
    val e1 = kept.toMap
    byCount(e2.toSeq.filter { case (p, _) => e1.contains(p) })
      .map { case (p, n) => (p, pieceLen(p), e1(p), n, lp2(p)) }
      .toDF("piece", "piece_len", "e1_count", "e2_count", "lp2_micro")
  }

  val unigramPruneOracle: String = {
    def dpBt(k: Int, lpT: String): String =
      s"""dp$k AS (
         |  SELECT w, freq, len(w) AS L, 0 AS i,
         |    cast(0 AS bigint) AS d1, cast($UnigramNeg AS bigint) AS d2,
         |    cast($UnigramNeg AS bigint) AS d3, cast([] AS int[]) AS bl
         |  FROM words
         |  UNION ALL
         |  SELECT w, freq, L, i + 1,
         |    greatest(c1, c2, c3), d1, d2,
         |    list_append(bl, CASE WHEN c3 = greatest(c1, c2, c3) THEN 3
         |                         WHEN c2 = greatest(c1, c2, c3) THEN 2
         |                         ELSE 1 END)
         |  FROM (
         |    SELECT dp$k.w, dp$k.freq, dp$k.L, dp$k.i,
         |      dp$k.d1, dp$k.d2, dp$k.d3, dp$k.bl,
         |      dp$k.d1 + coalesce(l1.lp, $UnigramNeg) AS c1,
         |      dp$k.d2 + coalesce(l2.lp, $UnigramNeg) AS c2,
         |      dp$k.d3 + coalesce(l3.lp, $UnigramNeg) AS c3
         |    FROM dp$k
         |    LEFT JOIN $lpT l1 ON l1.p = substr(dp$k.w, dp$k.i + 1, 1)
         |    LEFT JOIN $lpT l2 ON dp$k.i >= 1 AND l2.p = substr(dp$k.w, dp$k.i, 2)
         |    LEFT JOIN $lpT l3 ON dp$k.i >= 2 AND l3.p = substr(dp$k.w, dp$k.i - 1, 3)
         |    WHERE dp$k.i < dp$k.L) s),
         |bt$k AS (
         |  SELECT w, freq, bl, L AS expect, cast(NULL AS varchar) AS piece
         |  FROM dp$k WHERE i = L
         |  UNION ALL
         |  SELECT w, freq, bl, expect - bl[expect],
         |    substr(w, expect - bl[expect] + 1, bl[expect])
         |  FROM bt$k WHERE expect > 0)""".stripMargin
    s"""WITH RECURSIVE words AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w != '' GROUP BY 1),
       |g1 AS (
       |  SELECT substr(w, cast(i AS int), 1) AS p, sum(freq) AS cnt
       |  FROM (SELECT w, freq, unnest(generate_series(1, len(w))) AS i
       |        FROM words) GROUP BY 1),
       |g2 AS (
       |  SELECT substr(w, cast(i AS int), 2) AS p, sum(freq) AS cnt
       |  FROM (SELECT w, freq, unnest(generate_series(1, len(w) - 1)) AS i
       |        FROM words WHERE len(w) >= 2) GROUP BY 1),
       |g3 AS (
       |  SELECT substr(w, cast(i AS int), 3) AS p, sum(freq) AS cnt
       |  FROM (SELECT w, freq, unnest(generate_series(1, len(w) - 2)) AS i
       |        FROM words WHERE len(w) >= 3) GROUP BY 1),
       |s2 AS (SELECT p, cnt FROM (
       |  SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS r FROM g2)
       |  WHERE r <= $UnigramSeedNgrams),
       |s3 AS (SELECT p, cnt FROM (
       |  SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS r FROM g3)
       |  WHERE r <= $UnigramSeedNgrams),
       |seeds AS (SELECT p, cnt FROM g1 UNION ALL
       |  SELECT p, cnt FROM s2 UNION ALL SELECT p, cnt FROM s3),
       |$ilnTabSql,
       |tot AS (SELECT sum(cnt) AS t FROM seeds),
       |lp1 AS (
       |  SELECT p, ${ilnqSql("cnt")} - ${ilnqSql("t")} AS lp
       |  FROM seeds, tot, ilntab),
       |${dpBt(1, "lp1")},
       |e1 AS (
       |  SELECT piece AS p, cast(sum(freq) AS bigint) AS e1
       |  FROM bt1 WHERE piece IS NOT NULL GROUP BY 1),
       |se AS (
       |  SELECT s.p, coalesce(e1.e1, 0) AS e1
       |  FROM seeds s LEFT JOIN e1 ON e1.p = s.p),
       |chars AS (SELECT p, e1 FROM se WHERE length(p) = 1),
       |multi AS (SELECT p, e1 FROM se WHERE length(p) > 1 AND e1 > 0
       |  ORDER BY e1 DESC, p LIMIT $UnigramKeepNgrams),
       |kept AS (SELECT * FROM chars UNION ALL SELECT * FROM multi),
       |tot2 AS (SELECT sum(greatest(e1, 1)) AS t2 FROM kept),
       |lp2 AS (
       |  SELECT p, ${ilnqSql("greatest(e1, 1)")} - ${ilnqSql("t2")} AS lp
       |  FROM kept, tot2, ilntab),
       |${dpBt(2, "lp2")},
       |e2 AS (
       |  SELECT piece AS p, cast(sum(freq) AS bigint) AS e2_count
       |  FROM bt2 WHERE piece IS NOT NULL GROUP BY 1)
       |SELECT k.p AS piece, cast(length(k.p) AS bigint) AS piece_len,
       |  cast(k.e1 AS bigint) AS e1_count, e2.e2_count, l.lp AS lp2_micro
       |FROM kept k JOIN lp2 l ON l.p = k.p JOIN e2 ON e2.p = k.p
       |ORDER BY e2.e2_count DESC, k.p""".stripMargin
  }

  /** Rounds for [[unigramCurve]] and the per-round multi-char keep
    * schedule (100 → 60 → 20): SentencePiece's shrink-the-inventory
    * loop, fixed so both engines replay the identical training run. */
  val UnigramCurveRounds = 3
  def unigramCurveKeepN(round: Int): Int =
    math.max(20, UnigramKeepNgrams - 40 * (round - 1))

  /** Unigram-LM trainer curve (`text_unigram_curve`) — [[unigramEm]]'s
    * E-step and [[unigramPrune]]'s shrink composed over
    * [[UnigramCurveRounds]] rounds, the twin of `text_bpe_curve` for the
    * SentencePiece-style trainer: each round re-estimates piece log-probs
    * from the previous round's usage (`ilnq(max(e,1)) − ilnq(Σ max(e,1))`,
    * the prune convention), segments the vocabulary under them
    * ([[segment]]), then prunes the inventory to every single char + the
    * top-[[unigramCurveKeepN]] multi-char pieces by usage. Emits one
    * checkpoint row per round: inventory size before/after the prune,
    * pieces emitted by the segmentation, and the char-level compression
    * in basis points — the "is the trained tokenizer getting better per
    * unit of vocabulary" readout.
    *
    * The corpus collapses to the `(w, freq)` vocabulary once and every
    * round runs on the driver over that one collect, so the round count
    * adds no Spark job. The DuckDB twin replays all rounds as a chain of
    * MATERIALIZED CTEs (recursive DP per round). */
  def unigramCurve(spark: SparkSession, d: String): DataFrame =
    unigramCurveOver(Tables.documents(spark, d).select(col("text")))

  /** [[unigramCurve]] over an explicit docs frame (spec hook). */
  def unigramCurveOver(docs: DataFrame,
      rounds: Int = UnigramCurveRounds): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = collectUnigramWords(unigramWordsOf(docs))
    val chars = words.map(u => u.syms.length * u.freq).sum
    var inv = unigramSeeds(words)
    (1 to rounds).map { k =>
      val e = unigramUsage(words, unigramLp(inv))
      val before = inv.size.toLong
      inv = unigramKeep(inv, e, unigramCurveKeepN(k))
      val emitted = e.values.sum
      (k.toLong, before, inv.size.toLong, emitted, emitted * 10000L / chars)
    }.toDF("round", "vocab_before", "vocab_after", "pieces_emitted", "compression_bp")
  }

  val unigramCurveOracle: String = {
    def dpBt(k: Int, lpT: String): String =
      s"""dp$k AS (
         |  SELECT w, freq, len(w) AS L, 0 AS i,
         |    cast(0 AS bigint) AS d1, cast($UnigramNeg AS bigint) AS d2,
         |    cast($UnigramNeg AS bigint) AS d3, cast([] AS int[]) AS bl
         |  FROM words
         |  UNION ALL
         |  SELECT w, freq, L, i + 1,
         |    greatest(c1, c2, c3), d1, d2,
         |    list_append(bl, CASE WHEN c3 = greatest(c1, c2, c3) THEN 3
         |                         WHEN c2 = greatest(c1, c2, c3) THEN 2
         |                         ELSE 1 END)
         |  FROM (
         |    SELECT dp$k.w, dp$k.freq, dp$k.L, dp$k.i,
         |      dp$k.d1, dp$k.d2, dp$k.d3, dp$k.bl,
         |      dp$k.d1 + coalesce(l1.lp, $UnigramNeg) AS c1,
         |      dp$k.d2 + coalesce(l2.lp, $UnigramNeg) AS c2,
         |      dp$k.d3 + coalesce(l3.lp, $UnigramNeg) AS c3
         |    FROM dp$k
         |    LEFT JOIN $lpT l1 ON l1.p = substr(dp$k.w, dp$k.i + 1, 1)
         |    LEFT JOIN $lpT l2 ON dp$k.i >= 1 AND l2.p = substr(dp$k.w, dp$k.i, 2)
         |    LEFT JOIN $lpT l3 ON dp$k.i >= 2 AND l3.p = substr(dp$k.w, dp$k.i - 1, 3)
         |    WHERE dp$k.i < dp$k.L) s),
         |bt$k AS (
         |  SELECT w, freq, bl, L AS expect, cast(NULL AS varchar) AS piece
         |  FROM dp$k WHERE i = L
         |  UNION ALL
         |  SELECT w, freq, bl, expect - bl[expect],
         |    substr(w, expect - bl[expect] + 1, bl[expect])
         |  FROM bt$k WHERE expect > 0)""".stripMargin
    val roundsSql = (1 to UnigramCurveRounds).map { k =>
      s"""lp$k AS MATERIALIZED (
         |  SELECT p, ${ilnqSql("greatest(score, 1)")}
         |    - ${ilnqSql(s"(SELECT sum(greatest(score, 1)) FROM inv${k - 1})")} AS lp
         |  FROM inv${k - 1}, ilntab),
         |${dpBt(k, s"lp$k")},
         |e$k AS MATERIALIZED (
         |  SELECT piece AS p, cast(sum(freq) AS bigint) AS e
         |  FROM bt$k WHERE piece IS NOT NULL GROUP BY 1),
         |se$k AS MATERIALIZED (
         |  SELECT s.p, coalesce(e$k.e, 0) AS e
         |  FROM inv${k - 1} s LEFT JOIN e$k ON e$k.p = s.p),
         |multi$k AS MATERIALIZED (
         |  SELECT p, e FROM se$k WHERE length(p) > 1 AND e > 0
         |  ORDER BY e DESC, p LIMIT ${unigramCurveKeepN(k)}),
         |inv$k AS MATERIALIZED (
         |  SELECT p, e AS score FROM se$k WHERE length(p) = 1
         |  UNION ALL SELECT p, e FROM multi$k),
         |stat$k AS (
         |  SELECT cast($k AS bigint) AS round,
         |    (SELECT count(*) FROM inv${k - 1}) AS vocab_before,
         |    (SELECT count(*) FROM inv$k) AS vocab_after,
         |    (SELECT cast(sum(freq) AS bigint) FROM bt$k
         |     WHERE piece IS NOT NULL) AS pieces_emitted)""".stripMargin
    }.mkString(",\n")
    val union = (1 to UnigramCurveRounds)
      .map(k => s"SELECT * FROM stat$k").mkString(" UNION ALL ")
    s"""WITH RECURSIVE words AS MATERIALIZED (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w != '' GROUP BY 1),
       |g1 AS (
       |  SELECT substr(w, cast(i AS int), 1) AS p, sum(freq) AS cnt
       |  FROM (SELECT w, freq, unnest(generate_series(1, len(w))) AS i
       |        FROM words) GROUP BY 1),
       |g2 AS (
       |  SELECT substr(w, cast(i AS int), 2) AS p, sum(freq) AS cnt
       |  FROM (SELECT w, freq, unnest(generate_series(1, len(w) - 1)) AS i
       |        FROM words WHERE len(w) >= 2) GROUP BY 1),
       |g3 AS (
       |  SELECT substr(w, cast(i AS int), 3) AS p, sum(freq) AS cnt
       |  FROM (SELECT w, freq, unnest(generate_series(1, len(w) - 2)) AS i
       |        FROM words WHERE len(w) >= 3) GROUP BY 1),
       |s2 AS (SELECT p, cnt FROM (
       |  SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS r FROM g2)
       |  WHERE r <= $UnigramSeedNgrams),
       |s3 AS (SELECT p, cnt FROM (
       |  SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS r FROM g3)
       |  WHERE r <= $UnigramSeedNgrams),
       |inv0 AS MATERIALIZED (
       |  SELECT p, cnt AS score FROM g1 UNION ALL
       |  SELECT p, cnt FROM s2 UNION ALL SELECT p, cnt FROM s3),
       |$ilnTabSql,
       |$roundsSql
       |SELECT round, vocab_before, vocab_after, pieces_emitted,
       |  CAST(pieces_emitted * 10000 //
       |    (SELECT sum(len(w) * freq) FROM words) AS BIGINT) AS compression_bp
       |FROM ($union) ORDER BY round""".stripMargin
  }

  /** Trained-tokenizer application (`text_unigram_apply`) — the unigram
    * twin of [[bpeApply]]: segment the WHOLE corpus under the
    * [[unigramEm]] piece model and publish the per-source compression
    * table (tokens, chars, pieces after segmentation, basis points) —
    * read beside `text_bpe_apply` this is the tokenizer bake-off a real
    * pipeline runs before committing a vocab. The model (seeds + micro-ln
    * log-probs) is trained corpus-wide exactly as in [[unigramEm]]. Spark
    * scans the corpus once to (source, word) counts; the driver collects
    * the distinct words once, trains the model and counts each word's
    * pieces with [[segment]]; per-source numbers come from joining that
    * `(w, n_pieces)` table back onto the counts, all vocab-bounded. */
  def unigramApply(spark: SparkSession, d: String): DataFrame =
    unigramApplyOver(Tables.documents(spark, d).select(col("source"), col("text")))

  /** [[unigramApply]] over an explicit (source, text) frame (spec hook). */
  def unigramApplyOver(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // pinned as in [[bpeApplyOver]]: srcCounts feeds the vocab collect and
    // the final join-back; |vocab|·|sources|-bounded
    val srcCounts = docs
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val words = collectUnigramWords(
      srcCounts.groupBy(col("w")).agg(sum(col("freq")).as("freq")))
    val lp = unigramLp(unigramSeeds(words))
    val perWord = words.map(u => (u.w, segment(lp, u.syms).length.toLong))
      .toDF("w", "n_pieces")
    srcCounts.join(perWord, "w")
      .groupBy(col("source"))
      .agg(sum(col("freq")).as("n_tokens"),
        sum(length(col("w")).cast("long") * col("freq")).as("chars"),
        sum(col("n_pieces") * col("freq")).as("pieces_after"))
      .select(col("source"), col("n_tokens"), col("chars"), col("pieces_after"),
        expr("pieces_after * 10000 div chars").as("compression_bp"))
      .orderBy(col("source"))
  }

  val unigramApplyOracle: String =
    s"""WITH RECURSIVE src AS (
       |  SELECT source, w, count(*) AS freq FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w != '' GROUP BY 1, 2),
       |words AS (SELECT w, sum(freq) AS freq FROM src GROUP BY 1),
       |g1 AS (
       |  SELECT substr(w, cast(i AS int), 1) AS p, sum(freq) AS cnt
       |  FROM (SELECT w, freq, unnest(generate_series(1, len(w))) AS i
       |        FROM words) GROUP BY 1),
       |g2 AS (
       |  SELECT substr(w, cast(i AS int), 2) AS p, sum(freq) AS cnt
       |  FROM (SELECT w, freq, unnest(generate_series(1, len(w) - 1)) AS i
       |        FROM words WHERE len(w) >= 2) GROUP BY 1),
       |g3 AS (
       |  SELECT substr(w, cast(i AS int), 3) AS p, sum(freq) AS cnt
       |  FROM (SELECT w, freq, unnest(generate_series(1, len(w) - 2)) AS i
       |        FROM words WHERE len(w) >= 3) GROUP BY 1),
       |s2 AS (SELECT p, cnt FROM (
       |  SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS r FROM g2)
       |  WHERE r <= $UnigramSeedNgrams),
       |s3 AS (SELECT p, cnt FROM (
       |  SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS r FROM g3)
       |  WHERE r <= $UnigramSeedNgrams),
       |seeds AS (SELECT p, cnt FROM g1 UNION ALL
       |  SELECT p, cnt FROM s2 UNION ALL SELECT p, cnt FROM s3),
       |$ilnTabSql,
       |tot AS (SELECT sum(cnt) AS t FROM seeds),
       |lp AS (
       |  SELECT p, ${ilnqSql("cnt")} - ${ilnqSql("t")} AS lp
       |  FROM seeds, tot, ilntab),
       |dp AS (
       |  SELECT w, len(w) AS L, 0 AS i,
       |    cast(0 AS bigint) AS d1, cast($UnigramNeg AS bigint) AS d2,
       |    cast($UnigramNeg AS bigint) AS d3,
       |    cast(0 AS bigint) AS n1, cast(0 AS bigint) AS n2,
       |    cast(0 AS bigint) AS n3
       |  FROM words
       |  UNION ALL
       |  SELECT w, L, i + 1,
       |    greatest(c1, c2, c3), d1, d2,
       |    CASE WHEN c3 = greatest(c1, c2, c3) THEN n3 + 1
       |         WHEN c2 = greatest(c1, c2, c3) THEN n2 + 1
       |         ELSE n1 + 1 END,
       |    n1, n2
       |  FROM (
       |    SELECT dp.w, dp.L, dp.i, dp.d1, dp.d2, dp.d3, dp.n1, dp.n2, dp.n3,
       |      dp.d1 + coalesce(l1.lp, $UnigramNeg) AS c1,
       |      dp.d2 + coalesce(l2.lp, $UnigramNeg) AS c2,
       |      dp.d3 + coalesce(l3.lp, $UnigramNeg) AS c3
       |    FROM dp
       |    LEFT JOIN lp l1 ON l1.p = substr(dp.w, dp.i + 1, 1)
       |    LEFT JOIN lp l2 ON dp.i >= 1 AND l2.p = substr(dp.w, dp.i, 2)
       |    LEFT JOIN lp l3 ON dp.i >= 2 AND l3.p = substr(dp.w, dp.i - 1, 3)
       |    WHERE dp.i < dp.L) s),
       |perword AS (SELECT w, n1 AS n_pieces FROM dp WHERE i = L)
       |SELECT source, cast(sum(freq) AS bigint) AS n_tokens,
       |  cast(sum(length(w) * freq) AS bigint) AS chars,
       |  cast(sum(n_pieces * freq) AS bigint) AS pieces_after,
       |  cast(sum(n_pieces * freq) * 10000 // sum(length(w) * freq) AS bigint)
       |    AS compression_bp
       |FROM src JOIN perword USING (w)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  val unigramEmOracle: String =
    s"""WITH RECURSIVE words AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w != '' GROUP BY 1),
       |g1 AS (
       |  SELECT substr(w, cast(i AS int), 1) AS p, sum(freq) AS cnt
       |  FROM (SELECT w, freq, unnest(generate_series(1, len(w))) AS i
       |        FROM words) GROUP BY 1),
       |g2 AS (
       |  SELECT substr(w, cast(i AS int), 2) AS p, sum(freq) AS cnt
       |  FROM (SELECT w, freq, unnest(generate_series(1, len(w) - 1)) AS i
       |        FROM words WHERE len(w) >= 2) GROUP BY 1),
       |g3 AS (
       |  SELECT substr(w, cast(i AS int), 3) AS p, sum(freq) AS cnt
       |  FROM (SELECT w, freq, unnest(generate_series(1, len(w) - 2)) AS i
       |        FROM words WHERE len(w) >= 3) GROUP BY 1),
       |s2 AS (SELECT p, cnt FROM (
       |  SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS r FROM g2)
       |  WHERE r <= $UnigramSeedNgrams),
       |s3 AS (SELECT p, cnt FROM (
       |  SELECT p, cnt, row_number() OVER (ORDER BY cnt DESC, p) AS r FROM g3)
       |  WHERE r <= $UnigramSeedNgrams),
       |seeds AS (SELECT p, cnt FROM g1 UNION ALL
       |  SELECT p, cnt FROM s2 UNION ALL SELECT p, cnt FROM s3),
       |$ilnTabSql,
       |tot AS (SELECT sum(cnt) AS t FROM seeds),
       |lp AS (
       |  SELECT p, ${ilnqSql("cnt")} - ${ilnqSql("t")} AS lp
       |  FROM seeds, tot, ilntab),
       |dp AS (
       |  SELECT w, freq, len(w) AS L, 0 AS i,
       |    cast(0 AS bigint) AS d1, cast($UnigramNeg AS bigint) AS d2,
       |    cast($UnigramNeg AS bigint) AS d3, cast([] AS int[]) AS bl
       |  FROM words
       |  UNION ALL
       |  SELECT w, freq, L, i + 1,
       |    greatest(c1, c2, c3), d1, d2,
       |    list_append(bl, CASE WHEN c3 = greatest(c1, c2, c3) THEN 3
       |                         WHEN c2 = greatest(c1, c2, c3) THEN 2
       |                         ELSE 1 END)
       |  FROM (
       |    SELECT dp.w, dp.freq, dp.L, dp.i, dp.d1, dp.d2, dp.d3, dp.bl,
       |      dp.d1 + coalesce(l1.lp, $UnigramNeg) AS c1,
       |      dp.d2 + coalesce(l2.lp, $UnigramNeg) AS c2,
       |      dp.d3 + coalesce(l3.lp, $UnigramNeg) AS c3
       |    FROM dp
       |    LEFT JOIN lp l1 ON l1.p = substr(dp.w, dp.i + 1, 1)
       |    LEFT JOIN lp l2 ON dp.i >= 1 AND l2.p = substr(dp.w, dp.i, 2)
       |    LEFT JOIN lp l3 ON dp.i >= 2 AND l3.p = substr(dp.w, dp.i - 1, 3)
       |    WHERE dp.i < dp.L) s),
       |bt AS (
       |  SELECT w, freq, bl, L AS expect, cast(NULL AS varchar) AS piece
       |  FROM dp WHERE i = L
       |  UNION ALL
       |  SELECT w, freq, bl, expect - bl[expect],
       |    substr(w, expect - bl[expect] + 1, bl[expect])
       |  FROM bt WHERE expect > 0),
       |ecnt AS (
       |  SELECT piece AS p, cast(sum(freq) AS bigint) AS e_count
       |  FROM bt WHERE piece IS NOT NULL GROUP BY 1),
       |etot AS (SELECT sum(e_count) AS et FROM ecnt)
       |SELECT s.p AS piece, cast(length(s.p) AS bigint) AS piece_len,
       |  cast(s.cnt AS bigint) AS seed_count, e.e_count,
       |  ${ilnqSql("e.e_count")} - ${ilnqSql("et.et")} AS lp_micro
       |FROM seeds s JOIN ecnt e ON e.p = s.p, etot et, ilntab
       |ORDER BY e.e_count DESC, s.p""".stripMargin

  /** Zipf head size for [[zipfSlope]]: the fit runs over the top
    * [[ZipfHead]] ranks, where the power law holds and the long-noise tail
    * does not dominate the regression (standard practice); it also bounds
    * every magnitude in the all-long arithmetic proof below. */
  val ZipfHead = 1000

  /** Zipf-law vocabulary audit (`text_zipf_slope`) — per-source power-law
    * exponent of the rank/frequency curve, the standard corpus-health
    * diagnostic (a healthy natural-language crawl fits ln f ≈ −s·ln r with
    * s ≈ 1; machine-generated or template-heavy sources bend it). Least
    * squares over the top-[[ZipfHead]] ranks with both coordinates
    * quantized to integer MILLI-lns (`floor(ln·1000 + 0.5)` — the
    * jsDivergence precedent: quantize each term BEFORE any sum so nothing
    * accumulates float error), so the whole fit is exact long arithmetic:
    * slope_neg_e4 = (10⁴·(Σx·Σy − n·Σxy)) div (n·Σx² − (Σx)²), reported
    * NEGATED (≈10 000 for s=1) because rank-ordering makes frequency
    * non-increasing in rank, hence the covariance ≤ 0 and the negated
    * numerator ≥ 0 — truncating `div` therefore agrees between engines
    * with no floor-vs-truncate sign hazard. Magnitude proof for the long
    * arithmetic: x ≤ ln(10³)·10³ < 6 909, y ≤ ln(10¹²)·10³ < 27 632 even
    * at 10¹² corpus tokens, so 10⁴·Σx·Σy < 1.9e18 < 2⁶³.
    *
    * Scale: one corpus pass to the (source, word) vocab agg; the rank
    * window partitions by source over the VOCAB table (never the corpus)
    * and the fit is a |sources|-row aggregate of the 1000-row heads. */
  def zipfSlope(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocab = Tables.documents(spark, d)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val tot = vocab.groupBy(col("source"))
      .agg(count(lit(1)).as("n_vocab"), sum(col("c")).as("n_tokens"))
    val head = vocab
      .withColumn("r", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("c").desc, col("w"))))
      .filter(col("r") <= ZipfHead)
      .select(col("source"),
        floor(log(col("r").cast("double")) * 1000 + lit(0.5))
          .cast("long").as("x"),
        floor(log(col("c").cast("double")) * 1000 + lit(0.5))
          .cast("long").as("y"))
    head.groupBy(col("source"))
      .agg(count(lit(1)).as("n_head"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n_head") > 1)
      .join(broadcast(tot), "source")
      .select(col("source"), col("n_vocab"), col("n_tokens"), col("n_head"),
        expr("(10000L * (sx * sy - n_head * sxy)) div (n_head * sxx - sx * sx)")
          .as("slope_neg_e4"))
      .orderBy(col("source"))
  }

  /** Number of unrolled merge steps in [[wordpieceTrain]]. */
  val WordPieceSteps = 5

  /** WordPiece-style tokenizer training (`text_wordpiece_train`) — the
    * THIRD trainer family beside BPE ([[bpeTrain]]) and unigram-LM
    * ([[unigramEm]]): merge-based like BPE but each round picks the pair
    * maximizing the LIKELIHOOD gain score count(ab) / (count(a)·count(b))
    * (Schuster & Nakajima 2012; the criterion BERT's tokenizer trains
    * under), not the raw pair count. Scores are compared in the repo's
    * exact-integer convention: milli-ln quantized per TERM before the
    * subtraction — `lnq(count_ab) − lnq(count_a) − lnq(count_b)` — so the
    * argmax is a bigint comparison identical on both engines; ties break
    * on pair string order. The oracle reuses [[bpeTrain]]'s double-space
    * replace encoding (SQL replace's left-to-right non-overlapping scan IS
    * the greedy pass).
    *
    * 100 TB shape: identical to [[bpeTrain]] — ONE corpus pass reduces to
    * the (word, freq) vocabulary, which [[trainMerges]] trains on the
    * driver. Emits per step: the chosen pair, its adjacency count, and the
    * milli-ln likelihood score. */
  def wordpieceTrain(spark: SparkSession, d: String,
      steps: Int = WordPieceSteps): DataFrame =
    wordpieceTrainOver(Tables.documents(spark, d).select(col("text")), steps)

  /** [[wordpieceTrain]] over an explicit docs frame (spec hook). */
  def wordpieceTrainOver(docs: DataFrame, steps: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMerges(trainWords(docs), steps)(wordpieceScore).zipWithIndex
      .map { case (m, i) => (i + 1L, m.pair, m.count, m.score) }
      .toDF("step", "pair", "pair_count", "score_milli")
  }

  /** `floor(ln(x)·1000 + 0.5)`, the WordPiece milli-ln quantizer: the
    * `StrictMath.log` Spark's `log` calls, so it equals the oracles'
    * `floor(ln(x) * 1000 + 0.5)`. */
  private[graft] def lnq(x: Long): Long =
    math.floor(StrictMath.log(x.toDouble) * 1000 + 0.5).toLong

  /** WordPiece's likelihood score `lnq(pc) − lnq(ca) − lnq(cb)`. Training
    * words are the len≥2 vocabulary, so the symbol counts (the denominator,
    * fully-merged 1-symbol words included) come from it too, as in the
    * oracle. */
  private val wordpieceScore: (Long, Long, Long) => Long =
    (n, ca, cb) => lnq(n) - lnq(ca) - lnq(cb)

  /** Rounds in [[wordpieceCurve]]. */
  val WordPieceCurveSteps = 20

  /** Trained-WordPiece curve (`text_wordpiece_curve`) — the likelihood
    * trainer run to [[WordPieceCurveSteps]] merges, the exact
    * triplet-completing twin of `text_bpe_curve` (count argmax) and
    * `text_unigram_curve` (EM + prune): corpus scanned ONCE into the
    * (word, freq) vocabulary; emits per round (merge, count, score, corpus
    * symbols after) — the diminishing-returns curve a tokenizer trainer
    * watches, which for WordPiece DECAYS IN SCORE rather than count. The
    * oracle unrolls the identical 20 rounds as MATERIALIZED CTEs. */
  def wordpieceCurve(spark: SparkSession, d: String,
      steps: Int = WordPieceCurveSteps): DataFrame =
    wordpieceCurveOver(Tables.documents(spark, d).select(col("text")), steps)

  /** [[wordpieceCurve]] over an explicit docs frame (spec hook). */
  def wordpieceCurveOver(docs: DataFrame, steps: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainMerges(trainWords(docs), steps)(wordpieceScore).zipWithIndex
      .map { case (m, i) => (i + 1L, m.pair, m.count, m.score, m.symbolsAfter) }
      .toDF("step", "pair", "pair_count", "score_milli", "symbols_after")
  }

  val wordpieceCurveOracle: String = {
    val steps = (1 to WordPieceCurveSteps).map { k =>
      s"""${wordpieceStepSql(k)},
         |symafter$k AS (
         |  SELECT cast(sum(len(string_split(trim(s), '  ')) * freq) AS bigint)
         |    AS symbols_after
         |  FROM vocab$k),
         |row$k AS (
         |  SELECT step, pair, pair_count, score_milli, symbols_after
         |  FROM best$k, symafter$k)""".stripMargin
    }.mkString(",\n")
    val union = (1 to WordPieceCurveSteps)
      .map(kk => s"SELECT * FROM row$kk").mkString(" UNION ALL ")
    s"""WITH words AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 2 GROUP BY 1),
       |vocab0 AS MATERIALIZED (
       |  SELECT ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s,
       |    freq
       |  FROM words),
       |$steps
       |$union ORDER BY step""".stripMargin
  }

  /** One step of the WordPiece train oracle CTE chain (pair counts, symbol
    * counts, milli-ln likelihood scoring, argmax, merge). MATERIALIZED
    * throughout — each round references the previous round's vocab three
    * times, which would inline exponentially otherwise. */
  private def wordpieceStepSql(k: Int): String = {
    val lnq = (x: String) =>
      s"cast(floor(ln(cast($x AS double)) * 1000 + 0.5) AS bigint)"
    s"""pair$k AS MATERIALIZED (
       |  SELECT l[i] || ' ' || l[i+1] AS pair,
       |    cast(sum(freq) AS bigint) AS pair_count
       |  FROM (SELECT l, freq, unnest(generate_series(1, len(l) - 1)) AS i
       |        FROM (SELECT string_split(trim(s), '  ') AS l, freq
       |              FROM vocab${k - 1})
       |        WHERE len(l) >= 2)
       |  GROUP BY 1),
       |sym$k AS MATERIALIZED (
       |  SELECT sym, cast(sum(freq) AS bigint) AS cnt
       |  FROM (SELECT unnest(string_split(trim(s), '  ')) AS sym, freq
       |        FROM vocab${k - 1})
       |  GROUP BY 1),
       |best$k AS MATERIALIZED (
       |  SELECT cast($k AS bigint) AS step, p.pair, p.pair_count,
       |    ${lnq("p.pair_count")} - ${lnq("a.cnt")} - ${lnq("b.cnt")}
       |      AS score_milli
       |  FROM pair$k p
       |  JOIN sym$k a ON a.sym = split_part(p.pair, ' ', 1)
       |  JOIN sym$k b ON b.sym = split_part(p.pair, ' ', 2)
       |  ORDER BY score_milli DESC, p.pair LIMIT 1),
       |vocab$k AS MATERIALIZED (
       |  SELECT replace(s,
       |    ' ' || split_part(pair, ' ', 1) || '  ' ||
       |      split_part(pair, ' ', 2) || ' ',
       |    ' ' || split_part(pair, ' ', 1) ||
       |      split_part(pair, ' ', 2) || ' ') AS s, freq
       |  FROM vocab${k - 1}, best$k)""".stripMargin
  }

  val wordpieceTrainOracle: String = {
    val steps = (1 to WordPieceSteps).map(wordpieceStepSql).mkString(",\n")
    val union = (1 to WordPieceSteps)
      .map(k => s"SELECT * FROM best$k").mkString(" UNION ALL ")
    s"""WITH words AS (
       |  SELECT w, count(*) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 2 GROUP BY 1),
       |vocab0 AS MATERIALIZED (
       |  SELECT ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s,
       |    freq
       |  FROM words),
       |$steps
       |$union ORDER BY step""".stripMargin
  }

  /** WordPiece tokenizer application (`text_wordpiece_apply`) — greedy
    * LONGEST-MATCH-FIRST segmentation (MaxMatch — the actual WordPiece
    * INFERENCE algorithm, which unlike BPE's merge replay consults only
    * the trained vocabulary): at each position take the longest vocabulary
    * piece that matches, else consume one character. The trained
    * vocabulary is the corpus alphabet plus the [[WordPieceSteps]] merge
    * products; a merge can fuse two MULTI-CHAR products ('ab'+'ab' →
    * 'abab' at step 2), so product lengths reach up to 2^steps — the
    * matcher's probe chain therefore runs from the ACTUAL max trained
    * product length (read off the ≤ steps-row model, not assumed) down to
    * 2 against the one-row merge-product map, falling through to the
    * single-char consume — single chars match-or-fallback identically, so
    * only multi-char products need shipping. The oracle's recursive
    * matcher takes max(length) over matching products — the same
    * longest-match-first rule without a static chain.
    *
    * The per-word pass is one `aggregate` fold with a 2-register state
    * (next unconsumed position, pieces so far): pure fixed-width codegen,
    * the [[unigramApply]] discipline. Near a word's end `substr(w,i,6)`
    * truncates to the remainder — the truncated candidate IS the longest
    * possible match there, so truncation preserves MaxMatch semantics on
    * both engines (DuckDB substr truncates identically; the oracle's
    * recursion takes the same CASE 6→2 walk).
    *
    * 100 TB shape: corpus scanned once to (source, word) counts; the
    * matcher runs per DISTINCT word against a broadcast one-row piece map;
    * per-source numbers come from the count join-back — all vocab-bounded
    * after the first pass. Output is the same per-source compression table
    * as [[bpeApply]] / [[unigramApply]] — the third column of the
    * tokenizer bake-off. */
  def wordpieceApply(spark: SparkSession, d: String,
      steps: Int = WordPieceSteps): DataFrame =
    wordpieceApplyOver(
      Tables.documents(spark, d).select(col("source"), col("text")), steps)

  /** [[wordpieceApply]] over an explicit (source, text) frame (spec hook). */
  def wordpieceApplyOver(docs: DataFrame, steps: Int = WordPieceSteps): DataFrame = {
    // pinned: srcCounts feeds the word rollup AND the final join-back —
    // unpinned, each replayed the corpus tokenization. The vocab-sized
    // rollup is read twice (trainer collect, MaxMatch pass) and not pinned.
    val srcCounts = docs
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val words = srcCounts.groupBy(col("w")).agg(sum(col("freq")).as("freq"))
    // merge-product map (≤ steps entries, each the fused pair): the merges
    // are driver rows (the shipped model), so the piece map embeds as a
    // LITERAL map — no pin, no one-row aggregate, no broadcast jobs
    val prods = trainMerges(words.filter(length(col("w")) >= 2), steps)(wordpieceScore)
      .map(_.pair.replace(" ", "")).distinct
    // the MaxMatch probe bound comes from the ACTUAL trained products, not
    // steps+1: a merge can fuse two multi-char products ('ab'+'ab' → 'abab'
    // at step 2), so vocabulary pieces reach up to 2^steps chars — probing
    // only 2..steps+1 would silently skip longer pieces that ARE in the
    // shipped map
    val maxLen = if (prods.isEmpty) 2 else math.max(2, prods.map(_.length).max)
    val mpLit = typedLit(prods.map(p => p -> 1).toMap)
    val perWord = words
      .withColumn("mp", mpLit)
      .withColumn("n_pieces", aggregate(
        sequence(lit(1), length(col("w"))),
        struct(lit(1).as("pos"), lit(0L).as("cnt")),
        (st, i) => {
          val mlen = (maxLen to 2 by -1).foldRight(lit(1)) { (l, fallback) =>
            when(element_at(col("mp"),
              col("w").substr(i, lit(l))).isNotNull, l).otherwise(fallback)
          }
          when(i < st.getField("pos"), st).otherwise(
            struct((i + mlen).as("pos"), (st.getField("cnt") + 1L).as("cnt")))
        },
        st => st.getField("cnt")))
      .select(col("w"), col("n_pieces"))
    srcCounts.join(perWord, "w")
      .groupBy(col("source"))
      .agg(sum(col("freq")).as("n_tokens"),
        sum(length(col("w")).cast("long") * col("freq")).as("chars"),
        sum(col("n_pieces") * col("freq")).as("pieces_after"))
      .select(col("source"), col("n_tokens"), col("chars"), col("pieces_after"),
        expr("pieces_after * 10000 div chars").as("compression_bp"))
      .orderBy(col("source"))
  }

  val wordpieceApplyOracle: String = {
    val steps = (1 to WordPieceSteps).map(wordpieceStepSql).mkString(",\n")
    val union = (1 to WordPieceSteps)
      .map(k => s"SELECT pair FROM best$k").mkString(" UNION ALL ")
    s"""WITH RECURSIVE src AS MATERIALIZED (
       |  SELECT source, w, count(*) AS freq FROM (
       |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE w != '' GROUP BY 1, 2),
       |awords AS MATERIALIZED (SELECT w, sum(freq) AS freq FROM src GROUP BY 1),
       |words AS (SELECT w, freq FROM awords WHERE length(w) >= 2),
       |vocab0 AS MATERIALIZED (
       |  SELECT ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS s,
       |    freq
       |  FROM words),
       |$steps,
       |mp AS MATERIALIZED (
       |  SELECT DISTINCT replace(pair, ' ', '') AS p FROM ($union)),
       |pmatch AS MATERIALIZED (
       |  SELECT a.w, a.pos, coalesce(max(length(m.p)), 1) AS mlen
       |  FROM (SELECT w, cast(unnest(generate_series(1, len(w))) AS int) AS pos
       |        FROM awords) a
       |  LEFT JOIN mp m ON m.p = substr(a.w, a.pos, length(m.p))
       |  GROUP BY 1, 2),
       |seg AS (
       |  SELECT w, 1 AS pos, cast(0 AS bigint) AS cnt FROM awords
       |  UNION ALL
       |  SELECT s.w, s.pos + p.mlen, s.cnt + 1
       |  FROM seg s JOIN pmatch p ON p.w = s.w AND p.pos = s.pos),
       |perw AS (SELECT w, max(cnt) AS n_pieces FROM seg GROUP BY 1)
       |SELECT s.source, cast(sum(s.freq) AS bigint) AS n_tokens,
       |  cast(sum(length(s.w) * s.freq) AS bigint) AS chars,
       |  cast(sum(p.n_pieces * s.freq) AS bigint) AS pieces_after,
       |  cast(sum(p.n_pieces * s.freq) * 10000 // sum(length(s.w) * s.freq)
       |    AS bigint) AS compression_bp
       |FROM src s JOIN perw p ON p.w = s.w
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  val zipfSlopeOracle: String =
    s"""WITH vocab AS (
       |  SELECT source, t AS w, count(*) AS c
       |  FROM (SELECT source, unnest(string_split(text, ' ')) AS t
       |        FROM documents)
       |  GROUP BY 1, 2),
       |tot AS (
       |  SELECT source, count(*) AS n_vocab, sum(c) AS n_tokens
       |  FROM vocab GROUP BY 1),
       |head AS (
       |  SELECT source,
       |    cast(floor(ln(cast(r AS double)) * 1000 + 0.5) AS bigint) AS x,
       |    cast(floor(ln(cast(c AS double)) * 1000 + 0.5) AS bigint) AS y
       |  FROM (SELECT source, c,
       |          row_number() OVER (PARTITION BY source
       |                             ORDER BY c DESC, w) AS r
       |        FROM vocab)
       |  WHERE r <= $ZipfHead),
       |fit AS (
       |  SELECT source, count(*) AS n_head,
       |    sum(x) AS sx, sum(y) AS sy,
       |    sum(x * y) AS sxy, sum(x * x) AS sxx
       |  FROM head GROUP BY 1)
       |SELECT f.source, cast(t.n_vocab AS bigint) AS n_vocab,
       |  cast(t.n_tokens AS bigint) AS n_tokens,
       |  cast(f.n_head AS bigint) AS n_head,
       |  cast((10000 * (sx * sy - n_head * sxy))
       |    // (n_head * sxx - sx * sx) AS bigint) AS slope_neg_e4
       |FROM fit f JOIN tot t ON f.source = t.source
       |WHERE f.n_head > 1 ORDER BY 1""".stripMargin
}
