package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetUtils.materializeAtLeaf

import TextFunctions.tokens

/** N-gram language-model scoring — the CCNet-style "perplexity filter"
  * stage of a training-data pipeline: train token statistics on a
  * reference corpus, score every candidate document by its average
  * per-token log-probability, keep the middle of the distribution
  * (too-low perplexity = boilerplate, too-high = noise).
  *
  * The model is a bigram LM with *stupid backoff* (Brants et al. 2007,
  * "Large Language Models in Machine Translation"): the score of a
  * token given its predecessor is
  *
  *   S(cur | prev) = count(prev cur) / count(prev)   if the bigram was seen
  *                 = alpha * count(cur) / N           else if cur was seen
  *                 = alpha * alpha / N                else (unknown token)
  *
  * — not a normalized probability, which is exactly why it scales:
  * scores are pure count ratios (no discounting constants to fit, no
  * normalization pass over the vocabulary), so the "training" step is
  * two counting aggregations, and two engines computing IEEE double
  * ratios of the same integer counts agree bit-for-bit. The only
  * transcendental is the log10 at scoring time, snapped to 6 dp the
  * moment it is computed (the BM25 discipline); per-position scores
  * then sum as DECIMAL(18,6) so the per-document average is
  * order-independent.
  *
  * Scale shape: counting is explode + `groupBy` with map-side partial
  * aggregation — the shuffle carries vocabulary-sized (unigram) and
  * distinct-bigram-sized data, never the corpus. Model enrichment
  * (conditional-probability and backoff tables) happens vocab-side
  * BEFORE any corpus-sized join, so scoring touches the corpus with
  * exactly TWO joins — positions⋈condProb on (prev, cur) and
  * positions⋈backoff on (cur) — rather than three (the naive plan joins
  * unigram counts twice more). A pruned production model (KenLM-style,
  * ~1e7–1e8 surviving n-grams) broadcasts: pass `broadcastModel = true`
  * and scoring becomes map-side only — the corpus never shuffles, which
  * is also what makes the scorer streaming-safe against a fixed model.
  *
  * Reference scope note: beyond-reference pipeline surface (SURVEY
  * §2.5); the reference library has no text-model operators.
  */
object LanguageModel {

  /** Unigram count table `(token, c1)` — vocabulary-sized after the
    * map-side partial-agg collapse.
    */
  def unigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("c1"))

  /** Bigram count table `(prev, cur, c2)`. Pairs are built map-side as
    * `zip(t[0..n-2], t[1..n-1])` and exploded as 2-string rows — the
    * token array is never carried per exploded row. Documents with
    * fewer than two tokens (including null text) contribute nothing.
    */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame =
    pairPositions(docs.select(lit(0L).as("doc_id"), col(textCol)), "doc_id",
        textCol, outer = false)
      .groupBy("prev", "cur")
      .agg(count(lit(1)).as("c2"))

  /** `(doc_id, prev, cur)` — one row per adjacent token pair. With
    * `outer = true`, documents with no pairs (fewer than two tokens,
    * null text) emit a single `(doc_id, null, null)` row so every input
    * document survives to the per-document aggregate.
    */
  private def pairPositions(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      outer: Boolean): DataFrame = {
    val t = tokens(col(textCol))
    val m = greatest(size(t) - 1, lit(0))
    val pairs = arrays_zip(
      slice(t, lit(1), m).as("prev"),
      slice(t, lit(2), m).as("cur"))
    val ex = if (outer) explode_outer(pairs) else explode(pairs)
    docs
      .select(col(idCol).as("doc_id"), ex.as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"), col("p.cur").as("cur"))
  }

  /** Score `docs` against a trained model: one row PER INPUT DOCUMENT —
    * `(doc_id, n_scored, avg_logp, ppl)`. `n_scored` is the number of
    * scored positions (token count − 1, 0 for sub-two-token or
    * null-text docs, whose `avg_logp`/`ppl` are null); `avg_logp` is
    * the mean 6dp-snapped log10 stupid-backoff score;
    * `ppl = 10^(−avg_logp)` rounded to 4 dp (the snap immediately
    * after each engine's `pow`, mirroring the log10 discipline).
    *
    * `unigrams`/`bigrams` are [[unigramCounts]]/[[bigramCounts]] output
    * (typically persisted or read back from parquet — the model is an
    * artifact trained once and scored against many times).
    * `broadcastModel = true` broadcasts both enriched model tables:
    * correct whenever the pruned model fits an executor, and turns
    * scoring into a map-side-only pass.
    */
  def scoreDocs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      unigrams: DataFrame,
      bigrams: DataFrame,
      alpha: Double = 0.4,
      broadcastModel: Boolean = false): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha=$alpha must be in (0, 1]")
    val tot = unigrams.agg(sum(col("c1")).cast("long").as("n_total"))
    // vocab-side enrichment: all count arithmetic happens BEFORE any
    // corpus-sized join, with a fixed association order both engines
    // replay exactly (c2/c1; (alpha*c1)/N)
    val cond = bigrams
      .join(unigrams.select(col("token").as("prev"), col("c1").as("c_prev")),
        Seq("prev"))
      .select(col("prev"), col("cur"),
        (col("c2").cast("double") / col("c_prev").cast("double")).as("p_cond"))
    val back = unigrams
      .crossJoin(broadcast(tot))
      .select(col("token").as("cur"),
        (lit(alpha) * col("c1") / col("n_total").cast("double")).as("p_back"))
    val (condJ, backJ) =
      if (broadcastModel) (broadcast(cond), broadcast(back)) else (cond, back)
    val s = when(col("prev").isNull, lit(null).cast("double"))
      .when(col("p_cond").isNotNull, col("p_cond"))
      .when(col("p_back").isNotNull, col("p_back"))
      .otherwise(lit(alpha) * lit(alpha) / col("n_total").cast("double"))
    pairPositions(docs, idCol, textCol, outer = true)
      .join(condJ, Seq("prev", "cur"), "left")
      .join(backJ, Seq("cur"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("term_lp", round(log10(s), 6).cast("decimal(18,6)"))
      .groupBy("doc_id")
      .agg(
        count(col("term_lp")).as("n_scored"),
        round(sum(col("term_lp")).cast("double") /
          count(col("term_lp")).cast("double"), 6).as("avg_logp"))
      .withColumn("ppl", round(pow(lit(10.0), -col("avg_logp")), 4))
  }

  /** Train-on-one-corpus, score-another convenience: counts from
    * `modelDocs` are persisted for the two enrichment consumers, the
    * (docs × 1)-sized result is materialized, and the model caches are
    * released — the BM25 persist/release discipline.
    */
  def perplexityScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      modelDocs: DataFrame,
      modelTextCol: String,
      alpha: Double = 0.4,
      broadcastModel: Boolean = false): DataFrame = {
    val uni = unigramCounts(modelDocs, modelTextCol).persist()
    val big = bigramCounts(modelDocs, modelTextCol).persist()
    val out = scoreDocs(docs, idCol, textCol, uni, big, alpha, broadcastModel)
    materializeAtLeaf(out, uni, big)
  }

  /** A driver-collected bigram model for map-side scoring. Bounded by
    * construction: [[collectModel]] refuses models past `maxEntries`
    * (the streaming/broadcast deployment is a PRUNED model — CCNet
    * ships ~1e7 surviving n-grams, far under the default bound; an
    * unpruned web-scale model belongs on the distributed
    * [[scoreDocs]] path).
    */
  case class BigramLM(
      uni: Map[String, Long],
      big: Map[(String, String), Long],
      nTotal: Long)

  /** Collect [[unigramCounts]]/[[bigramCounts]] output into a
    * [[BigramLM]]. Fails loud when the model exceeds `maxEntries` total
    * rows rather than silently OOM-ing the driver.
    */
  def collectModel(
      unigrams: DataFrame,
      bigrams: DataFrame,
      maxEntries: Long = 5000000L): BigramLM = {
    val nUni = unigrams.count(); val nBig = bigrams.count()
    require(nUni + nBig <= maxEntries,
      s"model has ${nUni + nBig} entries > maxEntries=$maxEntries — prune " +
        "the count tables or use the distributed scoreDocs path")
    val uni = unigrams.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val big = bigrams.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    BigramLM(uni, big, uni.valuesIterator.sum)
  }

  /** Map-side-only scoring against a collected model: same output
    * contract as [[scoreDocs]] — `(doc_id, n_scored, avg_logp, ppl)` —
    * but zero joins and zero shuffles: one scalar function per row over
    * a broadcast model. This is the scorer that runs verbatim on a
    * STREAM (stateless, append-mode — StreamingSuite parity-pins it)
    * and the one to prefer whenever the pruned model fits the driver;
    * the suite pins it row-identical to [[scoreDocs]] on the test
    * corpus. The arithmetic twins [[scoreDocs]] exactly: same backoff
    * branches, 6dp HALF_UP log10 snap, scale-6 decimal summation, 6dp
    * average, 4dp `10^-avg`.
    */
  def scoreWithModel(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: BigramLM,
      alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha=$alpha must be in (0, 1]")
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    def r(x: Double, sc: Int): Double =
      BigDecimal(x).setScale(sc, BigDecimal.RoundingMode.HALF_UP).toDouble
    val score = udf { (text: String) =>
      val m = bc.value
      // twin of tokens(): Spark's trim strips ONLY ASCII space (0x20) —
      // Java's String.trim strips all chars <= 0x20 and would tokenize
      // "\ntext" differently — then lower + split keeping empties
      val ts =
        if (text == null) Array.empty[String]
        else {
          var a = 0; var b = text.length
          while (a < b && text.charAt(a) == ' ') a += 1
          while (b > a && text.charAt(b - 1) == ' ') b -= 1
          text.substring(a, b).toLowerCase.split("\\s+", -1)
        }
      if (ts.length < 2) (0L, None: Option[Double], None: Option[Double])
      else {
        var sum = BigDecimal(0).setScale(6)
        var i = 1
        while (i < ts.length) {
          val p = ts(i - 1); val c = ts(i)
          val s = m.big.get((p, c)) match {
            case Some(c2) => c2.toDouble / m.uni(p).toDouble
            case None => m.uni.get(c) match {
              case Some(c1) => alpha * c1 / m.nTotal.toDouble
              case None => alpha * alpha / m.nTotal.toDouble
            }
          }
          sum += BigDecimal(r(math.log10(s), 6)).setScale(6)
          i += 1
        }
        val n = ts.length - 1
        val avg = r(sum.toDouble / n.toDouble, 6)
        (n.toLong, Some(avg), Some(r(math.pow(10.0, -avg), 4)))
      }
    }
    docs
      .select(col(idCol).as("doc_id"), score(col(textCol)).as("s"))
      .select(col("doc_id"), col("s._1").as("n_scored"),
        col("s._2").as("avg_logp"), col("s._3").as("ppl"))
  }

  /** The CCNet band filter: keep documents whose perplexity falls in
    * `[lo, hi]` — drop the suspiciously-predictable tail (boilerplate,
    * templates) AND the high-perplexity tail (noise, non-language).
    * Unscorable docs (`ppl` null: fewer than two tokens) are dropped —
    * they carry no LM evidence and the length-based quality filters own
    * them. Returns the scored docs (original columns + the three score
    * columns).
    */
  def perplexityBand(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      unigrams: DataFrame,
      bigrams: DataFrame,
      lo: Double,
      hi: Double,
      alpha: Double = 0.4,
      broadcastModel: Boolean = false): DataFrame = {
    require(lo <= hi, s"lo=$lo must be <= hi=$hi")
    val scores = scoreDocs(docs, idCol, textCol, unigrams, bigrams, alpha,
      broadcastModel)
    docs.join(scores.withColumnRenamed("doc_id", idCol), Seq(idCol))
      .filter(col("ppl").isNotNull && col("ppl") >= lo && col("ppl") <= hi)
  }
}
