package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetUtils.materializeAtLeaf
import org.apache.spark.sql.graft.TopKRows.topk_rows

import TextFunctions.tokens

/** Sparse text retrieval over a corpus — the lexical complement of
  * [[Similarity]]'s dense ANN stack. The workhorse is BM25 (Robertson &
  * Zaragoza 2009; the Lucene `k1`/`b` variant), the ranking function
  * behind retrieval-based dedup audits, eval-set leakage triage ("which
  * training docs would RETRIEVE this benchmark question?"), and
  * RAG-style corpus probes.
  *
  * Reference scope note: beyond-reference pipeline surface (SURVEY
  * §2.5); the reference library has no retrieval surface.
  */
object Retrieval {

  /** The corpus's posting-list table: one row per (doc, token) with the
    * term frequency and the doc's token length riding along —
    * `(doc_id, token, tf, dl)`. One corpus-sized explode collapsed by
    * map-side partial aggregation to vocabulary x doc sparsity before
    * the shuffle (the same shape as [[CorpusStats.tfidfTopTerms]]'s tf
    * stage). Persist it when issuing multiple query batches — it is the
    * "index" a production deployment would write to parquet, bucketed
    * by token.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docTokens(docs, idCol, textCol)
      // dl is functionally dependent on doc_id: keying it costs nothing
      // beyond key width and saves a join against a doc-length table
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).as("tf"))

  /** The shared tokenize-and-explode stage: `(doc_id, dl, token)`, one
    * row per token OCCURRENCE. The token array is projected ONCE and
    * then consumed by both `size` and `explode` as an attribute —
    * putting `tokens(text)` inline in both positions would evaluate the
    * regex split twice per row (Generate does not share subexpressions
    * with its projection), and tokenization is the dominant per-row
    * cost of the whole retrieval stack. The alias is wrapped in the
    * [[org.apache.spark.sql.graft.Opaque]] evaluation barrier because
    * projecting alone is not enough: `InferFiltersFromGenerate` +
    * predicate pushdown re-derive the split TWICE in an inferred
    * `size(tokens(text)) > 0` filter below the projection; with the
    * barrier that filter evaluates on the materialized array instead.
    * PlanSuite pins the single evaluation.
    */
  private def docTokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    tokenizedDocs(docs, idCol, textCol)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("token"))

  /** [[postings]] restricted to a query vocabulary, with the broadcast
    * prune applied BEFORE the tf aggregate: the token-occurrence stream
    * is semi-joined against the (small by definition) distinct
    * query-token set first, so the aggregate's shuffle carries
    * query-vocabulary-sized data instead of the corpus's full
    * doc×vocabulary sparsity — at 100 TB that is the difference between
    * shuffling thousands of rows and shuffling the whole index. The
    * prune keeps EVERY occurrence of a kept token, so tf (and df
    * downstream) over the pruned table equal their global values for
    * exactly those tokens.
    */
  private[graft] def prunedPostings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      qtok: DataFrame): DataFrame =
    docTokens(docs, idCol, textCol)
      .join(broadcast(qtok), Seq("token"))
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).as("tf"))

  /** BM25 top-`k` docs per query:
    * `(query_id, doc_id, score, rnk)` with
    * `score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` over
    * the query's DISTINCT terms and `idf = ln(1 + (N−df+0.5)/(df+0.5))`
    * (the Lucene form — never negative). Rank ties break by doc_id asc,
    * so output order is total.
    *
    * Cross-engine float contract: `idf` is snapped to 1e-6 right after
    * the `ln` (transcendentals are the one place two engines' doubles
    * can drift a ulp — every other step is order-fixed IEEE arithmetic),
    * each per-term score is snapped and summed as DECIMAL(18,6) (exact,
    * order-independent), and the final score returns to double.
    *
    * Scale shape: the posting table is pruned to QUERY-TERM rows by a
    * broadcast semi join before anything shuffles (query batches are
    * small by definition — thousands of terms against billions of
    * postings), so both the df aggregate and the scoring join run on
    * query-vocabulary-sized data; df over the pruned table equals
    * global df for exactly those tokens. The pruned table is persisted
    * across its two consumers, released once the (queries × k) result
    * materializes. The top-k stage is the bounded-heap `topk_rows`
    * aggregate — O(queries × k) on the rank shuffle, never a per-query
    * sort. N and avgdl are one two-scalar aggregate, not a driver loop.
    * Issuing many query batches? Build [[postings]] once, write it
    * bucketed by token, and score against that.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val (out, postQ) =
      bm25Staged(docs, idCol, textCol, queries, queryIdCol, queryTextCol, k, k1, b)
    // materialize the (queries x k)-sized result, then free the pruned
    // posting cache — the Dedup operators' release discipline
    materializeAtLeaf(out, postQ)
  }

  /** The two corpus scalars a persisted BM25 index must store next to
    * its [[postings]] table: `(nDocs, totalTokens)`. Null-text docs
    * count toward `nDocs` but contribute nothing to `totalTokens` —
    * the same answer [[bm25TopK]]'s internal aggregate gives.
    */
  def indexStats(docs: DataFrame, textCol: String): (Long, Long) = {
    val r = docs.agg(
      count(lit(1)),
      sum(TextFunctions.tokenCount(col(textCol)).cast("long"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** BM25 over a PREBUILT posting table — the "build the index once,
    * query many times" path. `postings` is [[postings]]'s output
    * (typically read back from parquet, bucketed by token so the prune
    * join never shuffles the index); `nDocs`/`totalTokens` are the
    * [[indexStats]] scalars stored with it. Scoring, snapping, and
    * ranking are the SAME code path as [[bm25TopK]], so the two plans
    * share one result contract; only the corpus scan is skipped.
    */
  def bm25FromPostings(
      postings: DataFrame,
      nDocs: Long,
      totalTokens: Long,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nDocs > 0, s"nDocs must be positive, got $nDocs")
    val qterms = queryTerms(queries, queryIdCol, queryTextCol)
    val qtok = qterms.select("token").distinct()
    val statsDf = postings.sparkSession.range(1)
      .select(lit(nDocs).as("n_docs"), lit(totalTokens).as("total_tokens"))
    val postQ = postings.join(broadcast(qtok), Seq("token")).persist()
    val out = rankPruned(postQ, qterms, statsDf, k, k1, b)
    materializeAtLeaf(out, postQ)
  }

  private def queryTerms(
      queries: DataFrame, queryIdCol: String, queryTextCol: String): DataFrame =
    queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(tokens(col(queryTextCol)))).as("token"))

  /** Shared scoring/ranking tail: pruned postings × query terms × df ×
    * corpus stats → snapped per-term scores → DECIMAL sum → bounded-heap
    * top-k. Both BM25 entry points end here, so their results cannot
    * drift.
    */
  private def rankPruned(
      postQ: DataFrame,
      qterms: DataFrame,
      statsDf: DataFrame,
      k: Int,
      k1: Double,
      b: Double): DataFrame = {
    val df = postQ.groupBy("token").agg(count(lit(1)).as("df"))
    val idf = round(log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))), 6)
    val avgdl = col("total_tokens").cast("double") / col("n_docs").cast("double")
    val tfNorm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    val scored = postQ
      .join(broadcast(qterms), Seq("token"))
      .join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(statsDf))
      .withColumn("term_score", round(idf * tfNorm, 6).cast("decimal(18,6)"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("term_score")).cast("double").as("score"))
    scored
      .groupBy("query_id")
      .agg(topk_rows(k, Seq(true, false), col("score"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.doc_id").as("doc_id"),
        col("t.score").as("score"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Term-overlap top-`k` docs per query — the cheap lexical pre-ranker
    * next to [[bm25TopK]]: `score` = how many of the query's DISTINCT
    * terms the doc contains (set intersection size, no tf/idf/length
    * modeling), ties by doc_id asc, output
    * `(query_id, doc_id, overlap, rnk)`. Exists both as a standalone
    * coarse filter (boolean retrieval with ranking) and as the second
    * voice in an [[rrfFuse]] hybrid — rank fusion wants rankers with
    * DIFFERENT failure modes, and overlap's is opposite to BM25's
    * (overlap ignores term rarity; BM25 can rank one rare term above
    * many common ones).
    *
    * Scale shape: identical to BM25's — the posting table is pruned to
    * query-term rows by a broadcast semi join before the
    * (query_id, doc_id) count shuffles, and the top-k stage is the
    * bounded-heap `topk_rows` aggregate. All-integer scoring: no float
    * contract needed.
    */
  def termOverlapTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val qterms = queryTerms(queries, queryIdCol, queryTextCol)
    val qtok = qterms.select("token").distinct()
    overlapRanked(prunedPostings(docs, idCol, textCol, qtok), qterms, k)
  }

  /** Term overlap over a PREBUILT posting table — the index-reuse twin
    * of [[bm25FromPostings]], and the seam that lets a hybrid build its
    * posting table ONCE and feed both rankers (see [[hybridTopK]]).
    * `postings` is [[postings]]'s output (or any prune of it that keeps
    * every query-token posting); ranking is the same code path as
    * [[termOverlapTopK]], so the two plans share one result contract.
    */
  def termOverlapFromPostings(
      postings: DataFrame,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    overlapRanked(postings, queryTerms(queries, queryIdCol, queryTextCol), k)
  }

  /** Shared overlap ranking tail: postings × query terms → distinct-term
    * intersection counts → bounded-heap top-k. `post` is distinct per
    * (doc, token) and `qterms` per (query, token), so the join emits one
    * row per matching (query, doc, token): count(*) IS the intersection
    * size.
    */
  private def overlapRanked(post: DataFrame, qterms: DataFrame, k: Int): DataFrame =
    post
      .join(broadcast(qterms), Seq("token"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("overlap"))
      .groupBy("query_id")
      .agg(topk_rows(k, Seq(true, false), col("overlap"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.doc_id").as("doc_id"),
        col("t.overlap").as("overlap"), (col("pos") + 1).cast("long").as("rnk"))

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) of
    * N per-query rankings into one: each input list contributes
    * `w_i / (rrfK + rnk)` for every `(query_id, doc_id, rnk)` row it
    * holds, contributions are summed per (query, doc), and the fused
    * top-`k` comes back as `(query_id, doc_id, score, rnk)` (score desc,
    * doc_id asc — total order). RRF is THE standard hybrid-search
    * combiner (BM25 ⊕ dense ANN) because it needs no score calibration:
    * only ranks cross lists, so a 0-to-1 cosine and an unbounded BM25
    * fuse without normalization.
    *
    * Cross-engine float contract: each contribution is one IEEE double
    * division snapped to 1e-6, summed as DECIMAL(18,6) (exact,
    * order-independent), returned as double.
    *
    * Scale shape: inputs are already (queries × k)-sized — the corpus
    * never appears. Union + one (query_id, doc_id) shuffle + the
    * bounded-heap `topk_rows` rank; O(N · queries · k) total, so fusion
    * adds nothing to the retrieval stages' cost.
    *
    * `weights` (default: all 1.0) lets a caller tilt the fusion toward
    * the ranker it trusts more — the weighted-RRF variant most vector
    * stores expose. A ZERO weight drops its ranking entirely before the
    * union: a 0.000000 contribution row is not "no vote" — it would
    * still let that list's docs backfill fused top-k slots whenever the
    * positive-weight lists return fewer than k rows for a query.
    */
  def rrfFuse(
      rankings: Seq[DataFrame],
      k: Int,
      rrfK: Int = 60,
      weights: Seq[Double] = Nil): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k > 0, s"k must be positive, got $k")
    require(rrfK >= 0, s"rrfK must be non-negative, got $rrfK")
    val ws = if (weights.isEmpty) Seq.fill(rankings.size)(1.0) else weights
    require(ws.size == rankings.size,
      s"weights size ${ws.size} != rankings size ${rankings.size}")
    require(ws.forall(_ >= 0.0), s"weights must be non-negative, got $ws")
    val kept = rankings.zip(ws).filter(_._2 != 0.0)
    require(kept.nonEmpty, "rrfFuse: every ranking has weight 0")
    val contribs = kept.map { case (r, w) =>
      r.select(col("query_id"), col("doc_id"),
        round(lit(w) / (lit(rrfK).cast("double") + col("rnk").cast("double")), 6)
          .cast("decimal(18,6)").as("contrib"))
    }
    val scored = contribs.reduce(_ unionByName _)
      .groupBy("query_id", "doc_id")
      .agg(sum(col("contrib")).cast("double").as("score"))
    scored
      .groupBy("query_id")
      .agg(topk_rows(k, Seq(true, false), col("score"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.doc_id").as("doc_id"),
        col("t.score").as("score"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** [[bm25TopK]] without the materialize/release step: returns the
    * result plan plus the persisted-but-unmaterialized pruned posting
    * table (caller must unpersist). Exists so plan tests can inspect the
    * physical plan before the cache materializes.
    */
  private[graft] def bm25Staged(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): (DataFrame, DataFrame) = {
    require(k > 0, s"k must be positive, got $k")
    val corpusStats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("total_tokens"))
    val qterms = queryTerms(queries, queryIdCol, queryTextCol)
    val qtok = qterms.select("token").distinct()
    // prune the token stream to query-term rows BEFORE the tf aggregate
    // shuffles (see prunedPostings): df over the pruned table equals
    // global df for exactly those tokens (the prune keeps every posting
    // of a kept token), so the vocabulary-wide df aggregate never runs.
    // Persisted because both the df aggregate and the scoring join
    // consume it — without the persist the corpus would be re-exploded
    // twice.
    val postQ = prunedPostings(docs, idCol, textCol, qtok).persist()
    (rankPruned(postQ, qterms, corpusStats, k, k1, b), postQ)
  }

  /** BM25 ⊕ term-overlap hybrid fused by [[rrfFuse]], sharing ONE
    * posting index: the corpus is tokenized, pruned, and aggregated
    * exactly once, and both voices rank from the persisted pruned table
    * (r11's composition built the index twice — once per ranker — which
    * doubles the dominant cost of the hybrid at corpus scale). Output is
    * [[rrfFuse]]'s `(query_id, doc_id, score, rnk)`.
    *
    * Cache contract (same as [[bm25TopK]]/[[bm25FromPostings]]): the
    * returned DataFrame is PERSISTED and already materialized — the
    * (queries × k)-sized result, kept so consumers never recompute the
    * retrieval (the pruned posting cache is released before return, so a
    * recompute would rebuild the index from scratch). Callers that are
    * done with the result should `unpersist()` it; long-lived drivers
    * issuing many batches otherwise accumulate these small caches (the
    * suites unpersist; the gate queries deliberately leave the tiny
    * result cached for the driver's write).
    */
  def hybridTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      rrfK: Int = 60,
      weights: Seq[Double] = Nil): DataFrame = {
    val (out, postQ) = hybridStaged(
      docs, idCol, textCol, queries, queryIdCol, queryTextCol, k, k1, b, rrfK, weights)
    materializeAtLeaf(out, postQ)
  }

  /** [[hybridTopK]] without the materialize/release step (plan tests). */
  private[graft] def hybridStaged(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      rrfK: Int = 60,
      weights: Seq[Double] = Nil): (DataFrame, DataFrame) = {
    require(k > 0, s"k must be positive, got $k")
    val corpusStats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(TextFunctions.tokenCount(col(textCol)).cast("long")).as("total_tokens"))
    val qterms = queryTerms(queries, queryIdCol, queryTextCol)
    val qtok = qterms.select("token").distinct()
    val postQ = prunedPostings(docs, idCol, textCol, qtok).persist()
    val bm25 = rankPruned(postQ, qterms, corpusStats, k, k1, b)
      .select("query_id", "doc_id", "rnk")
    val overlap = overlapRanked(postQ, qterms, k)
      .select("query_id", "doc_id", "rnk")
    (rrfFuse(Seq(bm25, overlap), k, rrfK, weights), postQ)
  }

  /** Ranking-quality evaluation harness — per-query reciprocal rank,
    * precision@k, and nDCG@k of ANY `(query_id, doc_id, rnk)` ranking
    * (every `*TopK` here shares that contract) against a graded
    * relevance table `(query_id, doc_id, rel ≥ 0)`. The retrieval twin
    * of `Similarity.recallAtK`: the harness never touches the corpus —
    * both inputs are (queries × k)- and qrels-sized, so grading an
    * index at 100 TB costs one query batch, not a corpus pass. Emits
    * exact integers: `rr_micro = ⌊10⁶/best_rank + ½⌋`,
    * `p_at_k_micro`, and DCG/IDCG as micro-integer sums of
    * 6dp-snapped `rel·ln2/ln(rank+1)` terms (the linear-gain DCG
    * variant; ln2 is the fixed double literal so both engines divide
    * identical operands), `ndcg_micro` their ratio. Queries with no
    * ranked hit keep a row with null `best_rank` and zero
    * rr/p/dcg/ndcg.
    *
    * Per-query qrel lists ride a `collect_list` for the ideal DCG —
    * bounded by the labeled-eval-data contract (qrels per query are
    * human- or rule-labeled, inherently small).
    */
  def rankMetrics(ranking: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val LN2 = math.log(2.0)
    def termMicro(rel: Column, pos: Column): Column =
      floor(round(rel * lit(LN2) / log(pos.cast("double") + lit(1.0)), 6) *
        lit(1e6) + lit(0.5)).cast("long")
    val r = ranking.select(col("query_id"), col("doc_id"), col("rnk"))
      .filter(col("rnk") <= k)
    val rel = qrels
      .select(col("query_id"), col("doc_id"), col("rel").cast("double").as("rel"))
      .filter(col("rel") > 0)
    val hits = r.join(rel, Seq("query_id", "doc_id"))
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("n_hits"),
        min("rnk").as("best_rank"),
        sum(termMicro(col("rel"), col("rnk"))).as("dcg_micro"))
    val ideal = rel.groupBy("query_id")
      .agg(
        count(lit(1)).as("n_rel"),
        slice(sort_array(collect_list(col("rel")), asc = false), 1, k).as("rels"))
      .withColumn("idcg_micro",
        aggregate(sequence(lit(1), size(col("rels"))), lit(0L),
          (acc, i) => acc + termMicro(element_at(col("rels"), i), i)))
      .drop("rels")
    ideal.join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        col("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("best_rank"),
        coalesce(
          floor(lit(1e6) / col("best_rank").cast("double") + lit(0.5)).cast("long"),
          lit(0L)).as("rr_micro"),
        floor(coalesce(col("n_hits"), lit(0L)).cast("double") * lit(1e6) /
          lit(k.toDouble) + lit(0.5)).cast("long").as("p_at_k_micro"),
        coalesce(col("dcg_micro"), lit(0L)).as("dcg_micro"),
        col("idcg_micro"),
        coalesce(
          floor(col("dcg_micro").cast("double") * lit(1e6) /
            col("idcg_micro").cast("double") + lit(0.5)).cast("long"),
          lit(0L)).as("ndcg_micro"))
  }

  /** BM25 hard-negative mining — the standard contrastive-retrieval
    * training-data recipe (DPR, ANCE, Contriever all train against
    * lexically-retrieved negatives): for each query, rank the corpus by
    * BM25, DROP the query's known positive(s), and keep the top `nNeg`
    * survivors — documents the lexical ranker finds plausible but that
    * are NOT the answer, which is exactly what makes them hard. Random
    * negatives teach a retriever nothing the batch already contains;
    * BM25 negatives are the cheap high-signal middle before
    * ANN-mined ones (swap voice via [[hybridDenseTopK]]'s machinery).
    *
    * `positives` is `(query_id, pos_id)` — multiple positives per query
    * allowed, all excluded. Output `(query_id, doc_id, score, rnk)` with
    * `rnk` re-ranked 1..nNeg over the survivors in BM25 order. A query
    * whose top-k is entirely positives yields fewer than `nNeg` rows
    * (mine with `k` comfortably above `nNeg` + max positives).
    *
    * Scale shape: [[bm25TopK]]'s plan (pruned postings, bounded-heap
    * rank) plus a broadcast join against the (queries-sized) positives
    * table and a second bounded-heap re-rank over (queries × k) rows —
    * the mining stage adds nothing corpus-scale.
    */
  def hardNegatives(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      positives: DataFrame,
      k: Int,
      nNeg: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(nNeg > 0 && nNeg <= k, s"nNeg must be in [1, k=$k], got $nNeg")
    val ranked = bm25TopK(docs, idCol, textCol, queries, queryIdCol, queryTextCol, k, k1, b)
    val pos = positives.select(col("query_id"), col("pos_id"))
    val out = ranked
      .join(broadcast(pos), ranked("query_id") === pos("query_id") &&
        ranked("doc_id") === pos("pos_id"), "left_anti")
      .groupBy("query_id")
      .agg(topk_rows(nNeg, Seq(false), col("rnk"), col("doc_id"), col("score")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("query_id"), col("t.doc_id").as("doc_id"),
        col("t.score").as("score"), (col("p") + 1).cast("long").as("rnk"))
    materializeAtLeaf(out, ranked)
  }

  /** Lexical ⊕ dense hybrid retrieval — THE production hybrid-search
    * shape (BM25 ⊕ embedding ANN fused by RRF, the composition
    * [[rrfFuse]]'s docstring names as its motivating case and the one
    * every RAG / vector-store deployment actually runs). Voice 1 is
    * [[bm25TopK]] over the text corpus; voice 2 is
    * [[Similarity.ivfTopKSeeded]] over the embedding corpus (the
    * deterministic seeded coarse quantizer — swap in the KMeans
    * [[Similarity.ivfTopK]] for production recall; the fusion contract
    * is identical since only ranks cross the seam). The two corpora
    * share one id space (`doc_id` = `vecIdCol` value); `queries` carries
    * the query TEXT and `vecQueries` the same query ids' embeddings.
    *
    * RRF needs no score calibration — an unbounded BM25 score and a
    * [−1, 1] cosine fuse by rank alone — which is exactly why it is the
    * standard combiner here. Output is [[rrfFuse]]'s
    * `(query_id, doc_id, score, rnk)`.
    *
    * Scale shape: each voice keeps its own optimal plan (pruned posting
    * index + bounded-heap rank; IVF probe join + bounded-heap rank) and
    * the fusion stage only ever sees (queries × k)-sized inputs, so the
    * hybrid adds nothing to the retrieval stages' cost. Cache contract
    * as [[hybridTopK]]: the returned (queries × k) result is persisted
    * and materialized; callers done with it should `unpersist()`.
    */
  def hybridDenseTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      vecCorpus: DataFrame,
      vecIdCol: String,
      vecCol: String,
      vecQueries: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      numCentroids: Int = 16,
      nprobe: Int = 4,
      rrfK: Int = 60,
      weights: Seq[Double] = Nil): DataFrame = {
    val (out, postQ) = hybridDenseStaged(docs, idCol, textCol, queries, queryIdCol,
      queryTextCol, vecCorpus, vecIdCol, vecCol, vecQueries, k, k1, b,
      numCentroids, nprobe, rrfK, weights)
    materializeAtLeaf(out, postQ)
  }

  /** [[hybridDenseTopK]] without the materialize/release step (plan
    * tests); returns the fused plan plus the persisted pruned posting
    * table (caller must unpersist).
    */
  private[graft] def hybridDenseStaged(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      vecCorpus: DataFrame,
      vecIdCol: String,
      vecCol: String,
      vecQueries: DataFrame,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      numCentroids: Int = 16,
      nprobe: Int = 4,
      rrfK: Int = 60,
      weights: Seq[Double] = Nil): (DataFrame, DataFrame) = {
    require(k > 0, s"k must be positive, got $k")
    val (bm25Ranked, postQ) =
      bm25Staged(docs, idCol, textCol, queries, queryIdCol, queryTextCol, k, k1, b)
    val lexical = bm25Ranked.select("query_id", "doc_id", "rnk")
    val dense = Similarity
      .ivfTopKSeeded(vecQueries, vecCorpus, vecIdCol, vecCol, k, numCentroids, nprobe)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").cast("long").as("rnk"))
    (rrfFuse(Seq(lexical, dense), k, rrfK, weights), postQ)
  }

  /** A driver-collected BM25 index for map-side scoring:
    * `token → (doc_id, tf, dl)*` plus the two [[indexStats]] scalars.
    * Bounded by construction — [[collectIndex]] refuses indexes past
    * `maxEntries` (the broadcast/streaming deployment is a PRUNED or
    * domain-scoped index; a web-scale posting table belongs on the
    * distributed [[bm25FromPostings]] path).
    */
  /** One token's postings as parallel PRIMITIVE arrays — the boxed
    * `Array[(Long, Long, Long)]` form cost ~3 objects per posting row,
    * which dominated BOTH the serve scorer's per-query loop and the
    * index broadcast's serialization (a common token posts in most
    * docs, so posting rows ≈ query-vocab × corpus size).
    */
  final case class PostingList(
      docIds: Array[Long], tfs: Array[Long], dls: Array[Long]) {
    def length: Int = docIds.length
  }

  case class Bm25Index(
      postings: Map[String, PostingList],
      nDocs: Long,
      totalTokens: Long)

  /** Collect a [[postings]] table into a [[Bm25Index]]. Fails loud when
    * the index exceeds `maxEntries` posting rows rather than silently
    * OOM-ing the driver — the same discipline as
    * `LanguageModel.collectModel`.
    */
  def collectIndex(
      postings: DataFrame,
      nDocs: Long,
      totalTokens: Long,
      maxEntries: Long = 5000000L): Bm25Index = {
    require(nDocs > 0, s"nDocs must be positive, got $nDocs")
    // the bound check and the collect both consume the input: persist it
    // across the two jobs so a from-scratch posting plan (corpus
    // tokenize + prune + aggregate) is not computed twice
    val cached = postings.persist()
    try {
      val n = cached.count()
      require(n <= maxEntries,
        s"index has $n posting rows > maxEntries=$maxEntries — prune the " +
          "posting table or use the distributed bm25FromPostings path")
      val grouped = cached.select("token", "doc_id", "tf", "dl").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .groupBy(_._1)
        .map { case (t, rows) =>
          val rs = rows.map(_._2)
          t -> PostingList(rs.map(_._1), rs.map(_._2), rs.map(_._3))
        }
      Bm25Index(grouped, nDocs, totalTokens)
    } finally cached.unpersist(blocking = false)
  }

  /** The shared tokenized projection `(doc_id, toks)` — [[docTokens]]
    * before the explode, with the same [[org.apache.spark.sql.graft.Opaque]]
    * single-evaluation barrier. Exists so a caller that needs BOTH the
    * corpus stats and a posting table can persist ONE tokenize pass and
    * derive each from it (see [[buildPrunedIndex]]).
    */
  private[graft] def tokenizedDocs(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      org.apache.spark.sql.graft.GraftExpressions.opaque(tokens(col(textCol))).as("toks"))

  /** [[prunedPostings]] over an already-tokenized `(doc_id, toks)`
    * projection (typically the persisted [[tokenizedDocs]]). */
  private[graft] def prunedFromTokens(tk: DataFrame, qtok: DataFrame): DataFrame =
    tk.select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("token"))
      .join(broadcast(qtok), Seq("token"))
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).as("tf"))

  /** Build a collected [[Bm25Index]] (query-vocab-pruned postings + the
    * two corpus scalars) from ONE tokenized corpus pass: the
    * `(doc_id, toks)` projection is persisted and consumed by both the
    * stats aggregate and the pruned posting table — composing
    * [[indexStats]] + [[prunedPostings]] + [[collectIndex]] separately
    * tokenizes the corpus twice, and tokenization is the dominant
    * per-row cost of the whole retrieval stack (this is how the
    * broadcast/online gates assemble their index; a production
    * deployment stores the stats scalars WITH the posting artifact — the
    * `p_bm25_indexed`/`p_bm25_incr` path — and never replays either
    * pass). Same fail-loud `maxEntries` bound as [[collectIndex]].
    */
  def buildPrunedIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      qtok: DataFrame,
      maxEntries: Long = 5000000L): Bm25Index = {
    val tk = tokenizedDocs(docs, idCol, textCol).persist()
    try {
      val r = tk.agg(
        count(lit(1)),
        sum(size(col("toks")).cast("long"))).head()
      val n = r.getLong(0)
      val tot = if (r.isNullAt(1)) 0L else r.getLong(1)
      collectIndex(prunedFromTokens(tk, qtok), n, tot, maxEntries)
    } finally tk.unpersist(blocking = false)
  }

  /** Map-side-only BM25 scoring against a collected index: same output
    * contract as [[bm25TopK]] — `(query_id, doc_id, score, rnk)` — but
    * zero joins and zero shuffles: one scalar function per QUERY row
    * over a broadcast index. This is the scorer that runs verbatim on a
    * STREAM of queries (stateless, append-mode — StreamingSuite
    * parity-pins it) and the one to prefer for online serving whenever
    * the pruned index fits the driver; the suite pins it row-identical
    * to [[bm25TopK]]. The arithmetic twins [[rankPruned]] exactly: same
    * tokenizer (Spark `trim` strips ONLY ASCII space), df from the
    * posting lists, 6dp HALF_UP idf snap after the `ln`, 6dp-snapped
    * per-term scores summed at scale-6 decimal, rank by (score double
    * desc, doc_id asc).
    */
  def scoreWithIndex(
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      index: Bm25Index,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val bc = queries.sparkSession.sparkContext.broadcast(index)
    val score = udf { (qtext: String) =>
      val acc = bm25Accumulate(bc.value, tokensTwin(qtext), k1, b, null)
      rankMicro(acc, k)
    }
    queries
      .select(col(queryIdCol).as("query_id"), score(col(queryTextCol)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t._1").as("doc_id"),
        col("t._2").as("score"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** HALF_UP 6dp snap — the scalar twin of Spark/DuckDB `round(x, 6)`
    * (`BigDecimal.decimal` rounds the SHORTEST DECIMAL representation,
    * which is not always `floor(x·1e6 + 0.5)` — the engines' round() is
    * the decimal-string one, so the twin must be too).
    */
  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** A snapped 6dp value as exact integer micro-units. The value is a
    * 6dp decimal, so `x·1e6` sits within an ulp of an integer and
    * `math.round` recovers it exactly; summing micros IS the exact
    * DECIMAL(18,6) sum, and `micros/1e6` (one correctly-rounded IEEE
    * division) equals Spark's `Decimal.toDouble` on that sum.
    */
  private def micro6(x: Double): Long = math.round(x * 1e6)

  /** Twin of `tokens()`: Spark's `trim` strips ONLY ASCII space (0x20) —
    * Java's `String.trim` strips all chars <= 0x20 and would tokenize
    * "\ntext" differently — then lower + split keeping empties.
    */
  private def tokensTwin(text: String): Array[String] =
    if (text == null) Array.empty[String]
    else {
      var a = 0; var z = text.length
      while (a < z && text.charAt(a) == ' ') a += 1
      while (z > a && text.charAt(z - 1) == ' ') z -= 1
      text.substring(a, z).toLowerCase.split("\\s+", -1)
    }

  /** Per-query BM25 accumulation over a collected index: doc →
    * exact-integer micro-unit score (the DECIMAL(18,6) sum as a Long).
    * The arithmetic twins [[rankPruned]] term for term; the BigDecimal
    * snap (the expensive part — two allocations per call) is cached per
    * (token, tf, dl), and posting lists share few distinct (tf, dl)
    * pairs, so it runs per CACHE ENTRY while the per-posting hot loop is
    * unboxed LongMap arithmetic — at 60k-posting common tokens this is
    * the difference between ~10⁵ BigDecimal allocations and ~10⁷.
    * `overlap` (when non-null) collects the term-overlap counts from the
    * same pass for the hybrid's second voice.
    */
  private def bm25Accumulate(
      idx: Bm25Index,
      ts: Array[String],
      k1: Double,
      b: Double,
      overlap: scala.collection.mutable.LongMap[Long]): scala.collection.mutable.LongMap[Long] = {
    val avgdl = idx.totalTokens.toDouble / idx.nDocs.toDouble
    val acc = new scala.collection.mutable.LongMap[Long]()
    ts.distinct.foreach { t =>
      idx.postings.get(t).foreach { posts =>
        val df = posts.length.toLong
        val idf = r6(math.log(
          1.0 + ((idx.nDocs - df).toDouble + 0.5) / (df.toDouble + 0.5)))
        def termMicro(tf: Long, dl: Long): Long = {
          val tfNorm = (tf.toDouble * (k1 + 1.0)) /
            (tf.toDouble + k1 * ((1.0 - b) + (b * dl.toDouble) / avgdl))
          micro6(r6(idf * tfNorm))
        }
        val snapCache = new scala.collection.mutable.LongMap[Long]()
        var i = 0
        val n = posts.length
        while (i < n) {
          val docId = posts.docIds(i); val tf = posts.tfs(i); val dl = posts.dls(i)
          val m =
            if (tf < (1L << 31) && dl < (1L << 32))
              snapCache.getOrElseUpdate((tf << 32) | dl, termMicro(tf, dl))
            else termMicro(tf, dl)
          acc(docId) = acc.getOrElse(docId, 0L) + m
          if (overlap != null) overlap(docId) = overlap.getOrElse(docId, 0L) + 1L
          i += 1
        }
      }
    }
    acc
  }

  /** Micro-unit doc scores → the top-k `(doc_id, score)` rows by
    * (score double desc, doc_id asc) — the same comparison `topk_rows`
    * makes after the decimal sum returns to double.
    */
  private def rankMicro(
      acc: scala.collection.mutable.LongMap[Long], k: Int): Array[(Long, Double)] =
    topKByValueDesc(acc, k).map { case (docId, m) => (docId, m / 1e6) }

  /** Top-k entries of a long→long accumulator by (value desc, key asc),
    * by BOUNDED INSERTION — never a full sort. The accumulator holds
    * one entry per candidate doc (most of the corpus for a
    * common-token query), and sorting it per query per voice was the
    * serve scorer's dominant cost (sortBy allocates a boxed tuple key
    * per element and compares through Ordering.Tuple2 — measured 0.52 s
    * of a 0.75 s batch at sf0.1 vs 0.22 s for the whole BM25
    * accumulate). Micro-unit longs order exactly like their /1e6
    * doubles at these magnitudes (< 2⁵³), so the comparison is pure
    * primitive arithmetic.
    */
  private def topKByValueDesc(
      acc: scala.collection.mutable.LongMap[Long], k: Int): Array[(Long, Long)] = {
    val kk = math.min(k, acc.size)
    if (kk <= 0) return Array.empty
    val keys = new Array[Long](kk)
    val vals = new Array[Long](kk)
    var n = 0
    @inline def better(v1: Long, k1: Long, v2: Long, k2: Long): Boolean =
      v1 > v2 || (v1 == v2 && k1 < k2)
    acc.foreach { case (key, v) =>
      if (n < kk) {
        var i = n
        while (i > 0 && better(v, key, vals(i - 1), keys(i - 1))) {
          vals(i) = vals(i - 1); keys(i) = keys(i - 1); i -= 1
        }
        vals(i) = v; keys(i) = key; n += 1
      } else if (better(v, key, vals(kk - 1), keys(kk - 1))) {
        var i = kk - 1
        while (i > 0 && better(v, key, vals(i - 1), keys(i - 1))) {
          vals(i) = vals(i - 1); keys(i) = keys(i - 1); i -= 1
        }
        vals(i) = v; keys(i) = key
      }
    }
    Array.tabulate(n)(i => (keys(i), vals(i)))
  }

  /** Map-side-only HYBRID scoring against a collected index: BM25 top-k
    * and term-overlap top-k computed per query row, fused by the exact
    * [[rrfFuse]] arithmetic (snapped `w/(rrfK+rnk)` contributions summed
    * at scale-6 decimal), all inside one scalar function — zero joins,
    * zero shuffles, end to end. Same output contract as [[hybridTopK]];
    * the gate shares its oracle, and the scorer runs verbatim on a
    * query stream. Zero-weight voices are dropped, matching
    * [[rrfFuse]]'s no-backfill rule.
    */
  def hybridWithIndex(
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      index: Bm25Index,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      rrfK: Int = 60,
      weights: Seq[Double] = Nil): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rrfK >= 0, s"rrfK must be non-negative, got $rrfK")
    val ws = if (weights.isEmpty) Seq(1.0, 1.0) else weights
    require(ws.size == 2, s"hybrid has 2 voices (bm25, overlap), got ${ws.size} weights")
    require(ws.forall(_ >= 0.0), s"weights must be non-negative, got $ws")
    require(ws.exists(_ != 0.0), "hybridWithIndex: every voice has weight 0")
    hybridWithBroadcastIndex(queries, queryIdCol, queryTextCol,
      queries.sparkSession.sparkContext.broadcast(index), k, k1, b, rrfK, weights)
  }

  /** [[hybridWithIndex]] against an ALREADY-broadcast index — the
    * deployed-scorer shape: a serving loop broadcasts the (often
    * hundreds-of-MB serialized) index ONCE and scores every query batch
    * against the same handle; re-broadcasting per batch is pure
    * serialization overhead (measured ~2 s/rep at sf0.1 on the bench's
    * serve row).
    */
  def hybridWithBroadcastIndex(
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      bc: org.apache.spark.broadcast.Broadcast[Bm25Index],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      rrfK: Int = 60,
      weights: Seq[Double] = Nil): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(rrfK >= 0, s"rrfK must be non-negative, got $rrfK")
    val ws = if (weights.isEmpty) Seq(1.0, 1.0) else weights
    require(ws.size == 2, s"hybrid has 2 voices (bm25, overlap), got ${ws.size} weights")
    require(ws.forall(_ >= 0.0), s"weights must be non-negative, got $ws")
    require(ws.exists(_ != 0.0), "hybridWithBroadcastIndex: every voice has weight 0")
    val score = udf { (qtext: String) =>
      val ovAcc = new scala.collection.mutable.LongMap[Long]()
      val bmAcc = bm25Accumulate(bc.value, tokensTwin(qtext), k1, b, ovAcc)
      // rank each voice exactly as its distributed twin does, then fuse
      val bmRanked = rankMicro(bmAcc, k)
      val ovRanked = topKByValueDesc(ovAcc, k)
      val fuse = new scala.collection.mutable.LongMap[Long]()
      def contribute(rankedIds: Array[Long], w: Double): Unit =
        if (w != 0.0) rankedIds.iterator.zipWithIndex.foreach { case (d, pos) =>
          val c = micro6(r6(w / (rrfK.toDouble + (pos + 1).toDouble)))
          fuse(d) = fuse.getOrElse(d, 0L) + c
        }
      contribute(bmRanked.map(_._1), ws(0))
      contribute(ovRanked.map(_._1), ws(1))
      rankMicro(fuse, k)
    }
    queries
      .select(col(queryIdCol).as("query_id"), score(col(queryTextCol)).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t._1").as("doc_id"),
        col("t._2").as("score"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Day-over-day maintenance of a persisted posting-table artifact:
    * append the new batch's postings without rebuilding the index — the
    * retrieval twin of `Dedup.extendCorpusArtifact`'s artifact loop.
    * APPEND-ONLY by contract: a `doc_id` that already has postings in
    * the index fails loud (one broadcast semi-join of the new-batch ids
    * against the index's doc side — a scan of the index, the honest
    * nightly cost, never a corpus rescan). Re-crawled ids must be
    * replaced upstream by the dedup/ingest stages; silently unioning
    * them would double-count every shared token. Caveat the check
    * cannot see: an existing doc with NO postings (null text) does not
    * appear in the index, so re-adding such an id slips through —
    * track ids upstream if null-text re-crawls are possible.
    * Stats update: `(nDocs + batch count, totalTokens + batch tokens)`
    * via [[extendIndexStats]].
    */
  def extendPostings(
      oldPostings: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val newIds = newDocs.select(col(idCol).as("doc_id")).distinct()
    val clashes = oldPostings.select("doc_id").distinct()
      .join(broadcast(newIds), Seq("doc_id"), "left_semi")
      .limit(1).count()
    require(clashes == 0L,
      "extendPostings: the new batch re-uses doc_ids already in the index — " +
        "replace re-crawls upstream (dedup/ingest) before extending")
    oldPostings.unionByName(postings(newDocs, idCol, textCol))
  }

  /** The [[indexStats]] update that pairs with [[extendPostings]]. */
  def extendIndexStats(
      old: (Long, Long),
      newDocs: DataFrame,
      textCol: String): (Long, Long) = {
    val (n, tot) = indexStats(newDocs, textCol)
    (old._1 + n, old._2 + tot)
  }
}
