package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetUtils.materializeAtLeaf
import org.apache.spark.sql.graft.GraftExpressions.{codePointFnv32, opaque}

import TextFunctions.tokens

/** Winnowing — local document fingerprinting (Schleimer, Wilkerson &
  * Aiken, SIGMOD 2003; the MOSS algorithm): slide a `w`-wide window over
  * the document's k-gram hash stream and keep, per window, the MINIMUM
  * hash (ties to the RIGHTMOST occurrence — the paper's STANDARD tie
  * rule; the paper's separate "robust winnowing" variant additionally
  * prefers the previously selected fingerprint on ties and is stateful
  * across windows — NOT what this, the oracle, or the tests implement);
  * the distinct selected `(position, hash)` pairs are the document's
  * fingerprint set.
  *
  * Why this exists next to the whole-doc [[TextFunctions.fingerprint]]
  * and the shingle-set Jaccard/MinHash stack: winnowing gives the
  * PARTIAL-COPY guarantee with a sub-linear index. Any substring of at
  * least `w + k − 1` shared tokens is guaranteed to contribute at least
  * one COMMON fingerprint to both documents (every w-window selects
  * something, and equal windows select equal fingerprints), while the
  * expected fingerprint density is only `2/(w+1)` of the gram stream —
  * at 100 TB that is the difference between indexing every shingle
  * (the Jaccard table) and indexing ~a quarter of them (w=7) with a
  * detection guarantee instead of a similarity estimate. Plagiarism /
  * excerpt / quote detection wants exactly this: a 60-token copied
  * paragraph inside two otherwise-unrelated documents moves whole-doc
  * Jaccard by ~nothing but MUST collide here.
  *
  * Cross-engine contract: the k-gram hash is the 32-bit codepoint
  * FNV-1a fold over the space-joined gram string (the quality
  * classifier's hash — chosen because an external SQL engine replays it
  * in plain BIGINT arithmetic), so selection, tie-breaks, and the
  * fingerprint sets are integer-exact across engines.
  *
  * Reference scope note: beyond-reference pipeline surface (SURVEY
  * §2.5); the reference library has no fingerprinting surface.
  */
object Winnowing {

  /** Default [[winnowOverlapPairs]] boilerplate guard: fingerprints in
    * more than this many documents are dropped before the pair join
    * unless the caller explicitly passes 0 (suite-pinned so the guard
    * cannot silently regress to default-off).
    */
  val DefaultMaxDocFrequency: Long = 1000L

  /** The selected fingerprints, one row per distinct selection:
    * `(doc_id, pos, fp)` with `pos` the 0-based gram position and `fp`
    * the k-gram hash. Documents with fewer than `k` tokens (or null
    * text) emit no rows; documents with 1 ≤ grams < `w` winnow one
    * window spanning all their grams (slice truncates at the stream
    * end), so every non-trivial doc keeps at least one fingerprint.
    *
    * Scale shape: selection is a pure per-row Column program — the gram
    * hash array is computed ONCE (an [[opaque]] barrier pins the single
    * evaluation against optimizer duplication, the retrieval-stack
    * lesson), windows are `transform` over window starts with
    * `slice`/`array_min` (O(grams × w) per row, w is small), and
    * adjacent windows re-selecting the same (pos, hash) collapse with a
    * per-row `array_distinct` BEFORE the explode — selections can only
    * repeat within their own document, so the operator needs NO shuffle
    * at all: map-side end to end, streaming-safe (StreamingSuite
    * parity-pins it), shuffle-free (PlanSuite pins no Exchange). The
    * corpus never self-joins here.
    */
  def winnowFingerprints(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int): DataFrame = {
    require(k > 0, s"k (gram width) must be positive, got $k")
    require(w > 0, s"w (window width) must be positive, got $w")
    // the token array materializes in its OWN projection (behind Opaque)
    // before the gram lambda touches it: a lambda's element_at over the
    // raw `tokens(text)` EXPRESSION re-evaluates the regex split per
    // element — k x grams splits per document, the interpreted-HOF trap
    // that cost novelty ~27 ms/doc (r14). As an attribute, each
    // element_at is an O(1) array access and the split runs once per row.
    val toks = col("__winnow_toks")
    val gramHashes = transform(
      sequence(lit(0), size(toks) - k),
      i => codePointFnv32(
        concat_ws(" ", (0 until k).map(j => element_at(toks, i + j + 1)): _*)))
    // < k tokens (incl. null text): NO grams — sequence(0, negative)
    // would DESCEND, and when()'s null condition falls to otherwise
    val gramArr = when(size(toks) >= k, gramHashes)
      .otherwise(array().cast("array<long>"))
    val g = col("g")
    val nwin = greatest(size(g) - (w - 1), lit(1))
    val sel = transform(
      sequence(lit(0), nwin - 1),
      s => {
        val win = slice(g, s + 1, lit(w))
        val m = array_min(win)
        // rightmost occurrence of the window minimum (standard tie rule)
        val rel = aggregate(
          sequence(lit(0), size(win) - 1),
          lit(0),
          (acc, j) => when(element_at(win, j + 1) === m, j).otherwise(acc))
        struct((s + rel).cast("long").as("pos"), m.as("fp"))
      })
    docs
      .select(col(idCol).as("doc_id"),
        opaque(tokens(col(textCol))).as("__winnow_toks"))
      .select(col("doc_id"), opaque(gramArr).as("g"))
      .select(col("doc_id"),
        explode(array_distinct(when(size(g) >= 1, sel)
          .otherwise(array().cast("array<struct<pos:bigint,fp:bigint>>")))).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
  }

  /** Partial-copy candidate pairs: documents sharing at least
    * `minShared` distinct winnowed fingerprint VALUES —
    * `(doc_a, doc_b, n_shared)` with `doc_a < doc_b`. By the winnowing
    * guarantee, any pair sharing a run of `w + k − 1` tokens appears
    * here at `minShared = 1`; raising `minShared` trades recall on
    * short excerpts for precision against single-gram coincidences.
    *
    * Scale shape: the [[Dedup.ngramJaccardPairs]] inverted-index
    * discipline on a ~`2/(w+1)`-density table — `maxDocFrequency > 0`
    * drops fingerprints present in more docs than that before the
    * self-join (the boilerplate-gram skew guard: a fingerprint in d
    * docs costs d² pair rows and carries no copy signal), the
    * fingerprint table persists across its two consumers, and the join
    * hashes 8-byte keys. The guard defaults ON at
    * [[DefaultMaxDocFrequency]] (r13 advice: a partial-copy detector
    * aimed at web corpora must not all-pair boilerplate by default — a
    * shared footer fingerprint in 10⁶ docs is 10¹² pair rows); pass an
    * explicit `0` to disable for corpora known boilerplate-free.
    */
  def winnowOverlapPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      minShared: Long = 1L,
      maxDocFrequency: Long = DefaultMaxDocFrequency): DataFrame = {
    val (pairs, fpAll) =
      winnowOverlapPairsLazy(docs, idCol, textCol, k, w, minShared, maxDocFrequency)
    materializeAtLeaf(pairs, fpAll)
  }

  /** Un-materialized [[winnowOverlapPairs]] plan plus the fingerprint
    * table it persists (caller must unpersist) — PipelineSuite pins the
    * pair join's shape on this.
    */
  private[graft] def winnowOverlapPairsLazy(docs: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Long, maxDocFrequency: Long): (DataFrame, DataFrame) = {
    require(minShared > 0, s"minShared must be positive, got $minShared")
    // persist the PRE-guard set: it feeds the df histogram AND (through
    // the guard anti-join) both sides of the pair join — without the
    // cache the fingerprint pass (the expensive stage) runs twice
    // (r14: was persisting post-guard, paying fingerprinting once for
    // the histogram and again for the guarded join input)
    val fpAll = winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col("doc_id").as("id"), col("fp"))
      .distinct()
      .persist()
    val fp =
      if (maxDocFrequency <= 0) fpAll
      else {
        val hot = fpAll.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFrequency)
          .select("fp")
        fpAll.join(broadcast(hot), Seq("fp"), "left_anti")
      }
    val pairs = fp.as("a")
      .join(fp.as("b").hint("shuffle_hash"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    (pairs, fpAll)
  }
}
