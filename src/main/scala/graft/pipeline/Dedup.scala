package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetUtils.{materializeAtLeaf, materializeAtLeafCounting}

/** Deduplication operators for web-scale corpora. Every variant is built
  * on the same scalable skeleton: per-row signatures (narrow, codegen'd)
  * -> banding/bucketing (one shuffle on the bucket key) -> within-bucket
  * candidate pairs -> exact verification. No O(n^2) stage ever
  * materializes at full width; the only self-join keys are bucket hashes
  * whose expected multiplicity is controlled by the banding parameters.
  *
  * Cache lifetime: operators persist intermediates (shingle/signature
  * tables) only for their own duration — each pipeline runs its
  * (candidate-bounded, small) result once through
  * `DatasetUtils.materializeAtLeaf` and then releases the intermediates,
  * so a long-lived session running many dedups holds at most the final
  * pair sets, never the full inverted indexes. The returned result is
  * persisted, materialized and rooted at a single leaf (its plan does not
  * carry the stages that built it, so a composed chain's plans stay the
  * size of one stage); callers own it — `unpersist()` it, or
  * `spark.catalog.clearCache()` between passes as Bench/Verify do. The
  * price is eagerness: the pipeline runs at call time, and filters
  * composed on the returned frame do not push into it (dedup output
  * pruning is threshold-side, which IS a parameter).
  */
object Dedup {

  import TextFunctions._

  /** Exact dedup: canonical row = min(id) per normalized text. One
    * hash-shuffle on the (hashed) text; at 100 TB you'd pre-hash to a
    * 64-bit key so the shuffle carries 8 bytes, which is what grouping on
    * `fingerprint` does here.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = lower(trim(org.apache.spark.sql.graft.GraftExpressions.collapseWs(col(textCol))))
    df.groupBy(norm.as("__text_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select("keep_id", "dup_count")
  }

  /** Cross-source duplication provenance: for every exact-duplicate
    * group ([[exactDedup]]'s normalization, min-(id, source) canonical
    * copy), each NON-canonical copy contributes one count to the
    * `(src_first, src_dup)` cell — the "who re-hosts whose content"
    * matrix a multi-source crawl mix needs before weighting sources
    * (a mirror farm looks high-volume until its row collapses into
    * another source's column). `n_dups` is the copy count per cell,
    * `dup_id_sum` the ids (for drill-down joins).
    *
    * 100 TB shape: one shuffle on the 64-bit content key (vocab-
    * collapsed by partial aggregation), the duplicate-only group set
    * joined back (hit-bounded — only groups with > 1 copy survive the
    * filter), then the matrix aggregation over source pairs — output is
    * |sources|^2 at most. No driver-side state.
    */
  def dupProvenance(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      srcCol: String): DataFrame = {
    val d = docs.select(
      col(idCol).as("id"),
      col(srcCol).as("src"),
      xxhash64(lower(trim(org.apache.spark.sql.graft.GraftExpressions.collapseWs(col(textCol))))).as("key"))
    val groups = d
      .groupBy("key")
      .agg(min(struct(col("id"), col("src"))).as("f"), count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("key"), col("f.id").as("fid"), col("f.src").as("src_first"))
    d.join(groups, Seq("key"))
      .filter(col("id") =!= col("fid"))
      .groupBy(col("src_first"), col("src").as("src_dup"))
      .agg(count(lit(1)).as("n_dups"), sum(col("id")).as("dup_id_sum"))
  }

  /** Day-over-day corpus diff: classify every doc id across two
    * snapshots as `added` (new id), `removed` (gone), `changed`
    * (same id, different normalized-content fingerprint), or
    * `unchanged` — the audit step between two days of an incremental
    * pipeline ([[extendCorpusArtifact]]'s sibling: that maintains the
    * dedup index, this reports what actually moved). Returns
    * `(id, status)` for the union of ids.
    *
    * 100 TB shape: both sides collapse to `(id, 64-bit fingerprint)`
    * projections before the full-outer join — one shuffle each on the
    * id, no text moves. Comparing fingerprints instead of text bodies
    * is the same 2^-40-collision trade every dedup operator here makes.
    */
  def corpusDiff(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    def fp(df: DataFrame, as: String) = df.select(
      col(idCol).as("id"),
      xxhash64(lower(trim(org.apache.spark.sql.graft.GraftExpressions.collapseWs(col(textCol))))).as(as))
    fp(oldDocs, "old_fp").join(fp(newDocs, "new_fp"), Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") === col("new_fp"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** The deduplicated corpus itself: keep the canonical (min-id) row per
    * normalized text. One broadcast-able semi join against the keep-set.
    */
  def dedupedCorpus(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactDedup(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Connected components over an undirected pair set — the cluster
    * resolution every near-dup pipeline needs between "similar pairs" and
    * "deduplicated corpus" (a transitively-linked dup group must keep ONE
    * representative, not one per pair). Returns (id, component) for every
    * vertex in the pair graph, component = min reachable id.
    *
    * Min-label propagation with pointer jumping: each round every vertex
    * takes the minimum of its own label and its neighbors' (one join +
    * one partial-aggregated groupBy, shuffles on the vertex id), then
    * labels shortcut — component := label(component), the path-halving
    * step of pointer-jumping union-find (one join against the previous
    * round's labels). Labels always name a vertex of the same component with a
    * smaller-or-equal id, so the shortcut is sound, and it turns the
    * round count from O(diameter) into O(log diameter): a chain of 10^6
    * templated documents converges in roughly 23 rounds (two jump-free
    * warmup rounds, ~20 halving rounds, one zero-change confirming round)
    * instead of 10^6 — inside the default maxIter = 32. The edge set is
    * candidate-bounded (banding output), never the corpus crossed with
    * itself, so each round is linear in the pair count.
    *
    * Hitting `maxIter` before convergence would silently split clusters,
    * so it THROWS unless `failOnNonConvergence = false` (then it logs a
    * loud warning and returns the partial labels). For unknown graphs use
    * [[connectedComponentsAuto]], which sizes the budget for you.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 32,
      failOnNonConvergence: Boolean = true): DataFrame =
    connectedComponentsWithStats(pairs, aCol, bCol, maxIter, failOnNonConvergence)._1

  /** [[connectedComponents]] with the round budget auto-sized: keeps
    * propagating while labels still change, up to a hard cap of 64 rounds.
    * Rounds grow with log(diameter), so 64 covers any graph that fits on
    * hardware (diameter beyond ~2^60 vertices is not a real input) — a
    * pipeline on an unknown pair graph needn't guess a budget, and the
    * loop still exits on the first zero-change round, so shallow graphs
    * pay nothing for the headroom. Still fail-loud at the cap: a
    * non-converged result silently splits clusters, which no downstream
    * dedup should ever see.
    */
  def connectedComponentsAuto(
      pairs: DataFrame,
      aCol: String,
      bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIter = 64)

  /** [[connectedComponents]] plus (rounds used, converged) — the suite
    * pins the O(log diameter) bound through this.
    */
  private[graft] def connectedComponentsWithStats(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 32,
      failOnNonConvergence: Boolean = true): (DataFrame, Int, Boolean) = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
    edges.persist()
    try {
      var backing = materializeAtLeaf( // the persisted leaf behind `labels`
        edges.select(col("src").as("id")).distinct().withColumn("component", col("id")))
      var labels = backing
      var iter = 0
      var changed = 1L
      while (iter < maxIter && changed > 0) {
        val msgs = edges
          .join(labels.select(col("id").as("dst"), col("component").as("cand")), "dst")
          .groupBy(col("src").as("id"))
          .agg(min("cand").as("nmin"))
        val propagated = labels.join(msgs, Seq("id"), "left")
          .select(
            col("id"),
            col("component").as("old"),
            when(col("nmin") < col("component"), col("nmin"))
              .otherwise(col("component")).as("component"))
        // pointer jumping: component := label(component). The lookup maps
        // through the PREVIOUS round's labels (the persisted leaf-rooted
        // frame) rather than `propagated` itself — self-joining the
        // unpersisted `propagated` would evaluate its join+agg subtree
        // twice per round. Every label value is a vertex id present in the
        // table (labels start as ids and only ever take existing label
        // values), so the lookup always hits; the coalesce is
        // belt-and-braces for it. This is what makes long chains fold in
        // log-ish rounds — propagation alone moves the min ONE hop per
        // round, the shortcut roughly doubles the effective hop length.
        // Skipped on the first two rounds: diameter<=2 graphs (the common
        // near-dup case) converge there from propagation alone, so they
        // never pay the extra join; deeper graphs still fold in
        // O(log diameter)-ish rounds overall (diameter-64 chain: <=10,
        // suite-pinned).
        val proposed = if (iter < 2) propagated else propagated.join(
          labels.select(col("id").as("component"), col("component").as("jump")),
          Seq("component"), "left")
          .select(
            col("id"),
            col("old"),
            coalesce(least(col("component"), col("jump")), col("component"))
              .as("component"))
        // materialize the round at a leaf (the changed-count is the
        // materializing action) and free the previous round's labels. The
        // leaf RESETS the Catalyst plan: the round's plan embeds the
        // previous labels twice (directly and via msgs), so chaining
        // DataFrames would double the plan tree every round — analysis time
        // goes exponential while the data stays tiny.
        val (next, n) = materializeAtLeafCounting(
          proposed, _.filter(col("component") =!= col("old")).count(), backing)
        changed = n
        backing = next
        labels = next.select("id", "component")
        iter += 1
      }
      val converged = changed == 0
      if (!converged) {
        // NB: labels still changed in the LAST round, so completeness
        // cannot be confirmed (a zero-change confirming round is part of
        // the budget — size maxIter as changing-rounds + 1)
        val msg = s"connectedComponents could not CONFIRM convergence in " +
          s"$maxIter rounds ($changed labels changed in the last round) — " +
          "components may be split; raise maxIter (rounds grow with " +
          "log(diameter), plus one zero-change confirming round)"
        if (failOnNonConvergence) {
          backing.unpersist(blocking = false)
          throw new IllegalStateException(msg)
        }
        org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
      }
      // `labels` is a projection over the last round's persisted frame; hand
      // the caller its own persisted copy and release the loop's blocks
      (materializeAtLeaf(labels, edges, backing), iter, converged)
    } catch { // a failed materialization frees its own frames; `edges` is ours
      case e: Throwable => edges.unpersist(blocking = false); throw e
    }
  }

  /** Near-dup-deduplicated corpus: one canonical (min-id) row survives per
    * connected component of the similar-pair graph; rows not in any pair
    * pass through. `pairs` is any of the near-dup pipelines' outputs.
    */
  def nearDupCorpus(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    val losers = comps.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    materializeAtLeaf(df.join(losers, Seq(idCol), "left_anti"), comps)
  }

  /** Like [[nearDupCorpus]] but each dup cluster keeps its
    * highest-`priorityCol` member (ties broken by min id) — production
    * dedup retains the best-quality document, not the smallest id. The
    * per-component window is bounded by the dup-cluster size, which the
    * pair-generation parameters already control; a corpus whose documents
    * are ALL near-dups of each other degenerates to one giant component
    * by definition, not by plan choice.
    */
  def nearDupCorpusBy(
      df: DataFrame,
      idCol: String,
      priorityCol: String,
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b"): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    val ranked = comps.join(
      df.select(col(idCol).as("id"), col(priorityCol).as("__prio")), "id")
    val w = Window.partitionBy("component")
      .orderBy(col("__prio").desc, col("id").asc)
    val losers = ranked.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1)
      .select(col("id").as(idCol))
    materializeAtLeaf(df.join(losers, Seq(idCol), "left_anti"), comps)
  }

  /** Exact n-gram Jaccard similar pairs >= threshold via the
    * shingle-inverted-index self-join — the exact-verification half of the
    * MinHash pipeline, also usable standalone at moderate scale.
    */
  /** `maxDocFrequency > 0` drops shingles present in more than that many
    * docs before the self-join — the skew guard for web-scale corpora
    * (boilerplate shingles otherwise cost df(s)^2 pairs while carrying no
    * near-dup signal). 0 = exact Jaccard (the oracle-checked mode).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocFrequency: Long = 0L): DataFrame = {
    val (pairs, sh) =
      ngramJaccardPairsLazy(df, idCol, textCol, n, threshold, maxDocFrequency)
    materializeAtLeaf(pairs, sh)
  }

  /** The un-materialized plan behind [[ngramJaccardPairs]] plus the
    * shingle table it persists — exposed so PlanSuite can assert the
    * physical shape (no cartesian, hash join on the 8-byte key) on the
    * REAL pipeline rather than a test copy.
    */
  private[graft] def ngramJaccardPairsLazy(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxDocFrequency: Long = 0L): (DataFrame, DataFrame) = {
    // shingle_hashes produces the distinct 8-byte shingle keys directly
    // from the token array (no intermediate shingle strings), and the
    // self-join shuffles longs instead of ~20-byte UTF8 keys (collisions
    // are ~2^-40-level and would only perturb one count)
    val shAll = {
      import org.apache.spark.sql.graft.ShingleHashesFn.shingle_hashes
      df.select(
        col(idCol).as("id"),
        explode(shingle_hashes(tokens(col(textCol)), n)).as("s"))
    }
    val sh =
      if (maxDocFrequency <= 0) shAll
      else {
        val hot = shAll.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFrequency)
          .select("s")
        shAll.join(broadcast(hot), Seq("s"), "left_anti")
      }
    // the shingle table feeds three plans (sizes + both join sides):
    // persist it, and hash-join on the 8-byte key — sorting the inverted
    // index for a sort-merge join is pure overhead (40% of the op's
    // wall-clock at sf0.1)
    sh.persist()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b").hint("shuffle_hash"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("c"))
    val pairs = inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.id"))
      .withColumn(
        "jaccard",
        col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    (pairs, sh)
  }

  /** MinHash signatures: each shingle is string-hashed ONCE (xxhash64),
    * then the k salted hash functions are derived from that long by a
    * splitmix64 mixer inside a single fused aggregate
    * (MinHashSignatureAgg) holding k running minima. One explode + one
    * partial-aggregated groupBy — linear in corpus size, shuffle carries
    * k longs per doc. (The naive form — k aggregate expressions each
    * re-hashing the shingle string — spent ~85% of the pipeline's
    * wall-clock on string hashing.)
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      shingleSize: Int = 3): DataFrame = {
    import org.apache.spark.sql.graft.MinHashSignature.minhash_signature
    import org.apache.spark.sql.graft.ShingleHashesFn.shingle_hashes
    df.select(
        col(idCol).as("id"),
        explode(shingle_hashes(tokens(col(textCol)), shingleSize)).as("h"))
      .groupBy("id")
      .agg(minhash_signature(col("h"), numHashes).as("signature"))
  }

  /** LSH banding: split the signature into `bands` bands, bucket docs by
    * (band index, band hash), emit within-bucket pairs. With b bands of r
    * rows, P(candidate) = 1-(1-j^r)^b — the standard S-curve.
    */
  def minhashCandidatePairs(
      signatures: DataFrame, bands: Int, numHashes: Int): DataFrame = {
    val (cands, banded) = minhashCandidatePairsLazy(signatures, bands, numHashes)
    materializeAtLeaf(cands, banded)
  }

  /** Band-explode a signature frame into (carry..., band, bucket) — the
    * ONE banding projection shared by the batch candidate join and the
    * incremental dedup (the streaming path mirrors it through the
    * `MinHashSignature.sliceHash` Scala twin); all three parities are
    * suite-pinned, so the banding math must live in exactly one place.
    * The bucket is a codegen'd splitmix fold over the band's longs in
    * place — no slice allocation, no per-row string rendering (the
    * previous xxhash64(slice(...).cast("string")) dominated this loop).
    */
  private def bandedSignatures(
      sigs: DataFrame, bands: Int, rows: Int, carry: Seq[String]): DataFrame =
    sigs.select(
      carry.map(col) :+ explode(
        array((0 until bands).map { b =>
          struct(
            lit(b).as("band"),
            org.apache.spark.sql.graft.GraftExpressions
              .longSliceHash(col("signature"), b * rows, rows, b.toLong)
              .as("bucket"))
        }: _*)).as("bb"): _*)
      .select(carry.map(col) :+ col("bb.band") :+ col("bb.bucket"): _*)

  /** Un-materialized banding plan (see [[ngramJaccardPairsLazy]]). */
  private[graft] def minhashCandidatePairsLazy(
      signatures: DataFrame, bands: Int, numHashes: Int): (DataFrame, DataFrame) = {
    val rows = numHashes / bands
    require(rows > 0, s"bands=$bands > numHashes=$numHashes")
    require(numHashes % bands == 0,
      s"bands=$bands must divide evenly into numHashes=$numHashes " +
        "(a remainder would silently leave signature tail components unbanded)")
    val banded = bandedSignatures(signatures, bands, rows, Seq("id"))
    banded.persist()
    val cands = banded.as("a")
      .join(banded.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    (cands, banded)
  }

  /** MinHash near-dup pipeline: candidates from banding, verified with the
    * estimated Jaccard (fraction of agreeing signature components).
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, numHashes)
    sigs.persist()
    val cands = minhashCandidatePairs(sigs, bands, numHashes)
    val agree = aggregate(
      zip_with(col("sa.signature"), col("sb.signature"),
        (x, y) => when(x === y, 1.0).otherwise(0.0)),
      lit(0.0), (acc, x) => acc + x)
    val out = cands
      .join(sigs.as("sa"), col("doc_a") === col("sa.id"))
      .join(sigs.as("sb"), col("doc_b") === col("sb.id"))
      .withColumn("est_jaccard", round(agree / numHashes, 6))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
    materializeAtLeaf(out, sigs, cands)
  }

  /** Exact-Jaccard verification of an LSH candidate pair set: join the
    * candidates back to the per-doc shingle-hash inverted index, count the
    * intersection per pair, and keep pairs at or above `threshold`. This is
    * the standard second half of a production LSH dedup (banding proposes,
    * exact verification disposes): the cost is proportional to the
    * candidate count, which the banding parameters control, so the exact
    * step never touches the O(n^2) pair space.
    */
  private[pipeline] def verifyPairsExactJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      pairs: DataFrame, // (doc_a, doc_b) — persisted by every caller
      shingleSize: Int,
      threshold: Double): DataFrame = {
    val (verified, sh) =
      verifyPairsExactJaccardLazy(df, idCol, textCol, pairs, shingleSize, threshold)
    materializeAtLeaf(verified, sh)
  }

  /** Un-materialized verify plan plus the shingle index it persists (see
    * [[ngramJaccardPairsLazy]]) — CandidateBoundedVerifySuite pins the
    * candidate prune on this plan.
    */
  private[graft] def verifyPairsExactJaccardLazy(
      df: DataFrame,
      idCol: String,
      textCol: String,
      pairs: DataFrame,
      shingleSize: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.graft.ShingleHashesFn.shingle_hashes
    // candidate-bounded index (r16): only docs that appear in a candidate
    // pair are re-tokenized and shingled — the semi-join keeps the
    // verification cost proportional to the candidate count (the contract
    // stated above), where the previous corpus-wide index build was
    // corpus-linear no matter how few candidates banding proposed. At
    // 100 TB this is the difference between re-shingling the corpus and
    // touching only the near-dup neighborhoods.
    val candIds = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as(idCol))
      .distinct()
    val sh = df.join(candIds, Seq(idCol), "left_semi").select(
      col(idCol).as("id"),
      explode(shingle_hashes(tokens(col(textCol)), shingleSize)).as("s"))
    sh.persist()
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.as("va"), col("doc_a") === col("va.id"))
      .join(sh.as("vb"),
        col("doc_b") === col("vb.id") && col("va.s") === col("vb.s"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("c"))
    val verified = inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.id"))
      .withColumn(
        "jaccard",
        col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    (verified, sh)
  }

  /** MinHash near-dup pipeline with EXACT verification: banding proposes
    * candidates, the shingle inverted index verifies true Jaccard >=
    * threshold. Output is therefore exact (equal to [[ngramJaccardPairs]])
    * whenever banding recall is 1 at the threshold — with b bands of r rows
    * the per-pair miss probability is (1-j^r)^b, e.g. ~1e-5 at j=0.85 with
    * 16x4 — while doing candidate-count work instead of n^2.
    */
  def minhashPairsVerified(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, shingleSize)
    sigs.persist()
    val cands = minhashCandidatePairs(sigs, bands, numHashes)
    sigs.unpersist(blocking = false) // cands is materialized; sigs done
    val verified =
      verifyPairsExactJaccard(df, idCol, textCol, cands, shingleSize, threshold)
    cands.unpersist(blocking = false)
    verified
  }

  /** Incremental near-dup dedup — the daily-batch production shape: a new
    * `batch` lands next to an already-deduplicated `corpus`, and only
    * batch docs may be dropped. A batch doc is dropped iff some doc that
    * PRECEDES it — any corpus doc, or a batch doc with a smaller id — is
    * a near-dup at `threshold` exact trigram Jaccard. Returns the
    * surviving batch rows. Pass `corpusBanded = Some(artifact)` (a
    * persisted [[bandedCorpusArtifact]]) to skip re-banding the corpus:
    * the run is then batch-linear plus candidate verification — the
    * production daily shape.
    *
    * Precedence makes the rule non-iterative by construction: one
    * banding pass over corpus ∪ batch, one shuffle-hash equi-join on
    * (band, bucket) restricted to batch-side victims, exact verification
    * proportional to the candidate count — no connected components over
    * the (static) corpus, which a full re-dedup would redo daily. At
    * 100 TB the corpus side's signatures and band buckets are a
    * precomputed artifact maintained alongside the corpus —
    * [[bandedCorpusArtifact]] builds it, `corpusBanded = Some(_)` uses
    * it (without it this method recomputes the corpus banding from text
    * for self-containment; the banding stage is corpus-linear and
    * embarrassingly parallel) — so each day's marginal cost is banding
    * the batch plus candidate verification.
    * Recall at the threshold is the standard LSH S-curve (16 bands × 4
    * rows: per-pair miss ≈ 1e-5 at j = 0.85); precision is exact.
    *
    * RECALL / THRESHOLD COUPLING: the default `threshold = 0.5` sits well
    * below the 16×4 S-curve's steep region — a true pair at exactly
    * j = 0.5 is missed with probability (1 − 0.5^4)^16 ≈ 36%, dropping
    * to ≈ 1% at j = 0.7 and ≈ 1e-5 at j = 0.85. Callers whose dup
    * population has mass near the threshold should raise `bands` (at the
    * same `numHashes`, fewer rows per band steepens the curve leftward at
    * the cost of more candidates to verify) rather than trust the default
    * banding at j ≈ 0.5. An exact-recall oracle (e.g. a brute-force
    * Jaccard join) only agrees with this method when the actual dup pairs
    * sit in the high-recall region — the gate fixture's near-dups are
    * high-similarity by construction, which is what keeps its DuckDB
    * comparison deterministic.
    *
    * Note the one semantic difference vs re-running [[nearDupCorpusBy]]
    * from scratch: a batch doc near-duplicate of a DROPPED batch doc is
    * still dropped (its pair precedes it), which is the conservative
    * choice for training data — a near-dup chain admits one survivor,
    * its smallest-id member, exactly like the min-label component rule.
    */
  def incrementalDedupSurvivors(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      corpusBanded: Option[DataFrame] = None): DataFrame = {
    val (cands0, all, banded) = incrementalCandidatesLazy(
      corpus, batch, idCol, textCol, numHashes, bands, shingleSize, corpusBanded)
    val cands = materializeAtLeaf(cands0, banded)
    val verified = verifyPairsExactJaccard(all, "id", "text", cands, shingleSize, threshold)
    val victims = verified.select(col("doc_b").as(idCol)).distinct()
    val out = batch.join(victims, Seq(idCol), "left_anti")
    // release the persisted frames themselves (verified, not its
    // projection — unpersisting a derived plan would leave the cached
    // blocks behind)
    materializeAtLeaf(out, cands, verified)
  }

  /** The corpus-linear banding artifact the 100 TB incremental shape
    * maintains ALONGSIDE the corpus: one `(id, band, bucket)` row per
    * corpus doc per band, computed once and persisted (plain parquet —
    * `artifact.write.parquet(path)` / `spark.read.parquet(path)` round-
    * trips it; the schema is three primitive columns). Passing it back
    * through `incrementalDedupSurvivors(..., corpusBanded = Some(art))`
    * makes each daily run batch-linear: only the BATCH is shingled,
    * signed, and banded — the corpus contributes this artifact to the
    * candidate join and raw text only for the candidate-bounded exact
    * verification. The banding math is [[bandedSignatures]], the same
    * single projection every other MinHash path uses, so
    * `recomputed == precomputed` holds by construction (and is
    * suite-pinned in PipelineSuite).
    *
    * The artifact is only valid for the `(numHashes, bands, shingleSize)`
    * it was built with — pass the same values when using it (the
    * signature seeds are deterministic, so equal parameters give equal
    * buckets across runs and Spark versions).
    */
  def bandedCorpusArtifact(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3): DataFrame = {
    val rows = numHashes / bands
    require(rows > 0 && numHashes % bands == 0,
      s"bands=$bands must divide evenly into numHashes=$numHashes")
    val sigs = minhashSignatures(corpus, idCol, textCol, numHashes, shingleSize)
    bandedSignatures(sigs, bands, rows, Seq("id"))
  }

  /** Day-over-day artifact maintenance: after a batch's survivors join
    * the corpus, tomorrow's artifact is today's artifact plus the
    * SURVIVORS' bandings — the corpus is never re-banded. The invariant
    * `extendCorpusArtifact(art(C), S) == bandedCorpusArtifact(C ∪ S)`
    * (as a row set) holds because banding is per-doc; it is what keeps
    * the daily loop corpus-recompute-free forever, and it is
    * suite-pinned across a simulated two-day run in PipelineSuite.
    * Parameters must match the artifact's, as in [[bandedCorpusArtifact]].
    * Pass only docs NOT already in the artifact (the survivors, not the
    * raw batch): this method does not deduplicate, and re-extending with
    * an already-banded doc duplicates its rows — harmless for the drop
    * rule (victims are distinct) but wasted artifact bytes forever.
    */
  def extendCorpusArtifact(
      artifact: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3): DataFrame =
    artifact.select("id", "band", "bucket").unionByName(
      bandedCorpusArtifact(newDocs, idCol, textCol, numHashes, bands, shingleSize))

  /** Un-materialized incremental-candidate plan (see
    * [[ngramJaccardPairsLazy]]): (candidates, corpus ∪ batch with rank,
    * persisted banded frame). Candidates are (doc_a precedes doc_b,
    * doc_b is a batch doc) pairs sharing a (band, bucket). With
    * `corpusBanded` supplied (a [[bandedCorpusArtifact]], possibly read
    * back from parquet), only the batch side is signed and banded.
    */
  private[graft] def incrementalCandidatesLazy(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      shingleSize: Int,
      corpusBanded: Option[DataFrame] = None): (DataFrame, DataFrame, DataFrame) = {
    // rank 0 = corpus, 1 = batch; precedence = (rank, id) lexicographic
    val all = corpus.select(col(idCol).as("id"), col(textCol).as("text"), lit(0).as("rk"))
      .unionByName(batch.select(col(idCol).as("id"), col(textCol).as("text"), lit(1).as("rk")))
    val rows = numHashes / bands
    require(rows > 0 && numHashes % bands == 0,
      s"bands=$bands must divide evenly into numHashes=$numHashes")
    val banded = corpusBanded match {
      case Some(art) =>
        require(Seq("id", "band", "bucket").forall(art.columns.contains),
          s"corpusBanded must have (id, band, bucket) columns, got ${art.columns.toSeq}")
        // batch-linear marginal cost: sign + band ONLY the batch; the
        // corpus rides in through its precomputed artifact
        val batchSigs = minhashSignatures(batch, idCol, textCol, numHashes, shingleSize)
          .withColumn("rk", lit(1))
        bandedSignatures(batchSigs, bands, rows, Seq("id", "rk"))
          .unionByName(art.select(col("id"), lit(0).as("rk"), col("band"), col("bucket")))
      case None =>
        // rk rides in the groupBy key (it is functionally determined by
        // id), so no second scan of the union and no corpus-wide re-join
        // to re-attach it
        val sigs = {
          import org.apache.spark.sql.graft.MinHashSignature.minhash_signature
          import org.apache.spark.sql.graft.ShingleHashesFn.shingle_hashes
          all.select(
              col("id"), col("rk"),
              explode(shingle_hashes(tokens(col("text")), shingleSize)).as("h"))
            .groupBy("id", "rk")
            .agg(minhash_signature(col("h"), numHashes).as("signature"))
        }
        bandedSignatures(sigs, bands, rows, Seq("id", "rk"))
    }
    banded.persist()
    val cands = banded.as("a")
      .join(banded.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("b.rk") === 1 &&
          (struct(col("a.rk"), col("a.id")) < struct(col("b.rk"), col("b.id"))))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    (cands, all, banded)
  }

  /** SimHash near-dup pipeline with EXACT verification: Hamming-ball
    * banding proposes candidates, exact Jaccard disposes. `maxHamming`
    * trades recall (wider ball catches more true pairs) against candidate
    * count; false positives cost only verification work.
    */
  def simhashPairsVerified(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 8,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      numBlocks: Int = 0,
      maxBucketFrequency: Long = 0L): DataFrame = {
    val hammingPairs =
      simhashPairs(df, idCol, textCol, maxHamming, numBlocks, maxBucketFrequency)
    val cands = hammingPairs.select("doc_a", "doc_b")
    val verified =
      verifyPairsExactJaccard(df, idCol, textCol, cands, shingleSize, threshold)
    hammingPairs.unpersist(blocking = false)
    verified
  }

  /** 64-bit SimHash over token hashes: per-row bit-vote accumulation (a
    * codegen'd expression, no shuffle), then near-dup pairs via
    * [[simhashBandMasks]] block-union banding, verified with
    * bit_count(xor).
    */
  def simhash(text: Column): Column =
    org.apache.spark.sql.graft.GraftExpressions.simhash64(TextFunctions.tokens(text))

  /** Block-union banding tables for Hamming-ball search (Manku-style
    * multi-block generalization of the d+1-chunk pigeonhole): split the 64
    * bits into `numBlocks` B >= d+1 balanced blocks; two signatures within
    * Hamming distance d differ in at most d blocks, so they agree exactly
    * on some (B-d)-subset of blocks — one table per (B-d)-subset, keyed on
    * the signature MASKED to that subset's bit-union, preserves exact
    * recall while making keys (B-d)x wider. B = d+1 is the classic scheme
    * (keys 64/(d+1) bits — ~7 bits at d=8, whose ~128 buckets hold n/128
    * docs each: the O(n^2/128) within-bucket bomb at corpus scale); wider
    * B trades C(B, d) tables for quadratically fewer within-bucket pairs.
    * Returns (tableId -> unionMask).
    */
  private[pipeline] def simhashBandMasks(
      maxHamming: Int, numBlocks: Int): Seq[Long] = {
    val d = maxHamming
    require(numBlocks > d && numBlocks <= 64,
      s"numBlocks=$numBlocks must be in (${d}, 64] for maxHamming=$d")
    val bounds = Array.tabulate(numBlocks + 1)(c => c * 64 / numBlocks)
    def blockMask(c: Int): Long = {
      val width = bounds(c + 1) - bounds(c)
      val m = if (width >= 64) -1L else (1L << width) - 1
      m << bounds(c)
    }
    (0 until numBlocks).combinations(numBlocks - d)
      .map(_.map(blockMask).reduce(_ | _)).toSeq
  }

  /** Auto block count: widen past d+1 while keys are under ~12 bits and
    * the table count stays bounded — d=8 lands at B=10 (45 tables of
    * ~12.8-bit keys, ~10x fewer candidates than d+1=9 chunks of 7 bits),
    * d=3 at B=5 (10 tables of ~25.6-bit keys, the Manku web-crawl regime).
    */
  private def autoBlocks(maxHamming: Int): Int = {
    val d = maxHamming
    var b = d + 1
    def width(bb: Int): Double = (bb - d) * 64.0 / bb
    def tables(bb: Int): Long =
      (1 to (bb - d)).map(i => (bb - i + 1).toLong).product /
        (1 to (bb - d)).map(_.toLong).product
    while (b < 64 && width(b) < 24.0 && tables(b + 1) <= 128) b += 1
    b
  }

  /** Distinct candidate pairs (with Hamming distance) from block-union
    * banding over a (id, sig) signature table — the proposer half of
    * [[simhashPairs]], exposed so suites can pin candidate recall and the
    * guard's candidate-count bound directly.
    */
  private[graft] def simhashCandidates(
      sigs: DataFrame,
      maxHamming: Int,
      numBlocks: Int,
      maxBucketFrequency: Long): DataFrame = {
    val blocks = if (numBlocks > 0) numBlocks else autoBlocks(maxHamming)
    val masks = simhashBandMasks(maxHamming, blocks)
    // the C(B,d)-way explode feeds both self-join sides (and the guard's
    // frequency agg), so it re-evaluates 2-3x — deliberately NOT persisted:
    // `sigs` (the expensive simhash pass) is cached by the caller, and
    // re-deriving the explode from it is 45 AND-ops per row, far cheaper
    // than caching and re-reading the C(B,d)x-multiplied table (persisting
    // it measured ~1.5x slower end-to-end at sf0.1)
    val bandedAll = sigs.select(
      col("id"), col("sig"),
      explode(array(masks.zipWithIndex.map { case (m, t) =>
        struct(lit(t).as("tbl"), col("sig").bitwiseAND(lit(m)).as("key"))
      }: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.tbl"), col("bb.key"))
    // skew guard, mirroring ngram's maxDocFrequency: a bucket hotter than
    // the cap (boilerplate-dominated signatures) costs count^2 pairs while
    // its members are still covered by their other C(B,d)-1 tables; 0 =
    // exact (the oracle-checked mode).
    val banded =
      if (maxBucketFrequency <= 0) bandedAll
      else {
        val hot = bandedAll.groupBy("tbl", "key").agg(count(lit(1)).as("n"))
          .filter(col("n") > maxBucketFrequency)
          .select("tbl", "key")
        bandedAll.join(broadcast(hot), Seq("tbl", "key"), "left_anti")
      }
    banded.as("a")
      .join(banded.as("b").hint("shuffle_hash"),
        col("a.tbl") === col("b.tbl") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(
        col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
  }

  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      numBlocks: Int = 0,
      maxBucketFrequency: Long = 0L): DataFrame = {
    val sigs = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sig"))
    sigs.persist()
    // only the hamming-filtered output materializes — the unfiltered
    // candidate set can be an order of magnitude larger and is never
    // needed as a table by itself
    val out = simhashCandidates(sigs, maxHamming, numBlocks, maxBucketFrequency)
      .filter(col("hamming") <= maxHamming)
    materializeAtLeaf(out, sigs)
  }

  /** Embedding near-dup pairs above a cosine threshold. `bruteForce` is
    * the exact small-scale path (cross join, bounded by caller); the LSH
    * path buckets by random-hyperplane sign bits so only same-bucket pairs
    * are compared — the 100 TB path.
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.GraftExpressions.arrayDot
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    // same left-to-right summation as DuckDB's list_dot_product (oracle
    // bit-equality), but whole-stage-codegen'd instead of interpreted HOFs
    arrayDot(ad, bd) / (sqrt(arrayDot(ad, ad)) * sqrt(arrayDot(bd, bd)))
  }

  def embeddingDupPairsBrute(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    import org.apache.spark.sql.graft.GraftExpressions.arrayDot
    // norms computed once per row, not once per pair; the pair loop is a
    // single codegen'd dot product
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(arrayDot(col("v"), col("v"))))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cos", arrayDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Random-hyperplane LSH: `planes` seeded Gaussian hyperplanes -> sign
    * bits -> bucket id; compare only within buckets (repeat with `tables`
    * independent plane sets to recover recall).
    */
  def embeddingDupPairsLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      planes: Int = 12,
      tables: Int = 4,
      seed: Long = 42L): DataFrame = {
    val rng = new scala.util.Random(seed)
    val hyperplanes: Array[Array[Array[Double]]] =
      Array.fill(tables, planes, dim)(rng.nextGaussian())
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    // one codegen'd sign-bucket expression per table — the plane matrix is
    // a code-embedded reference object, so the per-row work is a tight
    // primitive loop (the UDF it replaces boxed the embedding to
    // Seq[Double] per table per row)
    val banded = v.select(
      col("id"), col("v"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"),
          org.apache.spark.sql.graft.GraftExpressions
            .lshBucket(col("v"), hyperplanes(t)).as("bucket"))): _*)).as("bb"))
      .select(col("id"), col("v"), col("bb.t"), col("bb.bucket"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.t") === col("b.t") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.v").as("va"), col("b.v").as("vb"))
      .distinct()
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by cluster-then-prune — k-means buckets the embedding
    * space, then only WITHIN-cluster pairs are compared, turning the
    * quadratic all-pairs cosine scan into Σ|cluster|² work. A document is
    * a semantic duplicate iff some smaller-id document in the SAME
    * cluster has cosine ≥ `threshold` — the paper's upper-triangular max
    * rule (drop i when max_{j<i} cos(i,j) > ε), made deterministic by
    * the id order. Cross-cluster near-dups are by construction not
    * compared; that blind spot is the algorithm's documented
    * precision/cost trade, not an implementation gap.
    *
    * Returns `(id, cluster, is_semdup)` for every input row.
    *
    * Scale shape: assignment is a zero-shuffle codegen'd argmin against
    * literal centroids ([[Clustering.assignClusters]]); the pair stage is
    * ONE self-join shuffling on the int cluster id. Cost is
    * Σ_c |c|² dot products, so k must scale with the corpus: pick
    * k ≈ n / targetClusterSize (the paper runs 50k clusters over 5B
    * LAION embeddings ⇒ ~10⁵-element clusters). A mis-sized k shows up
    * as one giant cluster = one quadratic reducer: set
    * `maxClusterSize > 0` to fail loud before the join instead (one
    * k-row aggregate, same guard philosophy as the banding frequency
    * caps).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]],
      threshold: Double,
      maxClusterSize: Long = 0L): DataFrame = {
    import org.apache.spark.sql.graft.GraftExpressions.arrayDot
    val v = graft.pipeline.Clustering.assignClusters(
        df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")), "v", centroids)
      // null embedding -> null cluster (argmin over all-null distances is
      // not an assignment): the row joins nothing and stays is_semdup=false
      .withColumn("cluster", when(col("v").isNotNull, col("cluster")))
      .withColumn("nrm", sqrt(arrayDot(col("v"), col("v"))))
    if (maxClusterSize > 0) {
      val worst = v.groupBy("cluster").agg(count(lit(1)).as("n"))
        .agg(max("n")).collect()(0).getLong(0)
      require(worst <= maxClusterSize,
        s"largest cluster has $worst rows > maxClusterSize $maxClusterSize — " +
          "increase k (aim k ~ n / targetClusterSize) or raise the cap")
    }
    // exists-smaller-similar-neighbor, as a semi join: left_semi keeps one
    // row per dup id regardless of how many neighbors fire, so no distinct
    val dups = v.as("a")
      .join(v.as("b").hint("shuffle_hash"),
        col("a.cluster") === col("b.cluster") && col("b.id") < col("a.id") &&
          arrayDot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")) >= threshold,
        "left_semi")
      .select(col("a.id"))
    v.select(col("id"), col("cluster"))
      .join(dups.withColumn("__d", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"), coalesce(col("__d"), lit(false)).as("is_semdup"))
  }

  /** The [[semanticDedup]] survivors with all original columns — the
    * corpus after semantic pruning. One extra broadcast-able join of the
    * dup-id set (dup volume, not corpus volume) against the input.
    */
  def semanticDedupSurvivors(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Seq[Seq[Double]],
      threshold: Double,
      maxClusterSize: Long = 0L): DataFrame = {
    val dupIds = semanticDedup(df, idCol, vecCol, centroids, threshold, maxClusterSize)
      .filter(col("is_semdup")).select(col("id"))
    df.join(dupIds, df(idCol) === dupIds("id"), "left_anti")
  }

  /** Cross-document repeated-substring spans: maximal runs of EXACTLY
    * matching tokens of length >= `minSpanTokens` shared between two
    * documents — the primitive behind substring-level training-data
    * dedup (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better": repeated ~50-token spans get deduplicated even when
    * the documents as wholes are distinct). Returns
    * `(doc_a, doc_b, start_a, start_b, span_tokens)` with doc_a < doc_b
    * and 0-based token offsets; a row per maximal shared span.
    *
    * Algorithm: positional k-gram hashes per doc (one scalar expression,
    * zero string allocation) -> hot-gram guard (grams occurring more
    * than `maxOccurrences` times corpus-wide are boilerplate: dropping
    * them bounds the join fanout, at the cost of splitting spans that
    * cross a dropped gram — the guard trades completeness for a bounded
    * plan exactly like the Jaccard df guard) -> equi-join on the gram
    * hash (doc_a < doc_b) -> consecutive matches merge on the
    * (doc_a, doc_b, pa - pb) DIAGONAL: positions (pa, pb) and
    * (pa+1, pb+1) are the same span, so islands of consecutive pa within
    * a diagonal are maximal spans of pa-run + k - 1 tokens.
    *
    * Scale shape: the only corpus-width stages are the posexplode and
    * the gram-keyed self-join; the guard bounds each gram's fanout to
    * `maxOccurrences`^2 pairs. The island window partitions by
    * (pair, diagonal), whose size is bounded by the shorter document's
    * length — never corpus-sized. 64-bit gram hashes: a collision
    * (2^-40-ish per candidate) can at worst fuse two spans.
    */
  /** Paragraph-level dedup (the RefinedWeb/Falcon recipe): drop every
    * paragraph instance that is not the corpus-wide FIRST occurrence of
    * its normalized text, then reassemble each document from its
    * surviving paragraphs in original order. Boilerplate (cookie
    * banners, navigation chrome, license headers) repeats across
    * millions of pages whose documents as wholes are unique — document-
    * level dedup never touches it; this operator removes it everywhere
    * but its first appearance.
    *
    * Semantics: paragraphs are `sep`-separated (literal separator, not a
    * regex); normalization is lowercase + whitespace collapse;
    * paragraphs that normalize to empty are dropped outright. "First"
    * = minimal (id, position) lexicographically, so a doc repeating its
    * own paragraph keeps only the first copy. Documents whose every
    * paragraph is dropped disappear from the output. Returns
    * `(id, text, n_paras, n_kept)` with `text` rebuilt by joining
    * survivors with `sep`.
    *
    * Scale shape: paragraphs shuffle on a 64-bit `xxhash64` of the
    * normalized text (8-byte keys, like every dedup path here; a
    * collision can at worst drop one innocent paragraph), the
    * first-occurrence side is partial-aggregated to distinct-paragraph
    * size before the join, and reassembly is one groupBy on the doc id.
    * Three linear shuffles, no candidate blowup — boilerplate-heavy
    * grams are exactly the point, so unlike the pair operators there is
    * no hot-key guard: a paragraph with 10^6 occurrences still
    * aggregates to ONE (key, first) row map-side before it moves.
    */
  def paragraphDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n"): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    val paras = docs
      .select(
        col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "para")))
      .withColumn("norm", lower(trim(org.apache.spark.sql.graft.GraftExpressions.collapseWs(col("para")))))
      .filter(col("norm") =!= "")
      .withColumn("key", xxhash64(col("norm")))
    val first = paras
      .groupBy("key")
      .agg(min(struct(col("id"), col("pos"))).as("first"))
      .select(col("key"), col("first.id").as("fid"), col("first.pos").as("fpos"))
    paras
      .join(first, Seq("key"))
      .withColumn("keep", col("id") === col("fid") && col("pos") === col("fpos"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("keep"), struct(col("pos"), col("para"))))),
            x => x.getField("para")),
          sep).as("text"))
      .filter(col("n_kept") > 0)
      .select(col("id").as(idCol), col("text"), col("n_paras"), col("n_kept"))
  }

  /** Surgical removal of repeated substrings ([[repeatedSpans]]' other
    * half — Lee et al. REMOVE the duplicated spans, keeping one
    * occurrence): every maximal shared span keeps its first-document
    * occurrence (spans are reported doc_a < doc_b; the b-side loses) and
    * the losing documents get those token ranges cut out. Returns
    * `(id, text, n_removed)` for EVERY input doc — text rebuilt from the
    * surviving tokens of the normalized stream (token-level surgery is
    * tokenizer-side, like [[graft.pipeline.Chunking]]: untouched docs
    * are re-joined from the same normalized tokens so the output column
    * is uniformly single-spaced), `n_removed` the count of removed
    * token positions (overlapping spans counted once).
    *
    * Scale shape: the detection pipeline dominates (see
    * [[repeatedSpans]]); removal adds a position-explode of the SPAN
    * volume only (duplicated tokens, not the corpus), one left_semi to
    * pull the affected docs, and one groupBy to rebuild them. Untouched
    * documents never explode and never shuffle — they pass through a
    * map-side anti join + re-join projection.
    */
  def removeRepeatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minSpanTokens: Int = 20,
      maxOccurrences: Int = 64): DataFrame = {
    val spans = repeatedSpans(docs, idCol, textCol, k, minSpanTokens, maxOccurrences)
    // persisted: the removal set feeds FOUR consumers (anti join, counts,
    // semi + anti on affected ids) — without it each one re-runs the
    // whole detection pipeline. Span-volume sized (duplicated tokens
    // only), so the cache is small; freed by the caller's clearCache
    // like every persisted dedup intermediate here.
    val rm = spans
      .select(
        col("doc_b").as("id"),
        explode(sequence(
          col("start_b").cast("long"),
          col("start_b").cast("long") + col("span_tokens") - 1L)).as("pos"))
      .distinct()
      .persist()
    val affectedIds = rm.select("id").distinct()
    val base = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val rebuilt = base
      .join(affectedIds, Seq("id"), "left_semi")
      .select(col("id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .withColumn("pos", col("pos").cast("long"))
      .join(rm, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")),
          " ").as("text"),
        count(lit(1)).as("n_kept"))
    val removedCounts = rm.groupBy("id").agg(count(lit(1)).as("n_removed"))
    val untouched = base
      .join(affectedIds, Seq("id"), "left_anti")
      .select(col("id"), array_join(col("toks"), " ").as("text"), lit(0L).as("n_removed"))
    // left join from the counts side: a doc whose EVERY token was removed
    // has no surviving rows to rebuild from, but must still emit a row
    // (empty text) — vanishing silently would undercount the corpus
    removedCounts
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("text"), lit("")).as("text"),
        col("n_removed"))
      .unionByName(untouched.withColumnRenamed("id", idCol))
  }

  def repeatedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minSpanTokens: Int = 20,
      maxOccurrences: Int = 64): DataFrame = {
    require(k > 0 && minSpanTokens >= k,
      s"minSpanTokens=$minSpanTokens must be >= k=$k (a span is at least one k-gram)")
    import org.apache.spark.sql.graft.ShingleHashesFn.positioned_shingle_hashes
    val positioned = docs.select(
      col(idCol).as("id"),
      posexplode(positioned_shingle_hashes(tokens(col(textCol)), k)).as(Seq("pos", "h")))
    val hot = positioned.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > maxOccurrences)
      .select("h")
    val guarded = positioned.join(hot, Seq("h"), "left_anti")
    val matches = guarded.as("a")
      .join(guarded.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .distinct() // hash multiplicity within a doc must not double-count a diagonal cell
    val diag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    matches
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(diag))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(
        min("pa").as("start_a"),
        min("pb").as("start_b"),
        (count(lit(1)) + k - 1).as("span_tokens"))
      .filter(col("span_tokens") >= minSpanTokens)
      .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
  }

  /** URL-level dedup — the cheapest and first dedup pass of a crawl
    * corpus: two fetches of the same canonical URL
    * ([[TextFunctions.canonicalizeUrl]]) are the same page, no content
    * comparison needed. Returns one row per distinct canonical URL with
    * the min-id survivor and the collapsed count:
    * `(idCol, url_canon, n_urls)`.
    *
    * 100 TB shape: canonicalization is a map-side regex chain; the only
    * shuffle is the groupBy on the canonical string (partial aggregation
    * collapses each map task to its distinct URLs first). Join the
    * survivor ids back to the corpus (broadcast if the survivor set is
    * filtered, shuffle-hash otherwise) to materialize the deduped docs.
    */
  def urlDedupSurvivors(docs: DataFrame, idCol: String, urlCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), TextFunctions.canonicalizeUrl(col(urlCol)).as("url_canon"))
      .groupBy("url_canon")
      .agg(min(col("id")).as(idCol), count(lit(1)).as("n_urls"))
      .select(col(idCol), col("url_canon"), col("n_urls"))

  /** Normalized line key shared by the boilerplate operators: lines are
    * compared after lowercasing, trimming, and whitespace collapse (the
    * [[paragraphDedup]] normalization), keyed by their 64-bit xxhash —
    * collision-free in practice (2^-23 at a billion distinct lines) and
    * 8 bytes on the wire instead of the line text.
    */
  private def lineNorm(line: Column): Column =
    lower(trim(org.apache.spark.sql.graft.GraftExpressions.collapseWs(line)))

  /** Corpus-wide line document frequency: one row per DISTINCT normalized
    * line with the number of distinct documents containing it —
    * `(key, line, n_docs)` (`line` is one representative raw occurrence,
    * min by (doc, position), for reporting). Lines that normalize to the
    * empty string are structure, not content, and never counted.
    *
    * 100 TB shape: explode is map-side; the distinct (key, doc) collapse
    * and the per-key count are ONE shuffle each on the 8-byte line key,
    * and the first collapses to at most (distinct lines x docs containing
    * them) while partial aggregation bounds what leaves each map task.
    * Nothing is driver-side.
    */
  def lineDocFrequency(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    val lines = docs
      .select(
        col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("pos", "line")))
      .withColumn("norm", lineNorm(col("line")))
      .filter(col("norm") =!= "")
      .withColumn("key", xxhash64(col("norm")))
    lines
      .groupBy("key")
      .agg(
        countDistinct(col("id")).as("n_docs"),
        min(struct(col("id"), col("pos"), col("line"))).as("f"))
      .select(col("key"), col("f.line").as("line"), col("n_docs"))
  }

  /** The boilerplate removal set: 64-bit keys of normalized lines that
    * appear in at least `minDocs` distinct documents, collected to the
    * driver and sorted for binary search. The set is threshold-bounded by
    * construction — a line needs `minDocs` distinct docs to qualify, so
    * at most `totalLineOccurrences / minDocs` keys exist — but a
    * pathological corpus (or a too-low threshold) is caught fail-loud by
    * `maxSetSize` rather than silently sinking the driver.
    */
  def boilerplateLineSet(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int,
      sep: String = "\n",
      maxSetSize: Int = 10000000): Array[Long] = {
    require(minDocs >= 2, s"minDocs=$minDocs: a boilerplate line repeats across docs")
    val keys = lineDocFrequency(docs, idCol, textCol, sep)
      .filter(col("n_docs") >= minDocs)
      .select("key")
      .limit(maxSetSize + 1)
      .collect()
      .map(_.getLong(0))
    require(keys.length <= maxSetSize,
      s"boilerplate set exceeds maxSetSize=$maxSetSize — raise minDocs or the budget")
    java.util.Arrays.sort(keys)
    keys
  }

  /** CCNet/C4-style boilerplate line removal: strip every line whose
    * normalized form is in the (broadcast, sorted) removal set from EVERY
    * document — boilerplate ("subscribe to our newsletter", cookie
    * banners, copyright footers) is noise wherever it appears, so unlike
    * [[paragraphDedup]] no first occurrence survives. All original
    * columns are kept; `textCol` is rewritten from the surviving lines
    * (a doc losing every line keeps an empty string), plus
    * `(n_lines, n_removed)` where `n_lines` counts content lines (empty
    * normalized lines are kept verbatim but counted in neither column).
    * Null text passes through as null with `n_lines = n_removed = 0` —
    * the [[Decontaminate.markContaminated]] null contract.
    *
    * The pass is a single projection — line splitting and hashing stay in
    * codegen'd expressions; the UDF only binary-searches the broadcast
    * set and rejoins survivors — so it is zero-shuffle, runs verbatim on
    * a STREAMING DataFrame, and costs one broadcast at any corpus size.
    * Pair with [[boilerplateLineSet]] computed on a batch corpus (or a
    * periodically refreshed artifact) for the CCNet shape: count once,
    * strip everywhere.
    */
  def removeBoilerplate(
      docs: DataFrame,
      textCol: String,
      boilerKeys: Array[Long],
      sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    val sorted = boilerKeys.clone()
    java.util.Arrays.sort(sorted)
    val bc = docs.sparkSession.sparkContext.broadcast(sorted)
    val strip = udf { (lines: scala.collection.Seq[String],
                       keys: scala.collection.Seq[java.lang.Long]) =>
      if (lines == null) (null: String, 0L, 0L)
      else {
        val set = bc.value
        val kept = new scala.collection.mutable.ArrayBuffer[String](lines.length)
        var content = 0L
        var removed = 0L
        var i = 0
        while (i < lines.length) {
          val k = keys(i)
          // null key marks an empty-normalized line: structural, kept,
          // uncounted — mirroring lineDocFrequency's exclusion
          if (k == null) kept += lines(i)
          else {
            content += 1L
            if (java.util.Arrays.binarySearch(set, k.longValue()) >= 0) removed += 1L
            else kept += lines(i)
          }
          i += 1
        }
        (kept.mkString(sep), content, removed)
      }
    }
    val lines = split(col(textCol), java.util.regex.Pattern.quote(sep))
    // normalize once per line (inner transform), then key — not
    // when(norm != "", xxhash64(norm)) over the raw line, which would
    // run the whitespace-collapse regex twice per line
    val keys = transform(transform(lines, lineNorm(_)), n =>
      when(n =!= "", xxhash64(n)))
    docs
      .withColumn("__r", strip(lines, keys))
      .withColumn(textCol, col("__r._1"))
      .withColumn("n_lines", col("__r._2"))
      .withColumn("n_removed", col("__r._3"))
      .drop("__r")
  }
}
