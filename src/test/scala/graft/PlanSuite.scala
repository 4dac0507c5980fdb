package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Physical-plan assertions for the properties SCALE.md claims: filters
  * and projections reach the parquet scan, small dims broadcast, and no
  * dedup/similarity pipeline ever plans a cartesian product. These pin
  * the PLAN, not the timing — the properties that decide whether a query
  * survives a 100x scale-up.
  */
class PlanSuite extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  /** Operator-detail blocks of a FormattedMode plan (the `(N) OpName`
    * sections after the tree) whose operator is a hash equi-join.
    */
  private def hashJoinBlocks(plan: String): Seq[String] = {
    val start = """^\(\d+\) (.+)$""".r
    val blocks = scala.collection.mutable.ArrayBuffer.empty[(String, StringBuilder)]
    plan.linesIterator.foreach {
      case l @ start(op) => blocks += ((op, new StringBuilder(l + "\n")))
      case l => if (blocks.nonEmpty) blocks.last._2.append(l).append('\n')
    }
    blocks.toSeq.collect {
      case (op, sb)
          if Seq("ShuffledHashJoin", "SortMergeJoin", "BroadcastHashJoin")
            .exists(op.contains) =>
        sb.toString
    }
  }

  test("q1: shipdate filter pushed to the parquet scan, columns pruned") {
    val plan = formatted(Queries.q1PricingSummary(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // 7 needed columns, not all 11
    assert(readSchema.contains("l_shipdate") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_comment"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("q2: dimension joins broadcast; no dim-side shuffle") {
    val plan = formatted(Queries.q2RevenueByNation(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"dims not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("text-stats scan prunes documents to the used columns") {
    val plan = formatted(Queries.pTextStats(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("source") && !readSchema.contains("lang"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("tfidf top-k runs through the bounded-heap aggregate, not a window") {
    val plan = formatted(Queries.pTfidfTopTerms(spark, sf))
    assert(!plan.contains("Window"),
      s"tfidf top-k still plans a window (full per-group sort):\n$plan")
    assert(plan.toLowerCase.contains("topkrowsagg"),
      s"tfidf top-k does not use topk_rows:\n$plan")
  }

  test("IVF ranking runs through the bounded-heap aggregate, not a window") {
    val plan = formatted(Queries.pAnnIvf(spark, sf))
    assert(!plan.contains("Window"),
      s"IVF rank stage still plans a window:\n$plan")
    assert(plan.toLowerCase.contains("topkbyscoreagg"),
      s"IVF rank stage does not use topk_by_score:\n$plan")
  }

  test("bm25 ranks through the bounded heap and prunes postings by broadcast") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val queries = docs
      .filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(graft.pipeline.TextFunctions.tokens(col("text")), 1, 5), " ")
          .as("qtext"))
    val (out, postQ) = graft.pipeline.Retrieval.bm25Staged(
      docs, "doc_id", "text", queries, "query_id", "qtext", 10)
    try {
      val plan = formatted(out)
      // top-k never plans a window (a per-query sort of every scored
      // candidate — the stage that dies first at corpus scale)
      assert(!plan.contains("Window"),
        s"bm25 top-k still plans a window:\n$plan")
      assert(plan.toLowerCase.contains("topkrowsagg"),
        s"bm25 top-k does not use topk_rows:\n$plan")
      // the posting table is pruned to query-term rows by a BROADCAST
      // join before any shuffle — query vocabularies are small by
      // definition; a shuffled prune would move every posting
      val prunePlan = formatted(postQ)
      assert(prunePlan.contains("BroadcastHashJoin"),
        s"posting prune is not a broadcast join:\n$prunePlan")
    } finally postQ.unpersist(blocking = false)
  }

  test("postings tokenizes each doc exactly once; prune precedes the tf aggregate") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = formatted(graft.pipeline.Retrieval.postings(docs, "doc_id", "text"))
    // tokens() lowers to one split(lower(trim(text))) — it must appear
    // exactly once in the whole plan (r11 evaluated it twice per row:
    // once under size() in the projection, once in the Generate, because
    // Generate does not share subexpressions with its projection).
    // Tokenization is the dominant per-row cost of the retrieval stack.
    val splits = "split\\(".r.findAllIn(plan).size
    assert(splits === 1, s"expected exactly 1 tokenization, found $splits:\n$plan")
    // the pruned path: the broadcast semi-join on token sits BELOW the
    // tf aggregate, so the aggregate's shuffle carries query-vocab-sized
    // data, never the corpus's full doc x vocabulary sparsity
    val queries = docs.limit(5)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    val qtok = queries
      .select(explode(array_distinct(graft.pipeline.TextFunctions.tokens(col("qtext"))))
        .as("token")).distinct()
    val pruned = graft.pipeline.Retrieval.prunedPostings(docs, "doc_id", "text", qtok)
    val pplan = pruned.queryExecution.executedPlan.toString
    val joinPos = pplan.indexOf("BroadcastHashJoin")
    val aggPos = pplan.indexOf("HashAggregate")
    assert(joinPos >= 0, s"prune join is not broadcast:\n$pplan")
    // executedPlan prints top-down: the aggregate (consumer) appears
    // BEFORE the join (producer) iff the join runs below the aggregate
    assert(aggPos >= 0 && aggPos < joinPos,
      s"token prune does not precede the tf aggregate:\n$pplan")
  }

  test("hybrid rank fusion builds ONE shared posting index for both voices") {
    spark.catalog.clearCache()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val queries = docs
      .filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(graft.pipeline.TextFunctions.tokens(col("text")), 1, 5), " ")
          .as("qtext"))
    val (fused, postQ) = graft.pipeline.Retrieval.hybridStaged(
      docs, "doc_id", "text", queries, "query_id", "qtext", 10)
    try {
      val plan = formatted(fused)
      // both rankers consume the persisted pruned posting table: the
      // corpus-side tokenize/explode must appear exactly once in the
      // fused plan (r11 tokenized and exploded the corpus once PER
      // ranker — 2x the dominant cost of the hybrid at 100 TB). The
      // query side contributes explodes too, so count only corpus-text
      // tokenizations: Generate blocks over the docs relation.
      val corpusExplodes = plan.linesIterator.count(l =>
        l.contains("Generate explode(toks"))
      assert(corpusExplodes <= 1,
        s"fused plan explodes the corpus $corpusExplodes times:\n$plan")
      assert(plan.contains("InMemoryTableScan") || plan.contains("InMemoryRelation"),
        s"fused plan does not reuse the persisted posting index:\n$plan")
      assert(!plan.contains("Window") && !plan.contains("CartesianProduct"))
    } finally postQ.unpersist(blocking = false)
  }

  test("dense-lexical hybrid scans each corpus once per modality, fuses rank-only") {
    spark.catalog.clearCache()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = docs
      .filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("doc_id").as("query_id"),
        array_join(slice(graft.pipeline.TextFunctions.tokens(col("text")), 1, 5), " ")
          .as("qtext"))
    val vq = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
    val (fused, postQ) = graft.pipeline.Retrieval.hybridDenseStaged(
      docs, "doc_id", "text", queries, "query_id", "qtext",
      emb, "vec_id", "embedding", vq, 10)
    try {
      val plan = formatted(fused)
      // lexical modality: the corpus text is tokenized/exploded exactly
      // once — the pruned posting table feeds the whole BM25 voice
      val corpusExplodes = plan.linesIterator.count(l =>
        l.contains("Generate explode(toks"))
      assert(corpusExplodes <= 1,
        s"fused plan explodes the text corpus $corpusExplodes times:\n$plan")
      // dense modality: one full-corpus assignment pass probed by a
      // BROADCAST of the (small) query side — never a cartesian product
      // or a per-query corpus sort
      assert(!plan.contains("CartesianProduct"),
        s"dense voice plans a cartesian product:\n$plan")
      assert(!plan.contains("Window"),
        s"hybrid plans a window sort:\n$plan")
      assert(plan.toLowerCase.contains("topkbyscoreagg"),
        s"dense voice does not rank through the bounded heap:\n$plan")
      assert(plan.toLowerCase.contains("topkrowsagg"),
        s"lexical voice / fusion does not rank through the bounded heap:\n$plan")
      // fusion sees only (queries x k)-sized inputs: both voices reduce
      // to rank rows before the union (no corpus column survives)
      val embScans = plan.linesIterator.count(l =>
        l.contains("Scan parquet") && l.contains("embeddings"))
      assert(embScans <= 2,
        s"dense voice scans the embedding corpus $embScans times (corpus + queries expected):\n$plan")
    } finally postQ.unpersist(blocking = false)
  }

  test("broadcast-model LM scoring never shuffles the corpus side") {
    // plan-shape assertions are cache-sensitive: a logically-equal plan
    // persisted by an earlier suite would resolve to an InMemoryRelation
    // whose embedded build recipe pollutes the formatted text
    spark.catalog.clearCache()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    import graft.pipeline.LanguageModel
    val uni = LanguageModel.unigramCounts(docs, "text")
    val big = LanguageModel.bigramCounts(docs, "text")
    val plan = formatted(LanguageModel.scoreDocs(
      docs, "doc_id", "text", uni, big, broadcastModel = true))
    // both model joins broadcast; no per-doc window anywhere
    assert(!plan.contains("Window"), s"LM scoring plans a window:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"broadcast-model scoring still sort-merge-joins:\n$plan")
    // the exploded positions stream reaches the per-doc aggregate with
    // only the final group-by exchange: every hash-join block in the
    // plan is a broadcast join (model side), never a shuffled join
    val joins = hashJoinBlocks(plan)
    assert(joins.nonEmpty && joins.forall(_.contains("BroadcastHashJoin")),
      s"non-broadcast join in broadcast-model scoring:\n$plan")
  }

  test("html extraction and URL filter report are shuffle-free projections") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    import graft.pipeline.{CrawlFilters, TextFunctions => TF}
    val htmlPlan = formatted(docs.select(col("doc_id"),
      TF.htmlToText(col("text")).as("t")))
    assert(!htmlPlan.contains("Exchange"),
      s"html extraction shuffles:\n$htmlPlan")
    val urlPlan = formatted(CrawlFilters.urlFilterReport(
      docs.withColumn("url", concat(lit("https://h.example/"), col("doc_id"))),
      "url", Seq("bad.example"), Seq("casino")))
    assert(!urlPlan.contains("Exchange"),
      s"Seq-blocklist URL filtering shuffles:\n$urlPlan")
  }

  test("DSIR collected-weights scoring never shuffles the corpus side") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    import graft.pipeline.ImportanceSampling
    val target = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val raw = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val table = ImportanceSampling.weightTable(raw, "text", target, "text", 2,
      numBuckets = 64)
    val plan = formatted(ImportanceSampling.scoreWithWeights(
      raw, "doc_id", "text", table, 2, numBuckets = 64))
    assert(!plan.contains("Exchange"),
      s"collected-weights DSIR scoring shuffles:\n$plan")
    // the join path's per-doc aggregation goes through the gram-keyed
    // join, never a window or unbroadcast cartesian (the one
    // BroadcastNestedLoopJoin is the deliberate 1-row totals crossJoin —
    // the same shape as tfidf's nGroups join)
    val joinPlan = formatted(ImportanceSampling.importanceWeights(
      raw, "doc_id", "text", target, "text", 2))
    assert(!joinPlan.contains("CartesianProduct") &&
      !joinPlan.contains("Window"),
      s"DSIR join path plans a product or window:\n$joinPlan")
  }

  test("near-dup decontamination broadcasts the eval side, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val evalDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id").as("eval_id"), col("text"))
    val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    // the report's own plan: the returned report is a leaf
    val (report, persisted) = graft.pipeline.Decontaminate
      .nearDupContaminationReportLazy(train, "doc_id", "text", evalDocs,
        "eval_id", "text", 64, 16, 3, 0.5, None)
    val plan = formatted(report)
    persisted.foreach(_.unpersist(blocking = false))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup decontamination plans a product join:\n$plan")
    // the banding candidate join and the shingle-verify join both
    // broadcast the (small) eval side
    assert(plan.contains("BroadcastHashJoin"),
      s"eval side is not broadcast:\n$plan")
  }

  test("temperature sampling broadcasts the rate table to the corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = formatted(graft.pipeline.Sampling.temperatureSample(
      docs, "lang", "doc_id", alpha = 0.3, budget = 500L))
    // the corpus-side join is a broadcast of the #groups-sized rate
    // table; the corpus itself never shuffles and nothing windows
    assert(!plan.contains("Window"), s"temperature sample plans a window:\n$plan")
    val joins = hashJoinBlocks(plan)
    assert(joins.nonEmpty && joins.forall(_.contains("BroadcastHashJoin")),
      s"rate-table join is not a broadcast join:\n$plan")
  }

  test("epoch shards are a pure projection — nothing shuffles") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = formatted(
      graft.pipeline.Sampling.epochShards(docs, "doc_id", 2, 64))
    assert(!plan.contains("Exchange"),
      s"epochShards plans a shuffle — must stay map-side:\n$plan")
    assert(!plan.contains("Window"), s"epochShards plans a window:\n$plan")
  }

  test("rangeShards never shuffles the fact side; novelty joins nothing") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), length(col("text")).cast("long").as("k"))
    val plan = formatted(graft.pipeline.Sampling.rangeShards(docs, "k", 8))
    // the ONLY exchange feeds the R-1-row percentile aggregate; the fact
    // side rides a broadcast nested-loop join of that single row
    val exchanges = plan.linesIterator.count(_.matches("""^\(\d+\) Exchange.*"""))
    assert(exchanges <= 2, s"rangeShards shuffles the data:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"boundary row not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"fact side shuffled for the boundary join:\n$plan")

    // novelty: the token-volume shingle table is exploded ONCE and
    // reaches its min-id aggregate without a sort (a window min here
    // plans a full sort of the exploded table — 40x slower at sf0.1);
    // the only join touches doc-sized tables
    val novPlan = formatted(graft.pipeline.CorpusStats
      .noveltyScore(spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", 3))
    assert(!novPlan.contains("Window"), s"novelty re-grew a window min:\n$novPlan")
    val generates = novPlan.linesIterator.count(_.matches("""^\(\d+\) Generate.*"""))
    assert(generates === 1, s"expected ONE shingle explode, got $generates:\n$novPlan")
    assert(!novPlan.contains("CartesianProduct"))
  }

  test("quality filter evaluates NgramRepetition exactly once per row") {
    val plan = formatted(Queries.pQualityFilter(spark, sf))
    val n = "ngram_?repetition".r.findAllIn(plan.toLowerCase).length
    assert(n == 1,
      s"expected exactly 1 NgramRepetition node, found $n:\n$plan")
  }

  test("kmeans assignment is a pure projection; packing shuffles once") {
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = pipeline.Clustering.initByMinId(embs, "vec_id", "v", 4)
    val assignPlan = pipeline.Clustering.assignClusters(embs, "v", cents)
      .queryExecution.executedPlan.toString
    assert(!assignPlan.contains("Exchange"),
      s"centroid assignment must not shuffle:\n$assignPlan")

    val docs = Tables.documents(spark, sf)
    val packPlan = pipeline.Chunking.packConcat(docs, "doc_id", "text", 64, 4)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(packPlan).length
    assert(exchanges == 1,
      s"packing must shuffle exactly once (on stream), found $exchanges:\n$packPlan")
  }

  test("paragraph dedup and span removal join on keys, never all-pairs") {
    val docs = Tables.documents(spark, sf)
    val para = formatted(pipeline.Dedup.paragraphDedup(docs, "doc_id", "text", " "))
    assert(!para.contains("CartesianProduct") && !para.contains("BroadcastNestedLoopJoin"),
      s"paragraph dedup plans an all-pairs join:\n$para")
    // the first-occurrence join keys on the 64-bit paragraph hash
    val paraBlocks = hashJoinBlocks(para)
    assert(paraBlocks.exists(b => b.linesIterator.exists(
        l => l.contains("keys") && """\bkey#\d+""".r.findFirstIn(l).isDefined)),
      s"paragraph dedup does not join on the paragraph hash key:\n$para")

    val rem = formatted(pipeline.Dedup.removeRepeatedSpans(docs, "doc_id", "text", 4, 10))
    assert(!rem.contains("CartesianProduct") && !rem.contains("BroadcastNestedLoopJoin"),
      s"span removal plans an all-pairs join:\n$rem")
  }

  test("no dedup or similarity pipeline plans a cartesian product") {
    val docs = Tables.documents(spark, sf)
    val embs = Tables.embeddings(spark, sf)
    try {
      // (name, plan, expected self-join key columns): the candidate
      // self-join must be a hash EQUI-join keyed on the shingle hash /
      // band bucket — that key is what bounds the join to candidate pairs
      // instead of corpus x corpus. Matched against the join's key lines
      // on EITHER side (no anchoring on 'Left keys'/cardinality text,
      // which couples to explain formatting and Catalyst's side choice).
      val plans = Seq(
        ("ngram",
          pipeline.Dedup.ngramJaccardPairsLazy(docs, "doc_id", "text", 3, 0.5)._1,
          Seq("""\bs#\d+""".r)),
        ("banded-minhash", {
          val sigs = pipeline.Dedup.minhashSignatures(docs, "doc_id", "text", 16)
          pipeline.Dedup.minhashCandidatePairsLazy(sigs, 4, 16)._1
        }, Seq("""\bband#\d+""".r, """\bbucket#\d+""".r)),
        ("embedding-lsh",
          pipeline.Dedup.embeddingDupPairsLsh(embs, "vec_id", "embedding", 0.9, 8, 6, 2),
          Seq("""\bt#\d+""".r, """\bbucket#\d+""".r)),
        ("incremental", {
          val corpus = docs.filter(col("doc_id") % 2 === 0)
          val batch = docs.filter(col("doc_id") % 2 === 1)
          pipeline.Dedup.incrementalCandidatesLazy(
            corpus, batch, "doc_id", "text", 16, 4, 3)._1
        }, Seq("""\bband#\d+""".r, """\bbucket#\d+""".r))
      ).map { case (n, df, res) => (n, formatted(df), res) }
      plans.foreach { case (name, plan, keyPatterns) =>
        assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans an all-pairs join:\n$plan")
        // a real equi-join operator (shuffled or broadcast at this tiny
        // SF; never nested-loop) ...
        assert(
          plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin") ||
            plan.contains("BroadcastHashJoin"),
          s"$name has no hash equi-join:\n$plan")
        // ... keyed on the bucket/shingle hash columns specifically. The
        // match is scoped to hash-join OPERATOR BLOCKS of the formatted
        // plan (not every 'keys' line anywhere): some single hash-join
        // block must carry ALL expected key columns, so a regression where
        // the candidate self-join stops keying on band/bucket cannot hide
        // behind another join elsewhere in the plan that happens to
        // mention those columns.
        val joinBlocks = hashJoinBlocks(plan)
        assert(joinBlocks.nonEmpty, s"$name: no hash-join operator block found:\n$plan")
        val ok = joinBlocks.exists { block =>
          val keyLines = block.linesIterator
            .filter(l => l.contains("keys") && l.contains("#")).mkString("\n")
          keyPatterns.forall(re => re.findFirstIn(keyLines).isDefined)
        }
        assert(ok,
          s"$name: no single hash-join block keys on all of " +
            s"${keyPatterns.map(_.regex).mkString(", ")}; join blocks:\n" +
            s"${joinBlocks.mkString("\n---\n")}\nplan:\n$plan")
      }
    } finally spark.catalog.clearCache() // lazy builders mark persists
  }
}
