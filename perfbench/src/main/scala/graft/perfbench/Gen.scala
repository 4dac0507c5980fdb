package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded input generators. Every input is a function of the seed and the
  * sizes alone, and is written as at least `files` files (one per core or
  * more), so no scan runs as a single task.
  */
object Gen {

  /** Dense instances with a Friedman #1 target over the first five of
    * `Features` uniform features (the rest are noise):
    * `y = 10 sin(pi x0 x1) + 20 (x2 - 0.5)^2 + 10 x3 + 5 x4 + N(0, 1)`,
    * and a 3-class label cut from `y` at fixed thresholds near its
    * terciles. Columns: id, x0..x7, y, label.
    */
  val Features = 8

  def instances(spark: SparkSession, rows: Long, files: Int, seed: Long, dir: String): Unit = {
    val xs = (0 until Features).map(i => rand(seed * 1000 + i).as(s"x$i"))
    val y = lit(10.0) * sin(lit(math.Pi) * col("x0") * col("x1")) +
      lit(20.0) * pow(col("x2") - 0.5, 2) + lit(10.0) * col("x3") + lit(5.0) * col("x4") +
      randn(seed * 1000 + 999)
    spark.range(0, rows, 1, files)
      .select(col("id") +: xs: _*)
      .withColumn("y", y)
      .withColumn("label", when(col("y") < 12.0, 0.0).when(col("y") < 16.5, 1.0).otherwise(2.0))
      .write.mode("overwrite").parquet(dir)
  }

  final case class Doc(id: Long, text: String)

  /** What the daily pipeline must drop from one batch, by reason. */
  final case class Truth(contaminated: Set[Long], lowQuality: Set[Long], nearDup: Set[Long]) {
    def dropped: Set[Long] = contaminated ++ lowQuality ++ nearDup
  }

  final case class CorpusSizes(corpus: Int, evalDocs: Int, days: Int, batch: Int)

  final case class Corpus(initial: Seq[Doc], eval: Seq[Doc], batches: Seq[Seq[Doc]],
      truth: Seq[Truth])

  /** Stopwords the quality score counts (the library's English list). */
  private val Stopwords = graft.pipeline.TextFunctions.LangStopwords.head._2.toArray

  /** Zipf(1.0) sampler over `n` ranks. */
  private final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / (r + 1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Word of rank `r` spelled in `alphabet`, at least three letters long.
    * Content words use a-m and benchmark (eval) words use n-z, so no eval
    * word is a content word or a stopword, and a document shares trigrams
    * with the eval set only where an eval passage was planted in it.
    */
  private def word(r: Int, alphabet: String): String = {
    val k = alphabet.length
    var x = r + k * k
    val b = new StringBuilder
    while (x > 0) { b += alphabet(x % k); x /= k }
    b.toString
  }

  private val ContentAlphabet = "abcdefghijklm"
  private val EvalAlphabet = "nopqrstuvwxyz"
  private val ContentVocab = 20000
  private val EvalVocab = 5000

  /** The daily-dedup corpus. Clean documents are 80-200 tokens, 30%
    * stopwords, the rest Zipf content words; each batch plants, with ground
    * truth:
    *  - contaminated docs: a clean doc with a 60-token passage of an eval doc
    *    (contamination >= 0.29 against a 0.10 policy; clean docs score 0);
    *  - low-quality docs: 6-12 content words (quality score <= 0.36 against
    *    0.40), or a 4-token phrase repeated (duplicate-bigram share 1.0
    *    against 0.5);
    *  - near-dups: a surviving doc (initial corpus, an earlier batch, or
    *    earlier in the same batch) with one token replaced, so trigram
    *    Jaccard >= 0.92 — where 16x4 banding misses a pair with
    *    probability below 1e-9.
    * Ids grow with batch order, so every near-dup follows its source.
    */
  def corpus(seed: Long, s: CorpusSizes): Corpus = {
    val r = new SplittableRandom(seed)
    val zc = new Zipf(ContentVocab)
    val ze = new Zipf(EvalVocab)
    def content(): String = word(zc.sample(r), ContentAlphabet)
    def cleanTokens(): Array[String] = Array.fill(80 + r.nextInt(121)) {
      if (r.nextDouble() < 0.3) Stopwords(r.nextInt(Stopwords.length)) else content()
    }
    val evalToks = Seq.fill(s.evalDocs)(Array.fill(60 + r.nextInt(61))(word(ze.sample(r), EvalAlphabet)))
    val eval = evalToks.zipWithIndex.map { case (t, i) => Doc(i.toLong, t.mkString(" ")) }

    var nextId = 0L
    def take(): Long = { val i = nextId; nextId += 1; i }
    val pool = mutable.ArrayBuffer[Array[String]]() // docs every later batch doc follows
    val initial = Seq.fill(s.corpus) {
      val t = cleanTokens(); pool += t; Doc(take(), t.mkString(" "))
    }
    val batches = mutable.ArrayBuffer[Seq[Doc]]()
    val truths = mutable.ArrayBuffer[Truth]()
    (0 until s.days).foreach { _ =>
      val docs = mutable.ArrayBuffer[Doc]()
      val contaminated, lowQuality, nearDup = mutable.Set[Long]()
      val sameBatch = mutable.ArrayBuffer[Array[String]]()
      def nearCopy(src: Array[String]): Array[String] = {
        val t = src.clone(); t(r.nextInt(t.length)) = content(); t
      }
      (0 until s.batch).foreach { _ =>
        val id = take()
        val u = r.nextDouble()
        val toks =
          if (u < 0.05) {
            contaminated += id
            val t = cleanTokens()
            val e = evalToks(r.nextInt(evalToks.size))
            val at = r.nextInt(t.length - 59)
            System.arraycopy(e, 0, t, at, 60)
            t
          } else if (u < 0.075) {
            lowQuality += id
            Array.fill(6 + r.nextInt(7))(content())
          } else if (u < 0.10) {
            lowQuality += id
            val phrase = Array(Stopwords(r.nextInt(Stopwords.length)), content(),
              Stopwords(r.nextInt(Stopwords.length)), content())
            Array.fill(25 + r.nextInt(16))(phrase).flatten
          } else if (u < 0.18) {
            nearDup += id
            nearCopy(pool(r.nextInt(pool.size)))
          } else if (u < 0.21 && sameBatch.nonEmpty) {
            nearDup += id
            nearCopy(sameBatch(r.nextInt(sameBatch.size)))
          } else {
            val t = cleanTokens(); sameBatch += t; t
          }
        docs += Doc(id, toks.mkString(" "))
      }
      pool ++= sameBatch
      batches += docs.toSeq
      truths += Truth(contaminated.toSet, lowQuality.toSet, nearDup.toSet)
    }
    Corpus(initial, eval, batches.toSeq, truths.toSeq)
  }

  /** Write `docs` as JSONL, split in id order over `files` files. */
  def writeJsonl(dir: File, docs: Seq[Doc], files: Int): Unit = {
    dir.mkdirs()
    val per = (docs.size + files - 1) / files
    docs.grouped(math.max(1, per)).zipWithIndex.foreach { case (part, i) =>
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, f"part-$i%05d.jsonl")), StandardCharsets.UTF_8))
      try part.foreach { d =>
        w.write(s"""{"doc_id":${d.id},"text":${Json.str(d.text)}}""")
        w.write('\n')
      } finally w.close()
    }
  }
}
