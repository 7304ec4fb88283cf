package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.data.{Corpus, PageRow, Render}

/** Workload inputs, made from `graft.data.Corpus` and the benchmark seed.
  * The program only ever sees the Parquet page tables written here, in the
  * input_hint shape (url, warc_ts, html, text, lang).
  *
  * A page is named by a [[Spec]]: a corpus row index plus a re-crawl
  * generation. Generation 0 is the corpus row itself; generation g > 0 is a
  * later capture of the same url (timestamp after every original capture)
  * whose text has about 2% of its words replaced. */
object Inputs {

  final case class Spec(index: Long, recrawl: Int)

  /** Input sizes. A run's fixed costs (JVM, session, the cold first pass)
    * dominate its length, so the sizes are small; see README.md. */
  val OneshotDocs = 2000
  val VerifyDocs = 800
  /** incremental: corpus rows [0, IncUniverse) split into a base generation
    * and IncBatches increments by a seeded hash of the row index */
  val IncUniverse = 1600
  val IncBatches = 1
  val IncBaseShare = 0.8
  /** re-crawled urls per increment, as a share of the batch's new rows */
  val RecrawlShare = 0.05

  /** Re-crawls are stamped 1000 days after the corpus epoch, later than every
    * original capture of these input sizes (row i is stamped i x 137 s). */
  private val RecrawlEpoch = Corpus.Epoch + 1000L * 86400000L

  def page(s: Spec, seed: Long): PageRow =
    if (s.recrawl == 0) Corpus.page(s.index, seed)
    else {
      val words = Corpus.textOf(s.index, seed).split(" ", -1)
      val rng = new Corpus.Rng(seed ^ (s.index * 0x5DEECE66DL) ^ (s.recrawl.toLong << 40) ^ 0x7EC7L)
      var e = 0
      while (e < math.max(1, words.length / 50)) {
        val j = rng.nextInt(words.length)
        // words holding a paragraph break keep it; the text stays canonical
        if (words(j).nonEmpty && words(j).indexOf('\n') < 0)
          words(j) = Corpus.vocab(rng.nextInt(Corpus.vocab.length))
        e += 1
      }
      val text = words.mkString(" ")
      PageRow(Corpus.urlOf(s.index),
        new Timestamp(RecrawlEpoch + s.recrawl * 86400000L + s.index * 1000L),
        Render.html(text, s.index), text, Corpus.langOf(s.index))
    }

  def oneshot: Seq[Spec] = (0L until OneshotDocs).map(Spec(_, 0))
  def verify: Seq[Spec] = (0L until VerifyDocs).map(Spec(_, 0))

  private def mix(seed: Long, i: Long, salt: Long): Double =
    (graft.core.XXH64.hashLong(i, seed ^ salt) >>> 11).toDouble / (1L << 53).toDouble

  /** incremental batches: index 0 is the base, k in 1..IncBatches the new
    * rows of increment k plus re-crawls of urls that arrived earlier. Rows
    * are dealt to batches in the order of a seeded hash of the row index,
    * so every seed gets the same batch sizes while each batch cuts across
    * the planted duplicate families of Corpus: a variant often arrives
    * before or after its parent. */
  def incremental(seed: Long): IndexedSeq[Seq[Spec]] = {
    val order = (0L until IncUniverse).sortBy(mix(seed, _, 0x1C2EL))
    val baseSize = math.round(IncUniverse * IncBaseShare).toInt
    val step = (IncUniverse - baseSize) / IncBatches
    val gens = (0 to IncBatches).map { k =>
      val from = if (k == 0) 0 else baseSize + (k - 1) * step
      val until = if (k == 0) baseSize else if (k == IncBatches) IncUniverse else from + step
      order.slice(from, until).sorted
    }
    gens.indices.map { k =>
      val fresh = gens(k).map(Spec(_, 0))
      if (k == 0) fresh
      else {
        val earlier = gens.take(k).flatten
        val n = math.max(1, math.round(fresh.size * RecrawlShare).toInt)
        fresh ++ earlier.sortBy(i => mix(seed, i, 0xEC0L + k)).take(n).sorted.map(Spec(_, k))
      }
    }
  }

  /** Writes the pages of `specs` as a Parquet table of `files` files. */
  def write(spark: SparkSession, specs: Seq[Spec], seed: Long, path: String, files: Int): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(specs.map(s => (s.index, s.recrawl)), files)
      .map { case (i, g) => page(Spec(i, g), seed) }
      .toDF()
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
