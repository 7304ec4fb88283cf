package perfbench

import java.io.{File, ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}
import scala.jdk.CollectionConverters._
import graft.core.{DocSignature, DocSignatures, Extract, GraftConfig, MinHasher, Utf8Ordering}

/** The answer every workload is graded against, made apart from the program.
  *
  * It reuses only graft.core's per-document functions (Extract.text,
  * DocSignatures.of) and never a Spark layer. The url rules, the rejects,
  * exact grouping, the pair similarity, the Jaccard counts, the union-find
  * and the longest common substring are written out here again, plainly:
  * a change to the program's pair kernels or Spark layers is graded by an
  * answer it did not produce. All pairs of representatives are compared
  * (brute force); work is spread over at most `threads` threads. */
object Truth {

  /** One input page as the truth sees it. */
  final case class Page(url: String, ts: Long, html: Array[Byte], text: String)

  /** Truth over one live page set.
    * @param clusters valid url -> cluster id (the minimum url of its component)
    * @param rejects  url -> reject reason
    * @param repOf    valid url -> its exact-duplicate representative
    * @param simMatched rep pairs (url_a < url_b) whose fingerprint similarity
    *   reaches the threshold
    * @param gated    exact-verify configs: rep pairs at or above the verify
    *   gate -> (jac_inter, jac_union, Jaccard match) */
  final case class Live(
      clusters: Map[String, String],
      rejects: Map[String, String],
      repOf: Map[String, String],
      simMatched: Set[(String, String)],
      gated: Map[(String, String), (Long, Long, Boolean)]) {
    def jaccardMatched: Set[(String, String)] = gated.iterator.collect { case (p, (_, _, true)) => p }.toSet
  }

  implicit private val ord: Ordering[String] = Utf8Ordering

  def pagesOf(specs: Seq[Inputs.Spec], seed: Long, threads: Int): IndexedSeq[Page] =
    par(specs.size, threads) { j =>
      val r = Inputs.page(specs(j), seed)
      Page(r.url, r.warc_ts.getTime, r.html, r.text)
    }.toIndexedSeq

  /** Content digest of a page list: the truth cache key, so a cached truth
    * is reused only for byte-identical inputs. */
  def digest(pages: Seq[Page]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    pages.foreach { p =>
      md.update(p.url.getBytes("UTF-8")); md.update(BigInt(p.ts).toByteArray)
      md.update(p.html); md.update(p.text.getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Live rows: per exact url the newest capture; then per lower-cased url
    * the earliest (capture time, url). */
  def liveSet(pages: Seq[Page]): Seq[Page] =
    pages.groupBy(_.url).values.map(_.maxBy(_.ts)).toSeq
      .groupBy(_.url.toLowerCase(java.util.Locale.ROOT)).values
      .map(_.min(Ordering.by((p: Page) => (p.ts, p.url)))).toSeq

  private final case class Doc(url: String, extracted: String, sig: DocSignature, reject: String)

  def compute(pages: Seq[Page], cfg: GraftConfig, threads: Int): Live = {
    val live = liveSet(pages).sortBy(_.url).toIndexedSeq
    val docs = par(live.size, threads) { j =>
      val p = live(j)
      val extracted = Extract.text(p.html)
      val sig = DocSignatures.of(extracted, cfg, new MinHasher(cfg.numPerm, cfg.seed))
      val reject =
        if (extracted.isEmpty) "empty_text"
        else if (p.html != null && extracted.length > p.html.length) "extract_anomaly"
        else if (sig.simhashHead == 0L && sig.simhashTail == 0L) "low_entropy"
        else null
      Doc(p.url, extracted, sig, reject)
    }
    val rejects = docs.filter(_.reject != null).map(d => d.url -> d.reject).toMap
    val valid = docs.filter(_.reject == null)
    val repOf: Map[String, String] = valid.groupBy(_.extracted).values.flatMap { g =>
      val rep = g.map(_.url).min
      g.map(_.url -> rep)
    }.toMap
    val repDocs = valid.filter(d => repOf(d.url) == d.url).sortBy(_.url).toArray

    val thr = cfg.simBitsThreshold
    val gate = cfg.exactVerifyGate
    val perRow = par(repDocs.length, threads) { a =>
      val sim = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val gated = scala.collection.mutable.ArrayBuffer.empty[((String, String), (Long, Long, Boolean))]
      val da = repDocs(a)
      var b = a + 1
      while (b < repDocs.length) {
        val db = repDocs(b)
        val s = simBits(da.sig, db.sig, cfg)
        if (s >= thr) sim += ((da.url, db.url))
        if (cfg.exactVerify && s >= gate) gated += ((da.url, db.url) -> jaccard(da.sig, db.sig, cfg))
        b += 1
      }
      (sim, gated)
    }
    val simMatched = perRow.iterator.flatMap(_._1).toSet
    val gated = perRow.iterator.flatMap(_._2).toMap
    val t = Live(Map.empty, rejects, repOf, simMatched, gated)
    t.copy(clusters = clustersOf(repOf, if (cfg.exactVerify) t.jaccardMatched else simMatched))
  }

  /** Cluster id per valid url: union-find over rep edges, the component's
    * minimum rep url as its id; members take their rep's cluster. */
  def clustersOf(repOf: Map[String, String], edges: Iterable[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    repOf.map { case (u, rep) => u -> find(rep) }
  }

  /** Fingerprint similarity of two documents: per slot 64 minus the Hamming
    * distance plus the length modifier, capped at 64, 0 when both slots are
    * empty; the better of head and tail in cutEnds mode. */
  def simBits(a: DocSignature, b: DocSignature, cfg: GraftConfig): Int = {
    val lenMod = lenModifier(a, b, cfg)
    def slot(x: Long, y: Long): Int =
      if (x == 0L && y == 0L) 0
      else math.min(64 - java.lang.Long.bitCount(x ^ y) + lenMod, 64)
    val head = slot(a.simhashHead, b.simhashHead)
    if (cfg.cutEnds) math.max(head, slot(a.simhashTail, b.simhashTail)) else head
  }

  private def lenModifier(a: DocSignature, b: DocSignature, cfg: GraftConfig): Int =
    if (math.abs(a.textLen - b.textLen) <= cfg.lenTolChars) cfg.sameLenBonus else -cfg.diffLenPenalty

  /** (intersection, union) of two sorted distinct shingle arrays. */
  def counts(a: Array[Long], b: Array[Long]): (Long, Long) = {
    val sa = a.toSet; val sb = b.toSet
    val inter = sa.count(sb.contains).toLong
    (inter, (sa.size + sb.size).toLong - inter)
  }

  /** Exact-verify measures of a pair: the slot with the larger Jaccard (head
    * on ties), and whether Jaccard plus the length modifier / 64 clears the
    * threshold. */
  def jaccard(a: DocSignature, b: DocSignature, cfg: GraftConfig): (Long, Long, Boolean) = {
    def jac(c: (Long, Long)): Double = if (c._2 > 0) c._1.toDouble / c._2 else 0.0
    val h = counts(a.shinglesHead, b.shinglesHead)
    val t = if (cfg.cutEnds) counts(a.shinglesTail, b.shinglesTail) else (0L, 0L)
    val (best, j) = if (jac(h) >= jac(t)) (h, jac(h)) else (t, jac(t))
    (best._1, best._2, j + lenModifier(a, b, cfg) / 64.0 > cfg.jaccardThreshold)
  }

  /** Longest common substring length by the textbook dynamic programme. */
  def lcs(a: String, b: String): Int = {
    if (a == null || b == null) return 0
    val x = a.toCharArray; val y = b.toCharArray
    var prev = new Array[Int](y.length + 1)
    var cur = new Array[Int](y.length + 1)
    var best = 0
    var i = 1
    while (i <= x.length) {
      val c = x(i - 1)
      var j = 1
      while (j <= y.length) {
        if (c == y(j - 1)) {
          val v = prev(j - 1) + 1
          cur(j) = v
          if (v > best) best = v
        } else cur(j) = 0
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    best
  }

  /** Runs f(0 until n) on at most `threads` threads, results in index order. */
  def par[T: scala.reflect.ClassTag](n: Int, threads: Int)(f: Int => T): Array[T] = {
    val pool = Executors.newFixedThreadPool(math.max(1, threads))
    try {
      val tasks = (0 until n).map(i => new Callable[T] { def call(): T = f(i) })
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toArray
    } finally pool.shutdownNow()
  }

  /** A value cached on disk under `dir`, keyed by `key`; `rebuild` ignores
    * and replaces the cached copy. */
  def cached[T <: AnyRef](dir: String, key: String, rebuild: Boolean)(make: => T): T =
    (if (rebuild) None else load[T](dir, key)).getOrElse {
      val v = make
      store(dir, key, v)
      v
    }

  /** The cached value, or None when it is absent or unreadable (written by
    * another build of these classes). */
  def load[T](dir: String, key: String): Option[T] = {
    val f = Paths.get(dir, hex(key) + ".bin")
    if (!Files.exists(f)) None
    else {
      val in = new ObjectInputStream(Files.newInputStream(f))
      try Some(in.readObject().asInstanceOf[T])
      catch { case _: java.io.ObjectStreamException | _: ClassNotFoundException => None }
      finally in.close()
    }
  }

  def store(dir: String, key: String, v: AnyRef): Unit =
    save(Paths.get(dir, hex(key) + ".bin").toString, v)

  private def save(path: String, v: AnyRef): Unit = {
    new File(path).getParentFile.mkdirs()
    val tmp = Paths.get(path + ".tmp")
    val out = new ObjectOutputStream(Files.newOutputStream(tmp))
    try out.writeObject(v) finally out.close()
    Files.move(tmp, Paths.get(path), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
