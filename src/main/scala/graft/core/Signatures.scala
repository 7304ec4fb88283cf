package graft.core

/** One document's full fingerprint record — the analog of the reference's
  * per-video state after `Video::run` (video.cpp:17-45): two 64-bit hashes
  * (head/tail in cutEnds mode, video.cpp:171,181-182), the exact-verify
  * inputs (grayThumb -> shingle sets), and the length that drives the
  * duration modifier.
  *
  * `simhashHead`/`simhashTail` use 0L as the invalid/low-entropy sentinel
  * internally (like the reference); the Spark layer maps 0L <-> NULL.
  */
final case class DocSignature(
    textLen: Long,
    sizeBytes: Long,
    simhashHead: Long,
    simhashTail: Long,
    shinglesHead: Array[Long],
    shinglesTail: Array[Long],
    /** Winnowing-style sampled shingle hashes (h % shingleSampleMod == 0) for
      * the substring pass's band keys, drawn from the FULL pre-cap shingle
      * stream — a verbatim block inside a giant document whose shingles fall
      * outside the stored bottom-k sketch still yields candidate keys
      * (round-3 verdict: sampling from the capped arrays silently lost those). */
    ssKeys: Array[Long],
    /** Per-slot minhash signatures over the STORED (capped) slot arrays —
      * exactly `minHasher.signature(shinglesHead/Tail)`, computed once here
      * so the consumers (expression kernel + typed path) stop paying the
      * O(numPerm x slot) pass a second time; null when the slot is empty. */
    mhHead: Array[Long],
    mhTail: Array[Long]
) {
  /** Reference rejects a video when every hash slot is 0 (video.cpp:40-42). */
  def isRejected: Boolean = simhashHead == 0L && simhashTail == 0L
}

/** The reference's thumbnail sampling modes transplanted to token streams
  * (reference: thumbnail.h:6-26). Each mode captures at fixed percentages of
  * the duration; here each percentage centers a token window of ~n/P tokens
  * (P = number of captures), and the montage-hash analog fingerprints the
  * UNION of the windows' shingle sets as one slot. "cutEnds" keeps its
  * dedicated two-slot head/tail path (video.cpp:171,181-182). */
object SamplingModes {
  /** Capture percentages per mode — the exact m_capturePos table
    * (thumbnail.h:20-26). */
  val positions: Map[String, Seq[Int]] = Map(
    "1x1" -> Seq(48),
    "2x1" -> Seq(32, 64),
    "3x1" -> Seq(24, 48, 72),
    "2x2" -> Seq(16, 40, 56, 80),
    "3x2" -> Seq(16, 32, 48, 64, 72, 88),
    "3x3" -> Seq(8, 16, 32, 40, 48, 56, 72, 80, 88),
    "4x3" -> Seq(8, 16, 24, 32, 40, 48, 56, 64, 72, 80, 88, 96),
    "cutEnds" -> Seq(8, 96))

  /** Token-index sample spans [from, until) for a grid mode over an n-token
    * stream: window width ceil(n/P), centered at each capture percentage,
    * clamped — so "1x1" (one window of n tokens centered anywhere) is
    * exactly [0, n): full ≡ 1x1 by construction. */
  def spans(mode: String, n: Int): Seq[(Int, Int)] = mode match {
    case "cutEnds" => Seq((0, n)) // n<2 fallback; the 2-slot path is separate
    case m =>
      val ps = positions(m)
      val w = math.max((n + ps.size - 1) / ps.size, 1)
      ps.map { p =>
        val c = n.toLong * p / 100
        val start = math.max(0L, math.min(c - w / 2, (n - w).toLong)).toInt
        (start, math.min(start + w, n))
      }
  }
}

object DocSignatures {

  /** Compute the full signature of a canonical text. Pure; shared verbatim by
    * the oracle layer and the Spark expression (so parity is by construction).
    *
    * cutEnds split: first half / last half of the token stream — the montage
    * half-split generalized (reference: video.cpp:181-182 copies
    * `hash*width/2, width/2` i.e. disjoint equal halves).
    *
    * Like the reference's cache row (db.cpp:38-47: a hash and a
    * comparison-ready matrix), the record holds only what a comparison
    * reads: per slot, the SimHash and the sampled keys over the full
    * shingle set, the capped shingle sketch, and the MinHash of that sketch
    * (the LSH band input). No full-document MinHash is computed: no
    * comparison reads one.
    */
  def of(text: String, cfg: GraftConfig, minHasher: MinHasher): DocSignature = {
    val toks = Extract.tokens(text)
    val sh = new Shingler(cfg.k, cfg.seed)
    val th = sh.tokenHashes(toks)
    val n = toks.length
    // X12 analog: store at most a bottom-k sketch of each slot's shingles
    // (arrays are sorted, so take() IS the bottom-k); fingerprints below are
    // computed on the FULL sets before capping.
    def cap(a: Array[Long]): Array[Long] =
      if (a.length <= cfg.maxStoredShinglesPerSlot) a
      else java.util.Arrays.copyOf(a, cfg.maxStoredShinglesPerSlot)
    // substring-pass band keys, sampled from the FULL (pre-cap) sorted-distinct
    // slot sets; merge-dedupe across slots (both inputs sorted ascending)
    def sampleKeys(a: Array[Long], b: Array[Long]): Array[Long] = {
      val m = cfg.shingleSampleMod
      val buf = new scala.collection.mutable.ArrayBuffer[Long](16)
      var i = 0; var j = 0
      var last = Long.MinValue; var hasLast = false
      def emit(v: Long): Unit =
        if (v % m == 0 && (!hasLast || v != last)) { buf += v; last = v; hasLast = true }
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) { emit(a(i)); i += 1 }
        else if (a(i) > b(j)) { emit(b(j)); j += 1 }
        else { emit(a(i)); i += 1; j += 1 }
      }
      while (i < a.length) { emit(a(i)); i += 1 }
      while (j < b.length) { emit(b(j)); j += 1 }
      buf.toArray
    }
    if (cfg.cutEnds && n >= 2) {
      val mid = n / 2
      val head = sh.hashesOf(th, 0, mid)
      val tail = sh.hashesOf(th, mid, n)
      val storedHead = cap(head)
      val storedTail = cap(tail)
      DocSignature(
        textLen = text.length.toLong,
        sizeBytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong,
        simhashHead = SimHash64.of(head, cfg.minDistinctShingles),
        simhashTail = SimHash64.of(tail, cfg.minDistinctShingles),
        shinglesHead = storedHead,
        shinglesTail = storedTail,
        ssKeys = sampleKeys(head, tail),
        mhHead = minHasher.signature(storedHead),
        mhTail = minHasher.signature(storedTail)
      )
    } else {
      // grid modes (and degenerate cutEnds at n<2): one slot over the union
      // of the mode's sampled token windows — the montage-hash analog.
      // "1x1" spans exactly [0, n), so it IS the full-document fingerprint.
      val spans = SamplingModes.spans(cfg.samplingMode, n)
      val sampled: Array[Long] =
        if (spans.size == 1 && spans.head == ((0, n))) sh.hashesOf(th, 0, n)
        else {
          // sorted-distinct union of the window sets via primitive
          // concat+sort+dedupe (the boxed TreeSet union dominated the grid
          // modes' per-doc kernel — round-6; values identical)
          val parts = spans.map { case (from, until) => sh.hashesOf(th, from, until) }
          val all = new Array[Long](parts.map(_.length).sum)
          var o = 0
          parts.foreach { p =>
            System.arraycopy(p, 0, all, o, p.length); o += p.length
          }
          java.util.Arrays.sort(all)
          var w = 0
          var i = 0
          while (i < all.length) {
            if (w == 0 || all(w - 1) != all(i)) { all(w) = all(i); w += 1 }
            i += 1
          }
          if (w == all.length) all else java.util.Arrays.copyOf(all, w)
        }
      val stored = cap(sampled)
      DocSignature(
        textLen = text.length.toLong,
        sizeBytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong,
        simhashHead = SimHash64.of(sampled, cfg.minDistinctShingles),
        simhashTail = 0L,
        shinglesHead = stored,
        shinglesTail = Array.emptyLongArray,
        ssKeys = sampleKeys(sampled, Array.emptyLongArray),
        mhHead = minHasher.signature(stored),
        mhTail = null
      )
    }
  }
}

/** String ordering identical to Spark's UTF8String binary comparison
  * (byte-wise unsigned over the UTF-8 encoding) == code-point order. Java's
  * String.compareTo ranks UTF-16 surrogates (supplementary-plane chars,
  * 0xD800-0xDFFF) BELOW U+E000..U+FFFF, the opposite of byte order — so any
  * local min-url election (UnionFind roots) must use THIS ordering to agree
  * with the distributed paths' min(url)/dictionary sort on non-BMP urls.
  * Comparison is allocation-free: per-char with the standard surrogate
  * shift (surrogate block +0x2000, >= U+E000 block -0x800). */
object Utf8Ordering extends Ordering[String] {
  def compare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      var ca = a.charAt(i).toInt
      var cb = b.charAt(i).toInt
      if (ca != cb) {
        if (ca >= 0xd800 && cb >= 0xd800) {
          ca += (if (ca < 0xe000) 0x2000 else -0x800)
          cb += (if (cb < 0xe000) 0x2000 else -0x800)
        }
        return ca - cb
      }
      i += 1
    }
    a.length - b.length
  }
}

/** Local union-find with path compression — the small-scale oracle for the
  * distributed connected-components operator (SURVEY §2.9 C1). The reference
  * never materializes clusters (the human walks matching pairs transitively,
  * comparison.cpp:101-126); the north rule makes the transitive closure
  * explicit, and this is its sequential ground truth.
  *
  * For T = String, pass [[Utf8Ordering]] explicitly wherever the result must
  * agree with Spark-side min(url) elections (the default Ordering[String] is
  * UTF-16 order, which diverges on supplementary-plane characters). */
final class UnionFind[T] {
  private val parent = scala.collection.mutable.HashMap.empty[T, T]

  def find(x: T): T = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
    // path compression
    var c = x
    while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
    r
  }

  def union(a: T, b: T)(implicit ord: Ordering[T]): Unit = {
    val ra = find(a); val rb = find(b)
    if (ra != rb) {
      // canonical root = min (cluster_id = min(url), SURVEY §2.9 C2)
      if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
    }
  }

  /** Map every seen element to its canonical (minimum) representative. */
  def components(all: IterableOnce[T])(implicit ord: Ordering[T]): Map[T, T] = {
    val res = scala.collection.mutable.HashMap.empty[T, T]
    for (x <- all.iterator) res(x) = find(x)
    res.toMap
  }
}
