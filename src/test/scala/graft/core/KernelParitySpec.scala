package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.data.Corpus

/** Round-6 optimization parity pins: the kernel rewrites must be
  * value-identical to the constructions they replaced.
  *
  *  - SuffixOverlap.longestCommonSubstring moved from a generalized suffix
  *    array (doubling + Kasai) to a suffix automaton; the SA/Kasai functions
  *    are retained as the cross-check oracle here.
  *  - DocSignatures.of computes each slot's minhash once; the direct
  *    signature over the stored slot array is the oracle.
  */
class KernelParitySpec extends AnyFunSuite {

  /** The pre-round-6 construction, verbatim: generalized suffix array over
    * a+sep+b, max LCP between adjacent suffixes from different docs. */
  private def lcsViaSuffixArray(a0: String, b0: String): Int = {
    if (a0 == null || b0 == null || a0.isEmpty || b0.isEmpty) return 0
    val sep = '\u0000'
    val a = a0.replace(sep, '\u0001')
    val b = b0.replace(sep, '\u0001')
    val s = a + sep + b
    val n = s.length
    val boundary = a.length
    val sa = SuffixOverlap.suffixArray(s)
    val lcp = SuffixOverlap.kasai(s, sa)
    var best = 0
    var i = 1
    while (i < n) {
      val p = sa(i - 1); val q = sa(i)
      if ((p < boundary) != (q < boundary) && lcp(i) > best) best = lcp(i)
      i += 1
    }
    best
  }

  test("suffix-automaton LCS equals the suffix-array construction on corpus pairs") {
    // every VerbatimBlock pair in the first 512 rows, plus unrelated pairs
    val pairs = (0L until 512L).flatMap { i =>
      Corpus.kindOf(i) match {
        case Corpus.VerbatimBlock(p) => Some((i, p))
        case _ => None
      }
    }
    assert(pairs.nonEmpty)
    pairs.foreach { case (i, p) =>
      val a = Corpus.textOf(i, 42L); val b = Corpus.textOf(p, 42L)
      assert(SuffixOverlap.longestCommonSubstring(a, b) === lcsViaSuffixArray(a, b),
        s"pair ($i, $p)")
    }
    // unrelated docs (no planted overlap) and asymmetric lengths
    for (i <- 0L until 24L; j <- Seq(i + 33L, i + 97L)) {
      val a = Corpus.textOf(i, 42L); val b = Corpus.textOf(j, 42L)
      assert(SuffixOverlap.longestCommonSubstring(a, b) === lcsViaSuffixArray(a, b),
        s"pair ($i, $j)")
    }
  }

  test("LCS edge cases: empty, NUL-conflation parity, char outside alphabet") {
    assert(SuffixOverlap.longestCommonSubstring("", "abc") === 0)
    assert(SuffixOverlap.longestCommonSubstring("abc", null) === 0)
    // the previous construction mapped NUL -> \\u0001; both still conflate
    assert(SuffixOverlap.longestCommonSubstring("x\u0000y", "x\u0001y") === 3)
    // b contains chars absent from a's alphabet (resets the match)
    assert(SuffixOverlap.longestCommonSubstring("aaa", "aZaZaa") === 2)
    assert(SuffixOverlap.longestCommonSubstring("abcabc", "zzabczz") === 3)
  }

  test("slot signatures on DocSignature equal direct signatures over stored arrays") {
    val cfg = GraftConfig()
    val mh = new MinHasher(cfg.numPerm, cfg.seed)
    for (i <- 0L until 48L) {
      val sig = DocSignatures.of(Corpus.textOf(i, 42L), cfg, mh)
      def eq(a: Array[Long], b: Array[Long]): Unit =
        if (a == null) assert(b == null) else assert(a.toSeq === b.toSeq)
      eq(mh.signature(sig.shinglesHead), sig.mhHead)
      eq(mh.signature(sig.shinglesTail), sig.mhTail)
    }
    // over-cap path: a tiny cap makes the slot signature cover the capped
    // sketch, not the full slot set
    val cfgCap = cfg.copy(maxStoredShinglesPerSlot = 8)
    val mh2 = new MinHasher(cfgCap.numPerm, cfgCap.seed)
    val sig = DocSignatures.of(Corpus.textOf(1L, 42L), cfgCap, mh2)
    assert(sig.mhHead.toSeq === mh2.signature(sig.shinglesHead).toSeq)
  }
}
