package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** The sampling-mode generalization of cutEnds (reference thumbnail.h:6-26):
  * grid modes sample token windows at the reference's capture percentages,
  * "1x1" must equal the full-document fingerprint by construction, and the
  * default cutEnds two-slot path must be byte-identical to before. */
class SamplingModeSpec extends AnyFunSuite {
  private val cfg = GraftConfig()
  private def mh(c: GraftConfig) = new MinHasher(c.numPerm, c.seed)

  private val longText = (0 until 400).map(i => s"tok$i word$i").mkString(" ")

  test("mode table matches thumbnail.h capture positions; bad mode rejected") {
    assert(SamplingModes.positions("cutEnds") === Seq(8, 96))
    assert(SamplingModes.positions("2x2") === Seq(16, 40, 56, 80))
    assert(SamplingModes.positions("4x3").size === 12)
    intercept[IllegalArgumentException](GraftConfig(samplingMode = "5x5"))
  }

  test("span geometry: in-bounds, ~n/P wide; 1x1 is exactly [0, n)") {
    for (mode <- SamplingModes.positions.keys if mode != "cutEnds";
         n <- Seq(1, 5, 50, 997)) {
      val ps = SamplingModes.positions(mode)
      val w = math.max((n + ps.size - 1) / ps.size, 1)
      SamplingModes.spans(mode, n).foreach { case (from, until) =>
        assert(from >= 0 && until <= n && from < until)
        assert(until - from <= w)
      }
    }
    for (n <- Seq(1, 2, 50, 997))
      assert(SamplingModes.spans("1x1", n) === Seq((0, n)))
  }

  test("full == 1x1: the 1x1 signature IS the full-document fingerprint") {
    val c1 = cfg.copy(samplingMode = "1x1")
    val got = DocSignatures.of(longText, c1, mh(c1))
    val sh = new Shingler(cfg.k, cfg.seed)
    val toks = Extract.tokens(longText)
    val full = sh.hashesOf(sh.tokenHashes(toks), 0, toks.length)
    assert(got.simhashHead === SimHash64.of(full, cfg.minDistinctShingles))
    assert(got.simhashTail === 0L)
    assert(got.shinglesHead.toSeq === full.take(cfg.maxStoredShinglesPerSlot).toSeq)
    assert(got.mhHead.toSeq === mh(c1).signature(full).toSeq)
  }

  test("cutEnds two-slot path unchanged by the mode machinery") {
    val got = DocSignatures.of(longText, cfg, mh(cfg))
    val sh = new Shingler(cfg.k, cfg.seed)
    val toks = Extract.tokens(longText)
    val th = sh.tokenHashes(toks)
    val mid = toks.length / 2
    assert(got.simhashHead === SimHash64.of(sh.hashesOf(th, 0, mid), cfg.minDistinctShingles))
    assert(got.simhashTail === SimHash64.of(sh.hashesOf(th, mid, toks.length), cfg.minDistinctShingles))
  }

  test("a sparse grid mode genuinely samples: 2x1 misses edge-only edits " +
      "that 1x1 sees") {
    val c1 = cfg.copy(samplingMode = "1x1")
    val c2 = cfg.copy(samplingMode = "2x1")
    // 2x1 windows (centered at 32% and 64%, each n/2 wide) cover ~[7%, 89%]:
    // mutate only the first ~5% of tokens
    val edited = longText.split(" ").zipWithIndex
      .map { case (t, i) => if (i < 40) s"EDIT$i" else t }.mkString(" ")
    val f1a = DocSignatures.of(longText, c1, mh(c1)).simhashHead
    val f1b = DocSignatures.of(edited, c1, mh(c1)).simhashHead
    val f2a = DocSignatures.of(longText, c2, mh(c2)).simhashHead
    val f2b = DocSignatures.of(edited, c2, mh(c2)).simhashHead
    assert(f1a !== f1b, "full fingerprint must see the head edit")
    assert(f2a === f2b, "2x1 sampling must not see an outside-window edit")
  }

  test("mode is fingerprint-affecting config: configFp differs per mode") {
    val fps = SamplingModes.positions.keys.map(m =>
      cfg.copy(samplingMode = m).configFp).toSet
    assert(fps.size === SamplingModes.positions.size)
  }
}
