package graft.core

/** The engine's single configuration record — the analog of the reference's
  * `Prefs` (reference: prefs.h:7-24).
  *
  * The reference exposes ONE similarity knob: a slider value v in [1,100]
  * (default 89) that drives BOTH thresholds (reference: mainwindow.cpp:110-121,
  * duplicated at comparison.cpp:478-491):
  *   thresholdSSIM  = v / 100.0          -> jaccardThreshold
  *   thresholdPhash = round(64 * v/100)  -> simBitsThreshold (89 -> 57)
  * That invariant is preserved here: `threshold` is the only similarity knob;
  * both derived thresholds are computed, never set independently.
  *
  * Semantic transplants pinned (SURVEY.md §7.0):
  *  - duration (ms) -> text length (chars); the 1000 ms tolerance of the
  *    duration modifier (reference: comparison.cpp:168-174) becomes
  *    `lenTolChars` (absolute character tolerance, default 64 — documented
  *    choice, covered by tests on both sides of the boundary).
  *  - SSIM block size (reference: prefs.h:17, default 16) -> shingle size `k`
  *    in tokens (default 8: the exact-verify granularity knob; 16-token
  *    shingles are too brittle for 50-token documents, 8 keeps SimHash stable
  *    under single-token edits at the corpus' length distribution).
  *  - cutEnds sampling (reference: prefs.h:15, video.cpp:171,181-182) ->
  *    head/tail fingerprints over the first/last half of the token stream.
  *  - monochrome reject < 1500 gray-delta (reference: video.cpp:203-211,
  *    video.h:65) -> fewer than `minDistinctShingles` distinct shingles
  *    yields a NULL fingerprint for that slot.
  */
final case class GraftConfig(
    /** The one similarity knob, v in [1,100]; default 89 (reference: mainwindow.ui:259-261). */
    threshold: Int = 89,
    /** Comparison mode: false = fingerprint-only (reference _PHASH), true = gated
      * exact verify (reference _SSIM, prefs.h:14). */
    exactVerify: Boolean = false,
    /** Sampling mode — the full reference mode set (thumbnail.h:6-26):
      * "cutEnds" (the reference default, prefs.h:15) fingerprints the
      * first/last token-stream halves as separate head/tail slots;
      * the grid modes ("1x1".."4x3") sample token windows centered at the
      * reference's capture percentages and fingerprint their union as ONE
      * slot (the montage-hash analog) — "1x1" is provably the full-document
      * fingerprint. Changing the mode bumps configFp (stored signatures are
      * mode-incompatible, like the reference's cache version). */
    samplingMode: String = "cutEnds",
    /** Shingle size in tokens (the _ssimBlockSize analog; see scaladoc above). */
    k: Int = 8,
    /** MinHash permutations. */
    numPerm: Int = 128,
    /** MinHash LSH bands (rows per band = numPerm / minhashBands). Default
      * 32 bands x 4 rows: P(candidate) = 1-(1-J^4)^32 — ~1.0 at J=0.8,
      * 0.9998 at J=0.7. Pairs at the Hamming threshold are not all that
      * similar: a slot at sim 57 can have Jaccard 0.39-0.50, where a pair is
      * a candidate w.p. about 0.66-0.90 over both slots (3 of 31,216
      * truth-matched pairs missed over seeds 1-100 of the benchmark corpus;
      * ROADMAP direction 3). */
    minhashBands: Int = 32,
    /** SimHash band width in bits (64 / simhashBandBits bands per slot).
      * No band family reads it: candidates come from the minhash, rescue
      * and sampled-shingle families alone (Candidates.bands). It stays a
      * field because configFp hashes it, so stored signatures keep their
      * config fingerprint. */
    simhashBandBits: Int = 16,
    /** Length-modifier tolerance in characters (the 1000 ms analog, see scaladoc). */
    lenTolChars: Long = 64L,
    /** Same-length bonus bits (reference: prefs.h:23 `_sameDurationModifier` = 1). */
    sameLenBonus: Int = 1,
    /** Different-length penalty bits (reference: prefs.h:22 `_differentDurationModifier` = 4). */
    diffLenPenalty: Int = 4,
    /** Low-entropy reject: slots with fewer distinct shingles get a NULL fingerprint. */
    minDistinctShingles: Int = 3,
    /** Slots with fewer distinct shingles than this also emit the dense
      * r=2 x (numPerm/2) minhash rescue bands: short slots have noisy SimHash
      * bits AND noisy r=4 minhash banding, so the probabilistic families
      * under-recall exactly there. Minhash-keyed, so the extra bands collide
      * only for genuinely similar docs (no random join load). */
    shortSlotShingles: Int = 64,
    /** Cap on stored shingle hashes per slot (X12 analog: the reference
      * degrades stored JPEG quality above 200k videos, video.cpp:10-11 —
      * here giant documents store a bottom-k sketch instead of the full
      * shingle set; SimHash/MinHash are computed on the FULL set first).
      * Exact-verify Jaccard between two INDEPENDENTLY-capped sketches is a
      * good estimate when both sets are near the cap, but it is NOT the
      * textbook unbiased bottom-k estimator (that one intersects within the
      * bottom-k of the UNION): a size-skewed pair — one doc far over the
      * cap, the other under — systematically underestimates, because most
      * of the small doc's elements fall outside the giant's bottom-k. Docs
      * under the cap (the overwhelming mass at this default) verify on
      * their exact full sets. */
    maxStoredShinglesPerSlot: Int = 8192,
    /** Optional source-level language filter (S2 analog: the reference's
      * extension filter, extensions.ini + mainwindow.cpp:74-93). Applied as
      * a pushdown-friendly `lang IN (...)` predicate on the scan. */
    langFilter: Option[Set[String]] = None,
    /** Seed for all hashing (shingles, MinHash permutations, corpus synthesis). */
    seed: Long = 42L,
    /** Number of partitions for the signatures store (part_id = pmod(xxh64(url), P)). */
    storeParts: Int = 32,
    /** Candidate band keys seen by more than this many rows are routed through the
      * salted triangle self-join instead of the plain equi-join (skew handling,
      * north_rule "salted keys for skewed buckets"). */
    heavyBandKeyCap: Int = 2000,
    /** Salt buckets for the heavy-key triangle join. */
    saltBuckets: Int = 8,
    /** Heavy-key pair strategy. `true` (default): STAR generation — each row
      * in a heavy band group pairs with the group's min-url hub only; the
      * matched stars close transitively into the same clusters with O(n)
      * pairs instead of O(n^2) (a heavy band key implies a near-identical
      * mass, where all-pairs emission is redundant for clustering — and each
      * such pair would otherwise be emitted once PER colliding band family).
      * `false`: salted triangle join — exact pair-level parity with the
      * all-pairs oracle at O(n^2/s^2)-balanced cost. Cluster assignments are
      * identical under both (spec-pinned); the pairs TABLE differs. */
    heavyKeyStar: Boolean = true,
    /** Sample fraction for heavy-key detection (a full count of the band
      * relation is one more full shuffle). <= 0 means exact counting. At the
      * default cap, a key must show ~cap/100 sampled rows to classify heavy,
      * so only genuinely massive groups route to the star/salted path. */
    heavyDetectSampleFrac: Double = 0.02,
    /** Enable the suffix-array substring pass (the SSIM structural-similarity
      * analog, SURVEY §2.8 V4). Off by default, like the reference ships with
      * PHASH mode rather than SSIM (prefs.h:14). */
    substringPass: Boolean = false,
    /** Minimum verbatim-overlap length (chars) for the substring pass. */
    minSubstringOverlap: Int = 200,
    /** Sampling modulus for the substring pass's shingle-band keys: shingle
      * hashes with h % mod == 0 become band keys (winnowing-style sample). */
    shingleSampleMod: Int = 16
) {
  require(threshold >= 1 && threshold <= 100, "threshold is the [1,100] slider value")
  require(64 % simhashBandBits == 0, "simhash bands must tile 64 bits")
  require(numPerm % minhashBands == 0, "minhash bands must tile numPerm")
  require(SamplingModes.positions.contains(samplingMode),
    s"samplingMode '$samplingMode' not in ${SamplingModes.positions.keys.toSeq.sorted}")

  /** Head/tail two-slot sampling active (the reference default). */
  def cutEnds: Boolean = samplingMode == "cutEnds"

  /** reference: mainwindow.cpp:112 `_thresholdSSIM = value / 100.0` */
  def jaccardThreshold: Double = threshold / 100.0

  /** reference: mainwindow.cpp:113-114 `round(64 * _thresholdSSIM)` -> 57 at default. */
  def simBitsThreshold: Int = math.round(64.0 * threshold / 100.0).toInt

  /** Exact-verify gate: only verify when fingerprint similarity is at least
    * max(threshold, 44) — i.e. at most 20 of 64 bits differ
    * (reference: comparison.cpp:141-142). */
  def exactVerifyGate: Int = math.max(simBitsThreshold, 44)

  def minhashRowsPerBand: Int = numPerm / minhashBands

  /** Version/compat stamp for the signatures store — the analog of the
    * reference's `version` table (reference: db.cpp:46-47; readme.md:80 warns
    * old caches are incompatible). Any change to fingerprint-affecting config
    * invalidates cached signatures. */
  def configFp: String = {
    // graft3: stored rows gained the pre-cap sampled ss_keys column, whose
    // content depends on shingleSampleMod (and, via the bottom-k sketch,
    // maxStoredShinglesPerSlot) — both are now fingerprint-affecting.
    // graft4: the persisted/committed row SCHEMA depends on whether the mode
    // needs the raw shingle payload (Fingerprints.pruneForMode drops
    // shingles_head/tail/ss_keys in fingerprint-only mode) — a pruned
    // default-mode store must not satisfy a resume that needs those columns,
    // and mixed-schema snapshots would break the store's unionByName read.
    // exactVerify and substringPass share payload=full: their stored rows
    // are identical, so either store satisfies the other's resume.
    // shortSlotShingles gates which docs get populated mh_rescue_head/tail
    // arrays — a stored row computed under a different gate would carry the
    // wrong rescue bands, so it is fingerprint-affecting too
    val payload = if (exactVerify || substringPass) "full" else "pruned"
    val s = s"graft4|k=$k|perm=$numPerm|mb=$minhashBands|sb=$simhashBandBits|" +
      s"mode=$samplingMode|minShingles=$minDistinctShingles|seed=$seed|" +
      s"ssmod=$shingleSampleMod|cap=$maxStoredShinglesPerSlot|" +
      s"short=$shortSlotShingles|payload=$payload"
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}

object GraftConfig {
  val default: GraftConfig = GraftConfig()
}
