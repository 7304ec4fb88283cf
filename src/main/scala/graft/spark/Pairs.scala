package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{GraftConfig, Similarity, SuffixOverlap}

/** Pair scoring — the comparison kernel (comparison.cpp:128-174) rendered as
  * pure built-in Catalyst expressions (whole-stage codegen, no UDF on the
  * Hamming path):
  *
  *   slot similarity = 64 - bit_count(xor) + length modifier, clamped at 64,
  *   with the both-null guard (comparison.cpp:157-158);
  *   pair similarity = greatest(head slot, tail slot)  [cutEnds best-of-two]
  *
  * The `pairs` table persists RAW measures (sim_bits, len_mod, jaccard) with
  * `matched` derived — so re-thresholding is a cheap filter over pairs, not a
  * pipeline re-run (the reference's live slider, comparison.cpp:478-491;
  * SURVEY §3.3).
  */
object Pairs {

  /** The length modifier as a Column (comparison.cpp:168-174 transplanted to
    * text length; GraftConfig.lenTolChars documents the 1000ms analog). */
  def lenModCol(lenA: Column, lenB: Column, cfg: GraftConfig): Column =
    when(abs(lenA - lenB) <= cfg.lenTolChars, lit(cfg.sameLenBonus))
      .otherwise(lit(-cfg.diffLenPenalty))

  /** Per-slot similarity with both-null guard and clamp. One-side-null is NOT
    * guarded — the null side hashes as 0, exactly the reference's in-band
    * sentinel arithmetic. */
  def slotSimCol(hA: Column, hB: Column, lenMod: Column): Column =
    when(hA.isNull && hB.isNull, lit(0))
      .otherwise(least(
        lit(64) - bit_count(coalesce(hA, lit(0L)).bitwiseXOR(coalesce(hB, lit(0L)))) + lenMod,
        lit(64)))

  /** Score candidate pairs: adds len_mod, sim_bits, matched, via. */
  def score(cand: DataFrame, cfg: GraftConfig): DataFrame = {
    val lm = lenModCol(col("text_len_a"), col("text_len_b"), cfg)
    val head = slotSimCol(col("simhash_head_a"), col("simhash_head_b"), col("len_mod"))
    val tail = slotSimCol(col("simhash_tail_a"), col("simhash_tail_b"), col("len_mod"))
    val sim = if (cfg.cutEnds) greatest(head, tail) else head
    cand
      .withColumn("len_mod", lm)
      .withColumn("sim_bits", sim)
      .withColumn("matched", col("sim_bits") >= cfg.simBitsThreshold)
      .withColumn("via", lit("simhash"))
  }

  /** §3.3 re-threshold (the reference's live slider, comparison.cpp:478-491;
    * mainwindow.cpp:110-121): re-derive `matched` from the PERSISTED raw
    * measures at a new slider value v — a cheap filter over `pairs`, never a
    * pipeline re-run (the whole reason `pairs` stores sim_bits/len_mod/
    * jaccard raw). `sim_bits` already folds the length modifier and the
    * 64-clamp, so fingerprint mode re-thresholds on sim_bits alone; rows
    * that carry an exact-verify jaccard re-threshold through the SSIM-branch
    * formula behind the re-derived gate. In exact mode this is complete for
    * v >= the run's original threshold (below it, the reference recomputes
    * SSIM for never-gated pairs; we conservatively keep them unmatched). */
  def rethreshold(pairs: DataFrame, threshold: Int): DataFrame = {
    require(threshold >= 1 && threshold <= 100, "threshold is the [1,100] slider value")
    val simBitsThr = math.round(64.0 * threshold / 100.0).toInt
    val gate = math.max(simBitsThr, 44) // comparison.cpp:141-142
    val jacThr = threshold / 100.0
    val m =
      if (pairs.columns.contains("jaccard"))
        col("jaccard").isNotNull && col("sim_bits") >= gate &&
          col("jaccard") + col("len_mod") / lit(64.0) > jacThr
      else col("sim_bits") >= simBitsThr
    // substring matches are SLIDER-INDEPENDENT (overlap_len >= the config's
    // minSubstringOverlap, not a function of the threshold) — re-deriving
    // matched from sim_bits/jaccard alone would silently un-match them
    val m2 =
      if (pairs.columns.contains("via")) m || (col("via") === lit("substring"))
      else m
    pairs.withColumn("matched", m2)
  }

  /** W2 progress position (reference: comparison.cpp:366-373 computes
    * "comparisons done so far" with triangular-number arithmetic for the
    * progress bar): the canonical position of a given pair in the
    * deterministic (url_a, url_b) enumeration, plus the total — as two
    * distributed counts, NOT a global one-partition sort window (which would
    * serialize at scale). Returns (position, total, fraction). */
  def progressOf(pairs: DataFrame, urlA: String, urlB: String): (Long, Long, Double) = {
    val row = pairs.agg(
      coalesce(sum(when(col("url_a") < urlA ||
        (col("url_a") === urlA && col("url_b") <= urlB), 1L)), lit(0L)),
      count(lit(1))).head()
    val (pos, total) = (row.getLong(0), row.getLong(1))
    (pos, total, if (total == 0) 0.0 else pos.toDouble / total)
  }

  /** Exact-verify pass (the SSIM mode, comparison.cpp:141-147): for pairs
    * whose fingerprint similarity clears max(threshold, 44), compute exact
    * Jaccard per slot over the stored shingle sets and re-derive `matched` as
    * jaccard + len_mod/64 > jaccardThreshold. Cheap-filter-first ordering is
    * explicit: the expensive verify only sees gated rows (SURVEY §2.2 F9).
    *
    * Slot-wise like the reference: head shingles verify the head gate, tail
    * the tail; best-of-two. */
  def exactVerify(scored: DataFrame, signatures: DataFrame, cfg: GraftConfig): DataFrame = {
    val gate = cfg.exactVerifyGate
    val gated = scored.filter(col("sim_bits") >= gate)
    val rest = scored.filter(col("sim_bits") < gate)
      .withColumn("jaccard", lit(null).cast("double"))
      .withColumn("jac_inter", lit(null).cast("long"))
      .withColumn("jac_union", lit(null).cast("long"))
      .withColumn("matched", lit(false)) // below gate: never matches in SSIM mode

    val verified = verifyJoin(gated, signatures, cfg, cfg.jaccardThreshold)
    verified.unionByName(rest.select(verified.columns.map(col): _*))
  }

  /** The expensive half of the exact verify: join the gated pairs to the
    * stored shingle sets and derive (jaccard, jac_inter, jac_union, matched,
    * via) at the given Jaccard threshold. Shared by [[exactVerify]] (run
    * threshold) and [[reverify]] (a lower slider value). */
  private def verifyJoin(gated: DataFrame, signatures: DataFrame,
                         cfg: GraftConfig, jacThr: Double): DataFrame = {
    // raw (intersection, union) SIZES per slot, not just the float: the
    // persisted integers let an independent SQL oracle re-derive
    // jaccard = inter/union and the match decision bit-for-bit
    val countsUdf = udf((a: Seq[Long], b: Seq[Long]) =>
      Similarity.jaccardCounts(
        if (a == null) null else a.toArray,
        if (b == null) null else b.toArray))

    val shA = signatures.select(col("url").as("url_a"),
      col("shingles_head").as("sh_head_a"), col("shingles_tail").as("sh_tail_a"))
    val shB = signatures.select(col("url").as("url_b"),
      col("shingles_head").as("sh_head_b"), col("shingles_tail").as("sh_tail_b"))

    def jacOf(cnt: Column): Column =
      when(cnt.getField("_2") > 0,
        cnt.getField("_1").cast("double") / cnt.getField("_2")).otherwise(lit(0.0))

    // LEFT joins: a gated pair whose url is absent from `signatures` (e.g. a
    // reverify caller passing a narrower signature set) is RETAINED with
    // jaccard 0.0 / matched=false (jaccardCounts maps null shingle arrays to
    // (0, 0)) — an inner join would silently drop the pair row from the
    // returned table (round-4 ADVICE #3). exactVerify's own calls always
    // cover every url, so this is behavior-neutral on the pipeline path.
    gated
      .join(shA, Seq("url_a"), "left").join(shB, Seq("url_b"), "left")
      .withColumn("cnt_head", countsUdf(col("sh_head_a"), col("sh_head_b")))
      .withColumn("cnt_tail",
        if (cfg.cutEnds) countsUdf(col("sh_tail_a"), col("sh_tail_b"))
        else struct(lit(0).as("_1"), lit(0).as("_2")))
      .withColumn("jac_head", jacOf(col("cnt_head")))
      .withColumn("jac_tail", jacOf(col("cnt_tail")))
      .withColumn("jaccard", greatest(col("jac_head"), col("jac_tail")))
      // best-of-two slot choice; ties go to head (same jaccard value either way)
      .withColumn("jac_inter", when(col("jac_head") >= col("jac_tail"),
        col("cnt_head").getField("_1")).otherwise(col("cnt_tail").getField("_1")).cast("long"))
      .withColumn("jac_union", when(col("jac_head") >= col("jac_tail"),
        col("cnt_head").getField("_2")).otherwise(col("cnt_tail").getField("_2")).cast("long"))
      .withColumn("matched",
        col("jaccard") + col("len_mod") / lit(64.0) > lit(jacThr))
      .withColumn("via", lit("exact"))
      .drop("sh_head_a", "sh_tail_a", "sh_head_b", "sh_tail_b",
        "cnt_head", "cnt_tail", "jac_head", "jac_tail")
  }

  /** §3.3 slider BELOW the original run threshold in exact mode — the half of
    * comparison.cpp:478-491 that [[rethreshold]] is documented conservative
    * about: when the slider drops, the reference's gate max(thr, 44)
    * (comparison.cpp:141-142) ADMITS pairs that the original (higher) gate
    * never verified, and it recomputes SSIM for them live. Here: candidate
    * pairs persist with raw measures, so only the never-verified stratum
    * (sim_bits in [newGate, oldGate), jaccard IS NULL) re-runs the Jaccard
    * join — the banding/scoring stages are NOT re-run, and the
    * already-verified rows just re-derive `matched` at the new value, exactly
    * like [[rethreshold]]. Complete slider parity for any v. */
  def reverify(pairs: DataFrame, signatures: DataFrame, cfg: GraftConfig,
               newThreshold: Int): DataFrame = {
    require(newThreshold >= 1 && newThreshold <= 100,
      "newThreshold is the [1,100] slider value")
    val newGate = math.max(math.round(64.0 * newThreshold / 100.0).toInt, 44)
    val jacThr = newThreshold / 100.0

    // substring-matched rows are slider-independent and NEVER re-enter the
    // verify join: verifyJoin stamps via='exact', and losing the
    // via='substring' marker would let a later rethreshold un-match a
    // verbatim-overlap pair (the exact regression rethreshold's own
    // contract rules out)
    // coalesce: a null via (mixed-schema store read) must land a row in
    // exactly one branch — a bare three-valued `via === "substring"` would
    // evaluate null in BOTH filters and silently drop the row
    val isSub =
      if (pairs.columns.contains("via"))
        coalesce(col("via") === "substring", lit(false))
      else lit(false)
    val needVerify = pairs.filter(
      col("jaccard").isNull && col("sim_bits") >= newGate && !isSub)
    val untouched = pairs.filter(
      col("jaccard").isNotNull || col("sim_bits") < newGate || isSub)

    val verified = verifyJoin(needVerify, signatures, cfg, jacThr)
    val all = untouched.select(verified.columns.map(col): _*).unionByName(verified)
    // final decision at the new slider value over the (now complete)
    // measures; substring matches (overlap_len criterion) are
    // slider-independent and carry through unchanged
    val sub =
      if (all.columns.contains("overlap_len"))
        coalesce(col("overlap_len") >= cfg.minSubstringOverlap, lit(false))
      else lit(false)
    all.withColumn("matched",
      (col("jaccard").isNotNull && col("sim_bits") >= newGate &&
        col("jaccard") + col("len_mod") / lit(64.0) > jacThr) || sub)
  }

  /** Suffix-array substring pass (SURVEY §2.8 V4): candidate pairs that came
    * from the sampled-shingle band family and did NOT already match get a
    * generalized-suffix-array longest-common-substring check against the
    * source pages; overlap >= cfg.minSubstringOverlap chars marks the pair
    * matched via='substring'. The expensive O((|a|+|b|) log) kernel runs only
    * on this narrow, gated subset, inside partitions. */
  def substringPass(scored: DataFrame, pages: DataFrame, cfg: GraftConfig): DataFrame =
    checkSubstrings(scored, substringText(pages), cfg)

  /** The substring pass's text source: `pages` deduped with the SAME rule
    * as the fingerprint path. Raw pages may carry a url twice (re-crawl in
    * one batch), and a multi-row url would fan every pair touching it into
    * N rows with possibly contradictory verdicts. A bare (url, text) source
    * without warc_ts is taken as already one-row-per-url. Eager-keys dedup:
    * the pass runs from eager contexts (downstream post-checkpoint, the
    * scoped increment) where materializing the shared key aggregate up
    * front avoids the concurrent-stage re-scan ladder. */
  private[graft] def substringText(pages: DataFrame): DataFrame =
    if (pages.columns.contains("warc_ts")) Fingerprints.dropCaseDuplicateUrlsEager(pages)
    else pages

  /** [[substringPass]] over a text source that is already one row per url
    * ([[substringText]], or the fingerprint stage's own deduped pages). */
  private[graft] def checkSubstrings(scored: DataFrame, src: DataFrame,
                                     cfg: GraftConfig): DataFrame = {
    val lcsUdf = udf((a: String, b: String) =>
      SuffixOverlap.longestCommonSubstring(a, b))

    val candidates = scored.filter(col("from_ss") && !col("matched"))
    val untouched = scored.filter(!col("from_ss") || col("matched"))
      .withColumn("overlap_len", lit(null).cast("int"))

    // LEFT joins: a candidate whose text is absent from `src` (e.g. an
    // incremental run where `pages` is only the current batch while pairs
    // span the full live store) is RETAINED as unmatched with a null
    // overlap_len — an inner join would silently drop the scored pair.
    val txtA = src.select(col("url").as("url_a"), col("text").as("text_a"))
    val txtB = src.select(col("url").as("url_b"), col("text").as("text_b"))
    val checked = candidates
      .join(txtA, Seq("url_a"), "left").join(txtB, Seq("url_b"), "left")
      .withColumn("overlap_len",
        when(col("text_a").isNotNull && col("text_b").isNotNull,
          lcsUdf(col("text_a"), col("text_b"))).otherwise(lit(null).cast("int")))
      .withColumn("matched",
        coalesce(col("overlap_len") >= cfg.minSubstringOverlap, lit(false)))
      .withColumn("via", when(col("matched"), lit("substring")).otherwise(col("via")))
      .drop("text_a", "text_b")

    checked.unionByName(untouched.select(checked.columns.map(col): _*))
  }
}
