package graft.spark

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core._

/** One signature row — the engine's persisted fingerprint record (the analog
  * of the reference's SQLite cache row, db.cpp:38-47, plus the in-memory
  * Video fields that matching needs, video.h:13-66).
  *
  * `simhash_head`/`simhash_tail` are nullable (None) where the reference used
  * the in-band 0 sentinel (video.cpp:210-211); `reject_reason` is set when
  * the row must not participate in matching (the analog of
  * `_rejectedVideos` routing, mainwindow.cpp:307-315).
  */
final case class SignatureRow(
    url: String,
    content_id: String,
    part_id: Int,
    warc_ts: Timestamp,
    lang: String,
    text_len: Long,
    size: Long,
    text_md5: String,
    simhash_head: Option[Long],
    simhash_tail: Option[Long],
    mh_bands_head: Array[Long],
    mh_bands_tail: Array[Long],
    mh_rescue_head: Array[Long],
    mh_rescue_tail: Array[Long],
    shingles_head: Array[Long],
    shingles_tail: Array[Long],
    ss_keys: Array[Long],
    extract_ok: Boolean,
    config_fp: String,
    reject_reason: Option[String]
)

/** pages -> signatures: the per-row fingerprint stage (the Spark rendering of
  * `Video::run`, video.cpp:17-45 — a single narrow map, no shuffle, no
  * per-row I/O; SURVEY §3.2).
  */
object Fingerprints {

  /** content identity = md5(url + "_" + epochMillis(warc_ts)) — the analog of
    * the reference's md5(filename + "_" + mtime) cache key (db.cpp:22-30):
    * url-stable, content-version-sensitive. */
  def contentId(url: String, ts: Timestamp): String =
    md5hex(url + "_" + ts.getTime.toString)

  /** [[contentId]] as a Catalyst expression — the ONE column-level
    * definition (fromPages and Resume's anti-join both use it; a drift
    * between copies would silently invalidate the store's resume). */
  def contentIdCol: org.apache.spark.sql.Column =
    md5(to_binary(
      concat(col("url"), lit("_"), unix_millis(col("warc_ts")).cast("string")),
      lit("utf-8")))

  // the one md5hex definition lives with the expression kernel
  private def md5hex(s: String): String =
    graft.functions.FingerprintKernel.md5hex(s)

  /** Compute one signature row. Pure; used by both the Spark map and tests. */
  def signatureOf(url: String, ts: Timestamp, html: Array[Byte], text: String,
                  lang: String, cfg: GraftConfig, mh: MinHasher): SignatureRow = {
    val extracted = Extract.text(html)
    val extractOk = extracted == (if (text == null) "" else text)
    val sig = DocSignatures.of(extracted, cfg, mh)
    val reject: Option[String] =
      if (extracted.isEmpty) Some("empty_text") // F2/F3 validity (video.cpp:19-35)
      else if (html != null && extracted.length > html.length)
        Some("extract_anomaly") // F5: output larger than input => corrupt (video.cpp:157-158)
      else if (sig.isRejected) Some("low_entropy") // F4 monochrome (video.cpp:40-42)
      else None
    // slot-wise minhash band keys via the ONE kernel definition
    // (graft.functions.FingerprintKernel — the expression path's): the typed
    // path is the expression path's parity oracle, and both commit rows
    // under the same config_fp, so the banding/rescue byte-packing must be
    // bit-identical by CONSTRUCTION, not by two copies kept in sync. Banding
    // is SLOT-WISE (head vs head, tail vs tail) because matching is
    // slot-wise (comparison.cpp:133-136); 64-bit hashed band keys keep
    // join-key entropy high — see Candidates. Rescue keys: dense r=2 bands
    // for short slots only (noisy SimHash there; r=2 x 64 bands catch slot
    // Jaccard >~0.25 w.p. >=0.98) — they collide only for similar docs.
    val kern = new graft.functions.FingerprintKernel(cfg)
    def bandKeys(sigArr: Array[Long]): Array[Long] = kern.bandKeys(sigArr)
    def rescueKeys(sigArr: Array[Long], nShingles: Int): Array[Long] =
      kern.rescueKeys(sigArr, nShingles)
    val mhHead = sig.mhHead // precomputed over the stored arrays (DocSignatures.of)
    val mhTail = sig.mhTail
    SignatureRow(
      url = url,
      content_id = contentId(url, ts),
      // seed fixed at 42 to match the builtin xxhash64 used on the
      // expression path (partitioner only — independent of cfg.seed)
      part_id = ((XXH64.hashString(url, 42L) % cfg.storeParts).toInt + cfg.storeParts) % cfg.storeParts,
      warc_ts = ts,
      lang = lang,
      text_len = sig.textLen,
      size = sig.sizeBytes,
      text_md5 = md5hex(extracted),
      simhash_head = if (sig.simhashHead == 0L) None else Some(sig.simhashHead),
      simhash_tail = if (sig.simhashTail == 0L) None else Some(sig.simhashTail),
      mh_bands_head = bandKeys(mhHead),
      mh_bands_tail = bandKeys(mhTail),
      mh_rescue_head = rescueKeys(mhHead, sig.shinglesHead.length),
      mh_rescue_tail = rescueKeys(mhTail, sig.shinglesTail.length),
      shingles_head = sig.shinglesHead,
      shingles_tail = sig.shinglesTail,
      ss_keys = sig.ssKeys,
      extract_ok = extractOk,
      config_fp = cfg.configFp,
      reject_reason = reject
    )
  }

  /** Rule 1 of the url dedup — re-crawl supersedence: per EXACT url, the
    * newest warc_ts wins (a later capture of the same page replaces the
    * earlier one). Identical (url, warc_ts) duplicate crawl records (WARC
    * revisit records, a retried ingest unioned twice) collapse to ONE row,
    * elected deterministically by content hash — a naive ranking window
    * over raw rows would put the surviving copy's own (url, warc_ts) key in
    * the loser set and the anti-join would drop the document entirely.
    *
    * The INCREMENTAL commit applies the same rule 1 in its key pass
    * ([[Resume]], through [[rankUrlKeys]]): rule 2 (the case rule) must NOT
    * run before a commit, because a later
    * batch can add an older case-variant that changes the cross-increment
    * case election — rule-2 losers are committed and the live view elects
    * among all of them (batch-split invariance).
    *
    * Shuffle discipline: ranking runs over a SLIM aggregate of (url,
    * warc_ts) keys; only the rare losers flow into an anti-join against the
    * unshuffled pages, and only rows of the (rarer still) duplicated keys
    * pass through a payload collapse aggregate. The whole plan is LAZY
    * (no driver action at construction — the lazy entry points' contract): when
    * no key is duplicated, dupKeys resolves empty at execution and the
    * collapse branch is a no-op.
    *
    * Ingest contract: copies that share (url, warc_ts) but differ in content
    * are ill-formed input (one crawl key names one capture). They still
    * collapse deterministically — the election hashes EVERY non-key column,
    * so any column difference (lang, text, html) yields a total order and
    * the same winner under every partitioning; only byte-identical rows tie,
    * and those are interchangeable. Across batches, however, the first
    * committed copy wins (content_id keys on (url, warc_ts) only), so the
    * surviving CONTENT of an ill-formed same-key pair split across batches
    * is arrival-ordered — the one dedup decision that cannot be batch-split
    * invariant without re-reading committed payloads. */
  def dropRecrawlDuplicateUrls(pages: DataFrame): DataFrame =
    urlDedup(pages, caseRule = false, eagerKeys = false)

  /** Shared body of the two url-dedup entry points. Plan discipline (the
    * round-5 perf regression root cause, see BENCH/BASELINE.md): EVERY
    * election decision — recency rank, case rank, duplicate-key detection —
    * is computed once in a slim (url, warc_ts) key space; the full-payload
    * `pages` relation is consumed by exactly two single-pass branches (the
    * broadcast anti-join and the rare-key collapse aggregate,
    * [[applyUrlElection]]), never by a payload window and never re-derived
    * per consumer. A previous cut let rule 2 re-consume the rule-1 output
    * twice, tripling full-payload cache reads of a ~10 KB/row relation on a
    * bandwidth-bound box. */
  private def urlDedup(pages: DataFrame, caseRule: Boolean,
                       eagerKeys: Boolean): DataFrame = {
    // The decision frame is broadcast from BOTH payload branches, and as a
    // logical TREE each reference re-derives it: the broadcast builds ran
    // as concurrent jobs that each re-scanned `pages` (measured: a 6-job
    // ladder of 256-task stages owning the sigs-build wall at 60k docs).
    // Eager mode makes it a checkpoint leaf (Pipeline.leaf: one job; its
    // slim key aggregate is computed inside that job and referenced nowhere
    // else). eagerKeys=false keeps plan construction side-effect-free (the
    // Round5ReviewSpec contract).
    val decisions0 = electUrlKeys(urlKeysOf(pages), caseRule)
    val decisions =
      if (!eagerKeys) decisions0
      else Pipeline.leaf(pages.sparkSession, "graft: url-dedup decisions")(decisions0)
    // the broadcast hints are LOAD-BEARING (round-6 measurement): this dedup
    // is the child of the persisted signatures frame, and AQE does not
    // re-plan join strategies inside a cached-plan build — without the hints
    // the planner kept SortMergeJoin and the full ~10 KB/row payload
    // relation was exchanged + sorted per join branch (5 payload exchanges,
    // 7 concurrent 256-task stages, ~60% of a 60k-doc pipeline's wall).
    applyUrlElection(pages, decisions, collapse = true)
  }

  /** The slim key aggregate every url election runs on: one row per
    * distinct (url, warc_ts) with its record count `__copies`, clustered by
    * `__lu` = lower(url). Both election rules partition by a superset of
    * `__lu` (rule 1 by (__lu, url), rule 2 by __lu), so this ONE slim
    * shuffle serves the aggregate and both ranking windows. */
  private[graft] def urlKeysOf(rows: DataFrame): DataFrame =
    rows.select(col("url"), col("warc_ts"), lower(col("url")).as("__lu"))
      .repartition(col("__lu"))
      .groupBy(col("__lu"), col("url"), col("warc_ts"))
      .agg(count(lit(1)).as("__copies"))

  /** THE url election — rule 1 (per exact url, the newest warc_ts wins) and,
    * with `caseRule`, rule 2 (among the rule-1 winners, the earliest
    * (warc_ts, url) per lower(url) wins) — computed on [[urlKeysOf]] keys
    * only, never on a payload row. The one-shot dedup ([[urlDedup]]) and the
    * incremental key pass ([[Resume]]) both rank through [[rankUrlKeys]], so
    * the two paths cannot elect different survivors. Rule 2 ranks the rule-1
    * winners of each lower(url) first (a loser's rank is irrelevant: it
    * leaves anyway), so one window pass over the keys decides both rules.
    *
    * Returns the keys whose rows do not survive as they are, tagged `__t`:
    * 0 for losers (either rule), 1 for surviving keys held by more than one
    * record (copies that [[applyUrlElection]] collapses to one row). Lazy:
    * no job runs here. */
  private[graft] def electUrlKeys(keys: DataFrame, caseRule: Boolean): DataFrame =
    rankUrlKeys(keys, caseRule)
      .select(col("url"), col("warc_ts"),
        when(col("__lost"), 0).when(col("__copies") > 1, 1).as("__t"))
      .filter(col("__t").isNotNull)

  /** The ranking behind [[electUrlKeys]], with every key kept: `__lost` is
    * true for a key that loses either rule and false for a winner. With
    * `among`, only the keys for which it holds take part — the others sort
    * after them in every window, so they cannot move a participant's rank,
    * and their `__lost` is null ([[Resume]] elects the batch's rule 1 and the
    * live view's two rules over one key relation this way). */
  private[graft] def rankUrlKeys(keys: DataFrame, caseRule: Boolean,
                                 among: Option[Column] = None): DataFrame = {
    val first = among.map(c => (!c).asc).toSeq
    val ranked = keys.withColumn("__rn", row_number().over(
      Window.partitionBy(col("__lu"), col("url")).orderBy(first :+ col("warc_ts").desc: _*)))
    val (withRanks, lost) =
      if (!caseRule) (ranked, col("__rn") > 1)
      else (ranked.withColumn("__rc", row_number().over(Window.partitionBy(col("__lu"))
          .orderBy(first ++ Seq(col("__rn") > 1, col("warc_ts"), col("url")): _*))),
        col("__rn") > 1 || col("__rc") > 1)
    withRanks.withColumn("__lost", among.fold(lost)(when(_, lost))).drop("__rn", "__rc")
  }

  /** Applies an [[electUrlKeys]] decision frame to the full rows. Payload
    * pass 1: losers and duplicated keys leave in ONE broadcast anti-join, so
    * no payload column crosses a shuffle. Decision keys are keys of
    * re-crawled/case-variant urls — rare by the ingest contract; a
    * pathological batch fails loudly at the 8 GB broadcast cap rather than
    * silently reintroducing the payload shuffle.
    *
    * Payload pass 2, only with `collapse` (empty in well-formed input):
    * collapse identical-key copies to ONE row via an aggregate — the winner
    * is the lexicographic minimum over (xxhash64 of every non-key column,
    * then the columns themselves), so the survivor is a pure function of the
    * data under any partitioning, hash-collision ties included;
    * byte-identical copies compare equal and min() keeps exactly one. A
    * caller that knows no key is duplicated passes `collapse = false` and
    * skips the second scan. */
  private[graft] def applyUrlElection(rows: DataFrame, decisions: DataFrame,
                                      collapse: Boolean): DataFrame = {
    // the USING join moves the keys to the front; keep the caller's order
    val clean = rows.join(broadcast(decisions.select("url", "warc_ts")),
      Seq("url", "warc_ts"), "left_anti").select(rows.columns.map(col): _*)
    if (!collapse) clean
    else {
      val dataCols = rows.columns.toSeq.filter(c => c != "url" && c != "warc_ts")
      val packedFields = {
        val fs = dataCols.zipWithIndex.map { case (c, i) => xxhash64(col(c)).as(s"__h$i") } ++
          dataCols.map(c => col(c).as(c))
        if (fs.isEmpty) Seq(lit(0L).as("__h0")) else fs
      }
      val collapsed = rows
        .join(broadcast(decisions.filter(col("__t") === 1).select("url", "warc_ts")),
          Seq("url", "warc_ts"), "left_semi")
        .groupBy(col("url"), col("warc_ts"))
        .agg(min(struct(packedFields: _*)).as("__w"))
        .select(col("url") +: col("warc_ts") +:
          dataCols.map(c => col("__w").getField(c).as(c)): _*)
      clean.unionByName(collapsed.select(rows.columns.map(col): _*))
    }
  }

  /** Full url recency/case dedup — rule 1 ([[dropRecrawlDuplicateUrls]])
    * then rule 2, through the SAME election ([[electUrlKeys]]) as the
    * cross-increment live view of [[Resume]], so the surviving row
    * per url is independent of how a crawl is split into batches
    * (batch-split invariance, pinned in KernelHardeningSpec):
    *
    *  2. the reference's case-insensitive distinct — the O(n^2) scan over
    *     `_everyVideo` (mainwindow.cpp:217-225): among the per-url winners,
    *     keep the earliest row per lower(url) (discovery order ->
    *     warc_ts, url). */
  def dropCaseDuplicateUrls(pages: DataFrame): DataFrame =
    urlDedup(pages, caseRule = true, eagerKeys = false)

  /** [[dropCaseDuplicateUrls]] with its decision frame materialized NOW as a
    * checkpoint leaf (one job), for the pipeline fingerprint stage: its
    * first downstream action fans out into concurrent AQE stage jobs that
    * would otherwise each re-derive the decisions. The public entry points
    * stay lazy (plan-construction contract, Round5ReviewSpec). */
  private[graft] def dropCaseDuplicateUrlsEager(pages: DataFrame): DataFrame =
    urlDedup(pages, caseRule = true, eagerKeys = true)

  /** The fingerprint stage — one narrow select over the native
    * [[graft.functions.PageFingerprint]] expression (whole-stage codegen, no
    * Encoder round-trip); identity/partition columns are built-in
    * expressions. Column set identical to [[SignatureRow]] (pinned by
    * FingerprintExprSpec against the typed path). */
  def fromPages(pages: DataFrame, cfg: GraftConfig): DataFrame =
    fromPagesPreDeduped(dropCaseDuplicateUrlsEager(pages), cfg)

  /** [[fromPages]] minus the case-dedup window, for callers whose input is
    * ALREADY deduped (Resume runs dropCaseDuplicateUrls before its cheap
    * anti-join — re-running the window inside the commit job would add a
    * redundant full-input shuffle). */
  private[graft] def fromPagesPreDeduped(pages: DataFrame, cfg: GraftConfig): DataFrame =
    pages
      .select(col("url"), col("warc_ts"), col("lang"),
        graft.functions.PageFingerprint(col("html"), col("text"), cfg).as("fp"))
      .select(
        col("url"),
        contentIdCol.as("content_id"),
        pmod(xxhash64(col("url")), lit(cfg.storeParts)).cast("int").as("part_id"),
        col("warc_ts"), col("lang"),
        col("fp.text_len"), col("fp.size"), col("fp.text_md5"),
        col("fp.simhash_head"), col("fp.simhash_tail"),
        col("fp.mh_bands_head"), col("fp.mh_bands_tail"),
        col("fp.mh_rescue_head"), col("fp.mh_rescue_tail"),
        col("fp.shingles_head"), col("fp.shingles_tail"), col("fp.ss_keys"),
        col("fp.extract_ok"),
        lit(cfg.configFp).as("config_fp"),
        col("fp.reject_reason"))

  /** Persist/store projection per mode: in default (fingerprint-only) mode
    * nothing downstream reads the shingle sketches or the substring sample
    * keys — shingles_head/tail feed only the exact-verify Jaccard join
    * (Pairs.verifyJoin) and ss_keys only the sampled-shingle band family
    * (Candidates.bands) — so dropping them from the persisted/committed rows
    * removes the dominant payload bytes (2x cap + sample longs per row) from
    * the cache and the store write path of a bandwidth-bound workload.
    * configFp carries a payload=full/pruned marker for exactly this schema
    * split, so a pruned store can never satisfy a resume that needs the
    * shingle columns. A store may still mix schemas under one config_fp:
    * snapshots committed before the full-document MinHash was dropped carry
    * an extra `minhash` column, which [[Resume.commit]] drops at read. */
  def pruneForMode(sigs: DataFrame, cfg: GraftConfig): DataFrame =
    if (cfg.exactVerify || cfg.substringPass) sigs
    else sigs.drop("shingles_head", "shingles_tail", "ss_keys")

  /** The typed-map variant of the fingerprint stage — the parity oracle for
    * the expression path (and a fallback if an environment rejects the
    * custom expression). */
  def fromPagesTyped(pages: DataFrame, cfg: GraftConfig): Dataset[SignatureRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    dropCaseDuplicateUrls(pages)
      .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"))
      .as[(String, Timestamp, Array[Byte], String, String)]
      .mapPartitions { it =>
        val mh = new MinHasher(cfg.numPerm, cfg.seed)
        it.map { case (url, ts, html, text, lang) =>
          signatureOf(url, ts, html, text, lang, cfg, mh)
        }
      }
  }
}
