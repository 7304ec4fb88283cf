package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.GraftConfig
import graft.store.IcebergShaped

/** Checkpointed resume: fingerprint only rows not already in the signatures
  * store — the Spark rendering of the reference's read-before-compute cache
  * protocol (video.cpp:26-30, 133-137: probe SQLite by id, skip work on hit;
  * ">10x faster loading once cached", readme.md:37).
  *
  * Identity is content-versioned: content_id = md5(url + "_" + epochMillis)
  * (db.cpp:22-30 analog) — moving/refetching a page with a new warc_ts
  * invalidates, a byte-identical re-crawl row does not. Signatures computed
  * under a different GraftConfig are ignored AND superseded (config_fp
  * mismatch => recompute; db.cpp:46-47 version-stamp analog).
  *
  * One store pass per increment, in two halves:
  *  - [[commit]] (write after compute): lists the store once and runs ONE
  *    slim key pass ([[keyDecisions]]) over the stored `(url, warc_ts, lang)`
  *    keys of the config plus the batch's keys. That pass decides both the
  *    batch's commit (rule-1 dedup of the batch, and batch keys whose
  *    content_id is already stored are resumed, not written) and the url
  *    election of the live view. The batch's new rows are fingerprinted once
  *    into a leaf ([[Pipeline.leaf]]), whose measured size is the number of
  *    rows added, and the snapshot is written from that leaf — clustered by
  *    part_id, so every commit adds exactly one parquet file per part_id dir
  *    it touches.
  *  - [[liveView]] (read before compute): the rows clustering sees — the
  *    stored payload of the config (the files listed BEFORE the commit)
  *    unioned with the batch leaf, minus the election's losing keys, as one
  *    leaf. Nothing just written is read back, and the store's data files
  *    are scanned twice per increment: once for keys, once for payload.
  * The election runs in url-KEY space (the one-shot dedup's own rules,
  * [[Fingerprints.rankUrlKeys]]): the losing keys leave the payload in one
  * broadcast left-anti join, so no MinHash or band array crosses a shuffle
  * and an increment's shuffle tracks the increment, not the corpus.
  */
object Resume {

  /** content_id as a Catalyst expression — the single definition lives in
    * [[Fingerprints.contentIdCol]] (matching the typed contentId, tested). */
  def contentIdCol: org.apache.spark.sql.Column = Fingerprints.contentIdCol

  final case class IncrementalResult(
      signatures: DataFrame, // full live table after the commit
      newlyFingerprinted: Long, // rows actually computed this run
      skipped: Long // rows served from the store
  )

  /** What one [[commit]] did, and what [[liveView]] builds from: the stored
    * rows of the config as listed before the commit (None: the store had no
    * files), the fingerprinted batch leaf it wrote, the live view's decision
    * keys (None: no stored or new key loses or is duplicated), whether those
    * include duplicated keys, the batch's rule-1 row count, and the rows
    * added. */
  private[graft] final case class Committed(stored: Option[DataFrame], fresh: DataFrame,
                                            liveDecisions: Option[DataFrame], collapse: Boolean,
                                            total: Long, added: Long)

  /** Fingerprint pages incrementally against `store`, append only new rows,
    * and return the live view after the commit. */
  def incrementalFingerprints(
      pages: DataFrame,
      store: IcebergShaped.Table,
      cfg: GraftConfig): IncrementalResult = {
    val c = commit(pages, store, cfg)
    IncrementalResult(liveView(c, cfg), c.added, skipped = c.total - c.added)
  }

  /** The write half. Driver-job budget: the store listing, the key pass (a
    * leaf), one aggregate over that in-memory leaf (skipped rows and the
    * collapse flags — it runs only when some key has a decision), the batch
    * leaf (the fingerprint map runs here, and only over rows the store does
    * not hold) and the snapshot write, which runs only when the batch leaf
    * measured a row. No count of the input and no emptiness probe. */
  private[graft] def commit(pages: DataFrame, store: IcebergShaped.Table,
                            cfg: GraftConfig): Committed = {
    val spark = pages.sparkSession
    // snapshots committed while signature rows still carried the
    // full-document MinHash hold an extra `minhash` column (same config_fp):
    // no reader wants it, so it leaves at the scan and no leaf holds it. The
    // read lists the store's files (a job of its own) before the commit, so
    // every later scan of `stored` sees exactly the pre-commit snapshots.
    val stored =
      if (store.isEmpty) None
      else Some(Pipeline.labeled(spark, "graft: incr live keys")(store.read(spark))
        .drop("minhash").filter(col("config_fp") === cfg.configFp))
    val decisions = Pipeline.leaf(spark, "graft: incr live keys")(keyDecisions(pages, stored, cfg))
    val (nCommit, skipped, batchCopies, nLive, liveCopies) =
      if (Pipeline.leafSize(decisions)._1 == 0) (0L, 0L, false, 0L, false)
      else Pipeline.labeled(spark, "graft: incr live keys") {
        // one partition: the aggregate then needs no exchange, so it is one job
        val r = decisions.coalesce(1).agg(count(col("__c")), count(when(col("__c") === 2, 1)),
          count(when(col("__c") === 1, 1)), count(col("__t")), count(when(col("__t") === 1, 1))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2) > 0, r.getLong(3), r.getLong(4) > 0)
      }
    // Rule 1 ONLY before the commit (per-url newest + duplicate-record
    // collapse): case-variant (rule 2) losers MUST be fingerprinted and
    // committed, because a later batch can add an OLDER variant that
    // changes the cross-increment case election — dropping them here made
    // the surviving variant depend on batch boundaries (round-5 review).
    // The live view applies the case rule across everything committed.
    val todo =
      if (nCommit == 0) pages
      else Fingerprints.applyUrlElection(pages,
        decisions.filter(col("__c").isNotNull)
          .select(col("url"), col("warc_ts"), (col("__c") === 1).cast("int").as("__t")),
        collapse = batchCopies)
    // default-mode commits drop the dead-weight shingle/sample arrays —
    // config_fp keys the store, so each config's snapshots stay schema-stable
    val fresh = Pipeline.leaf(spark, "graft: incr sig commit") {
      Fingerprints.pruneForMode(Fingerprints.fromPagesPreDeduped(todo, cfg), cfg)
    }
    val added = Pipeline.leafSize(fresh)._1
    if (added > 0) Pipeline.labeled(spark, "graft: incr sig commit") {
      // cluster by the partition column before the partitionBy write: each
      // part_id then lands as ONE file instead of one per write task
      store.commit(fresh.repartition(col("part_id")), cfg.configFp,
        if (stored.isEmpty) "overwrite" else "append")
    }
    val live = if (nLive == 0) None
      else Some(decisions.filter(col("__t").isNotNull).select("url", "warc_ts", "__t"))
    Committed(stored, fresh, live, liveCopies, added + skipped, added)
  }

  /** The increment's one key pass: the stored keys of the config (every
    * language — the resume must see every row it could skip) and the batch's
    * keys, in one slim shuffle by lower(url), where both elections run
    * ([[Fingerprints.rankUrlKeys]]). Returns the keys with a decision:
    *  - `__c`, the commit's, for batch keys: 0 = a rule-1 loser within the
    *    batch, 2 = a rule-1 winner whose content_id (url plus epoch millis)
    *    is already stored (resumed, not written), 1 = a new winner held by
    *    more than one batch record (collapsed to one row). A new winner held
    *    once has no commit decision.
    *  - `__t`, the live view's ([[Fingerprints.electUrlKeys]] over every
    *    stored row that passes `langFilter` plus the batch's new winners that
    *    pass it): 0 = loses rule 1 or 2, 1 = survives but is held by several
    *    stored records.
    * A batch key already stored is counted once: its stored copies stand for
    * it, so a resumed batch never makes a "duplicated" key. */
  private def keyDecisions(pages: DataFrame, stored: Option[DataFrame],
                           cfg: GraftConfig): DataFrame = {
    val inLang = cfg.langFilter.fold(lit(true))(ls => col("lang").isin(ls.toSeq: _*))
    def keysOf(rows: DataFrame, fromStore: Boolean): DataFrame =
      rows.select(col("url"), col("warc_ts"), lower(col("url")).as("__lu"),
        lit(fromStore).as("__s"), inLang.as("__in"))
    val keys = stored.fold(keysOf(pages, fromStore = false))(s =>
        keysOf(s, fromStore = true).unionByName(keysOf(pages, fromStore = false)))
      .repartition(col("__lu"))
      .groupBy(col("__lu"), col("url"), col("warc_ts"))
      .agg(count(when(col("__s"), 1)).as("__sc"),
        count(when(col("__s") && col("__in"), 1)).as("__sl"),
        count(when(!col("__s"), 1)).as("__bc"),
        count(when(!col("__s") && col("__in"), 1)).as("__bl"))
    val inBatch = col("__bc") > 0
    // every window below partitions by a superset of __lu: no further shuffle
    val batch = Fingerprints.rankUrlKeys(keys, caseRule = false, Some(inBatch))
      .withColumn("__old", max(col("__sc")).over(Window.partitionBy(
        col("__lu"), col("url"), unix_millis(col("warc_ts")))) > 0)
      .withColumn("__c", when(inBatch,
        when(col("__lost"), 0).when(col("__old"), 2).when(col("__bc") > 1, 1)))
      .withColumn("__copies", col("__sl") +
        when(inBatch && !col("__lost") && !col("__old") && col("__bl") > 0, 1).otherwise(0))
      .drop("__lost")
    Fingerprints.rankUrlKeys(batch, caseRule = true, Some(col("__copies") > 0))
      .select(col("url"), col("warc_ts"), col("__c"),
        when(col("__lost"), 0).when(col("__copies") > 1, 1).as("__t"))
      .filter(col("__c").isNotNull || col("__t").isNotNull)
  }

  /** The read half: the live signature rows under `cfg` after `c`, as a
    * measured checkpoint leaf — the stored rows listed before the commit
    * plus the batch leaf, honoring cfg.langFilter, minus the live keys that
    * lose the url election ([[keyDecisions]]).
    *
    * Stale-config rows remain as history in older snapshots but are not
    * live. The url election runs across every committed row, whatever batch
    * it arrived in: rule 1 (newest warc_ts per url; a re-crawled url gets a
    * fresh content_id and is appended, so without it the old capture would
    * stay live beside the new one) and rule 2 (F1: earliest (warc_ts, url)
    * per lower(url) among the rule-1 winners). Running rule 2 per batch
    * before the commit would discard a variant a later batch's OLDER twin
    * needs to lose against. The view also honors cfg.langFilter (S2, the one
    * rule in [[Pipeline.scan]]): rows committed by an unfiltered earlier
    * config are config-compatible (langFilter is not fingerprint-affecting),
    * so the store side must filter too or an incremental run clusters
    * languages a one-shot run excludes.
    *
    * Live rows are unique per (url, warc_ts) within one config_fp — the
    * commit skips a stored content_id, a function of the key — so duplicated
    * keys never occur in a store written by [[commit]]; if some writer put
    * them there, the copies collapse to one row
    * ([[Fingerprints.applyUrlElection]]) and only then does a second payload
    * pass run. Columns come in the order of a store read: the stored frame's
    * when the store had files, else the batch leaf's with part_id last. */
  private[graft] def liveView(c: Committed, cfg: GraftConfig): DataFrame = {
    val fresh = c.fresh.select((c.fresh.columns.filter(_ != "part_id") :+ "part_id").map(col): _*)
    val rows = Pipeline.scan(
      c.stored.fold(fresh)(_.unionByName(fresh, allowMissingColumns = true)), cfg)
    Pipeline.leaf(c.fresh.sparkSession, "graft: incr live view") {
      c.liveDecisions.fold(rows)(Fingerprints.applyUrlElection(rows, _, c.collapse))
    }
  }
}
