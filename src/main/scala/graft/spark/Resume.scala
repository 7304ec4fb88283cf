package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
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
  * Two halves, each usable alone:
  *  - [[commit]] (write after compute): rule-1 dedup of the batch, anti-join
  *    on content_id, fingerprint the rest, append one snapshot. Rows are
  *    clustered by part_id before the write, so every commit adds exactly
  *    one parquet file per part_id dir it touches — store scans open a few
  *    files per snapshot, not one per write task per part.
  *  - [[liveView]] (read before compute): the rows clustering sees — the
  *    current config's store rows with the url election (rule 1, then rule
  *    2) applied across every committed batch. The election runs in url-KEY
  *    space ([[Fingerprints.electUrlKeys]], the one-shot dedup's own rules):
  *    only (url, warc_ts) keys are ranked, and the losing keys leave the
  *    store scan in one broadcast left-anti join, so no MinHash or band array
  *    crosses a shuffle and an increment's shuffle tracks the increment, not
  *    the corpus.
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

  /** What one [[commit]] did: the fingerprinted frame it wrote (lazy; its
    * schema is the store's), the batch's rule-1 row count, and the rows
    * added. */
  private[graft] final case class Committed(sigs: DataFrame, total: Long, added: Long)

  /** Fingerprint pages incrementally against `store`, append only new rows,
    * and return the live view after the commit. */
  def incrementalFingerprints(
      pages: DataFrame,
      store: IcebergShaped.Table,
      cfg: GraftConfig): IncrementalResult = {
    val c = commit(pages, store, cfg)
    val live = if (store.isEmpty) c.sigs.limit(0) else liveView(pages.sparkSession, store, cfg)
    IncrementalResult(live, c.added, skipped = c.total - c.added)
  }

  /** The write half. The anti-join runs on (content_id, config_fp) BEFORE
    * the expensive fingerprint map, so cached rows cost one hash + one join
    * probe. Driver-job budget: one count of the (cheap, pre-fingerprint)
    * input, one emptiness probe on re-runs, and the commit itself. */
  private[graft] def commit(pages: DataFrame, store: IcebergShaped.Table,
                            cfg: GraftConfig): Committed = {
    val spark = pages.sparkSession
    // Rule 1 ONLY before the commit (per-url newest + duplicate-record
    // collapse): case-variant (rule 2) losers MUST be fingerprinted and
    // committed, because a later batch can add an OLDER variant that
    // changes the cross-increment case election — dropping them here made
    // the surviving variant depend on batch boundaries (round-5 review).
    // The live view applies the case rule across everything committed.
    val withId = Fingerprints.dropRecrawlDuplicateUrlsEager(pages)
      .withColumn("content_id", contentIdCol)
    val total = Pipeline.labeled(spark, "graft: incr input count") { withId.count() }
    val firstRun = store.isEmpty

    val todo =
      if (firstRun) withId
      else {
        // the read lists the store's files in a job of its own
        val existing = Pipeline.labeled(spark, "graft: incr sig commit")(store.read(spark))
          .filter(col("config_fp") === cfg.configFp)
          .select(col("content_id"))
        withId.join(existing, Seq("content_id"), "left_anti")
      }

    // default-mode commits drop the dead-weight shingle/sample arrays —
    // config_fp keys the store, so each config's snapshots stay schema-stable.
    // PreDeduped entry: withId already ran the rule-1 recrawl dedup (and the
    // case rule must NOT run pre-commit); the plain fromPages would apply
    // the full two-rule window inside the commit job.
    val newSigs = Fingerprints.pruneForMode(
      Fingerprints.fromPagesPreDeduped(todo.drop("content_id"), cfg).toDF(), cfg)
    // cluster by the partition column before the partitionBy write: each
    // part_id then lands as ONE file instead of one per write task
    val clustered = newSigs.repartition(col("part_id"))
    val added = Pipeline.labeled(spark, "graft: incr sig commit") {
      if (firstRun) store.commit(clustered, cfg.configFp, "overwrite").addedRows
      else if (!todo.isEmpty) store.commit(clustered, cfg.configFp, "append").addedRows
      else 0L
    }
    Committed(newSigs, total, added)
  }

  /** The read half: the live signature rows of a non-empty `store` under
    * `cfg`, returned as a materialized checkpoint leaf.
    *
    * Stale-config rows remain as history in older snapshots but are not
    * live. The url election runs HERE and ONLY here for the incremental path
    * — across every committed row, whatever batch it arrived in: rule 1
    * (newest warc_ts per url; a re-crawled url gets a fresh content_id and
    * is appended, so without it the old capture would stay live beside the
    * new one) and rule 2 (F1: earliest (warc_ts, url) per lower(url) among
    * the rule-1 winners). Running rule 2 per batch before the commit would
    * discard a variant a later batch's OLDER twin needs to lose against.
    * The view also honors cfg.langFilter (S2, the one rule in
    * [[Pipeline.scan]]): rows committed by an unfiltered earlier config are
    * config-compatible (langFilter is not fingerprint-affecting), so the
    * store side must filter too or an incremental run clusters languages a
    * one-shot run excludes.
    *
    * Two eager labeled jobs, both before any consumer fans out:
    *  - the key-space decisions (losing keys, duplicated keys) over a slim
    *    (url, warc_ts) scan of the store, persisted and counted at once (the
    *    store read's file listing runs under the same label);
    *  - the live rows: ONE payload scan minus the losing keys (broadcast
    *    left-anti join), a checkpoint leaf ([[Pipeline.leaf]]), so every
    *    consumer reads the leaf instead of re-scanning the store.
    * Live rows are unique per (url, warc_ts) within one config_fp — the
    * commit anti-joins on content_id, a function of the key — so duplicated
    * keys never occur in a store written by [[commit]]; if some writer put
    * them there, the copies collapse to one row ([[Fingerprints.applyUrlElection]])
    * and only then does the second payload pass run. */
  private[graft] def liveView(spark: SparkSession, store: IcebergShaped.Table,
                              cfg: GraftConfig): DataFrame = {
    // snapshots committed while signature rows still carried the
    // full-document MinHash hold an extra `minhash` column (same config_fp):
    // no reader wants it, so it leaves at the scan and the leaf never holds it
    val stored = Pipeline.labeled(spark, "graft: incr live keys")(store.read(spark))
      .drop("minhash")
    val rows = Pipeline.scan(stored.filter(col("config_fp") === cfg.configFp), cfg)
    val decisions = Fingerprints.electUrlKeys(Fingerprints.urlKeysOf(rows), caseRule = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val duplicated = Pipeline.labeled(spark, "graft: incr live keys") {
        decisions.agg(coalesce(sum(col("__t")), lit(0L))).head().getLong(0)
      }
      Pipeline.leaf(spark, "graft: incr live view") {
        Fingerprints.applyUrlElection(rows, decisions, collapse = duplicated > 0)
      }
    } finally decisions.unpersist(false)
  }
}
