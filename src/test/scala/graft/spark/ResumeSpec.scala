package graft.spark

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftConfig
import graft.data.CorpusSpark
import graft.store.IcebergShaped

/** Resume / idempotence gates (SURVEY §5.5): half-then-full == one-shot;
  * unchanged rerun does zero fingerprint work; config change invalidates. */
class ResumeSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val cfg = GraftConfig()

  private def tmpStore(): IcebergShaped.Table =
    IcebergShaped.table(Files.createTempDirectory("graft-store").toString)

  test("half-then-full equals one-shot; second half skips first half's work") {
    val store = tmpStore()
    val half = CorpusSpark.pages(spark, 400L, 4, cfg.seed)
    val full = CorpusSpark.pages(spark, 800L, 4, cfg.seed)

    // the commit path applies rule 1 only (per-url newest); case-variant
    // twins ARE fingerprinted and committed — the live view elects among
    // them across increments (batch-split invariance) — so the counts cover
    // every distinct url, twins included
    val r1 = Resume.incrementalFingerprints(half, store, cfg)
    assert(r1.newlyFingerprinted === 400L)
    assert(r1.skipped === 0L)

    val r2 = Resume.incrementalFingerprints(full, store, cfg)
    assert(r2.skipped === r1.newlyFingerprinted)
    assert(r2.newlyFingerprinted + r2.skipped === 800L)

    // equivalence with one-shot fingerprints
    val oneShot = Fingerprints.fromPages(full, cfg).toDF()
    val a = r2.signatures.select("url", "content_id", "simhash_head", "text_md5")
      .orderBy("url").collect().toSeq
    val b = oneShot.select("url", "content_id", "simhash_head", "text_md5")
      .orderBy("url").collect().toSeq
    assert(a === b)
  }

  test("unchanged rerun fingerprints nothing (cache hit across the board)") {
    val store = tmpStore()
    val pages = CorpusSpark.pages(spark, 300L, 4, cfg.seed)
    Resume.incrementalFingerprints(pages, store, cfg)
    val again = Resume.incrementalFingerprints(pages, store, cfg)
    assert(again.newlyFingerprinted === 0L)
    assert(again.skipped > 0L)
  }

  test("config change invalidates: full recompute under the new fingerprint") {
    val store = tmpStore()
    val pages = CorpusSpark.pages(spark, 200L, 4, cfg.seed)
    Resume.incrementalFingerprints(pages, store, cfg)
    val cfg2 = cfg.copy(k = 5)
    val r = Resume.incrementalFingerprints(pages, store, cfg2)
    assert(r.skipped === 0L)
    assert(r.newlyFingerprinted > 0L)
    assert(r.signatures.filter(col("config_fp") =!= cfg2.configFp).count() === 0)
  }

  test("store: snapshot chain, lineage, atomic pointer, rollback") {
    val store = tmpStore()
    val pages = CorpusSpark.pages(spark, 200L, 4, cfg.seed)
    Resume.incrementalFingerprints(pages, store, cfg)
    val v0 = store.currentVersion.get
    val snap0 = store.currentSnapshot.get
    assert(snap0.operation === "overwrite")
    assert(snap0.totalRows === snap0.addedRows)

    val more = CorpusSpark.pages(spark, 400L, 4, cfg.seed)
    Resume.incrementalFingerprints(more, store, cfg)
    val snap1 = store.currentSnapshot.get
    assert(snap1.parentId.contains(snap0.snapshotId))
    assert(snap1.totalRows === snap0.totalRows + snap1.addedRows)

    // per-partition lineage rows sum to the total
    val lineageRows = store.lineage(spark)
      .agg(sum("rows")).head().getLong(0)
    assert(lineageRows === snap1.totalRows)

    // rollback is metadata-only time travel
    store.rollback(v0)
    assert(store.currentSnapshot.get.snapshotId === snap0.snapshotId)
    assert(store.read(spark).count() === snap0.totalRows)
  }

  test("expression content_id matches the Scala contentId") {
    import spark.implicits._
    val pages = CorpusSpark.pages(spark, 50L, 2, cfg.seed)
    val viaExpr = pages.withColumn("cid", Resume.contentIdCol)
      .select("url", "cid").as[(String, String)].collect().toMap
    val viaScala = pages.select("url", "warc_ts")
      .as[(String, java.sql.Timestamp)].collect()
      .map { case (u, ts) => u -> Fingerprints.contentId(u, ts) }.toMap
    assert(viaExpr === viaScala)
  }

  test("mode switch on a shared store: pruned rows never satisfy a " +
    "full-payload resume, and the mixed-schema store stays readable") {
    val store = tmpStore()
    val pages = CorpusSpark.pages(spark, 200L, 4, cfg.seed)
    // default mode commits PRUNED rows (no shingles_head/tail/ss_keys)
    Resume.incrementalFingerprints(pages, store, cfg)
    assert(!store.read(spark).columns.contains("shingles_head"))
    // exact mode must NOT reuse them (payload marker splits the config_fp):
    // a reuse here would hand Pairs.verifyJoin rows with no shingle columns
    val cfgX = cfg.copy(exactVerify = true)
    val r = Resume.incrementalFingerprints(pages, store, cfgX)
    assert(r.skipped === 0L)
    assert(r.newlyFingerprinted > 0L)
    // the store now holds snapshots of BOTH schemas; the live read must
    // still work and the exact-config rows must carry their shingle payload
    val live = r.signatures.filter(col("config_fp") === cfgX.configFp)
    assert(live.columns.contains("shingles_head"))
    assert(live.filter(col("reject_reason").isNull)
      .filter(col("shingles_head").isNull).count() === 0L)
  }

  test("case-variant twin arriving in a LATER increment does not stay " +
    "live alongside its earlier parent (one-shot F1 rule across batches)") {
    import spark.implicits._
    import java.sql.Timestamp
    def batch(url: String, ts: String) = Seq(
      (url, Timestamp.valueOf(ts),
       "<p>same text body for both case variants of this page</p>".getBytes("UTF-8"),
       "same text body for both case variants of this page", "en")
    ).toDF("url", "warc_ts", "html", "text", "lang")
    val store = tmpStore()
    Resume.incrementalFingerprints(batch("https://ex.org/Page", "2026-01-01 00:00:00"), store, cfg)
    val r2 = Resume.incrementalFingerprints(batch("HTTPS://EX.ORG/PAGE", "2026-01-02 00:00:00"), store, cfg)
    val liveUrls = r2.signatures.select("url").collect().map(_.getString(0)).toSeq
    assert(liveUrls === Seq("https://ex.org/Page"),
      "the earlier parent wins per lower(url); the late twin must not be live")
  }

  test("live view honors langFilter: store rows of excluded languages are " +
    "not clustered by an incremental run") {
    import spark.implicits._
    import java.sql.Timestamp
    val rows = Seq(
      ("https://l/en", Timestamp.valueOf("2026-01-01 00:00:00"), "english text here", "en"),
      ("https://l/de", Timestamp.valueOf("2026-01-01 00:00:00"), "deutscher text hier", "de"))
      .map { case (u, t, x, l) => (u, t, ("<p>" + x + "</p>").getBytes("UTF-8"), x, l) }
      .toDF("url", "warc_ts", "html", "text", "lang")
    val store = tmpStore()
    Resume.incrementalFingerprints(rows, store, cfg) // unfiltered commit
    val cfgDe = cfg.copy(langFilter = Some(Set("de")))
    val r = Resume.incrementalFingerprints(rows.filter(col("lang") === "de"), store, cfgDe)
    val live = r.signatures.select("url").collect().map(_.getString(0)).toSeq
    assert(live === Seq("https://l/de"), "en store row must not be live under --langs de")
  }


  /** The pre-key-space live view, kept here as the oracle: two row_number
    * windows over the full store rows (rule 1 by url, newest first; rule 2
    * by lower(url), earliest (warc_ts, url) first). */
  private def windowElection(store: IcebergShaped.Table, c: GraftConfig) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("url"))
      .orderBy(col("warc_ts").desc, col("content_id").desc)
    val wCase = Window.partitionBy(lower(col("url"))).orderBy(col("warc_ts"), col("url"))
    val base = store.read(spark).filter(col("config_fp") === c.configFp)
    c.langFilter.fold(base)(ls => base.filter(col("lang").isin(ls.toSeq: _*)))
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
      .withColumn("_rc", row_number().over(wCase)).filter(col("_rc") === 1).drop("_rc")
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  test("key-space live view equals the window election: re-crawls, case " +
      "variants out of order across batches, langFilter, mixed configs") {
    import spark.implicits._
    val store = tmpStore()
    val pages = CorpusSpark.pages(spark, 480L, 4, cfg.seed)
    // Corpus plants case-variant urls (an upper-case spelling of a parent
    // url, captured after it); batch 1 takes every variant but NOT its
    // parent, so the earlier parent arrives a batch later and must win
    val isVariant = col("url") =!= lower(col("url"))
    val variantKeys = pages.filter(isVariant).select(lower(col("url"))).as[String].collect()
    val parentOfVariant = !isVariant && lower(col("url")).isin(variantKeys.toSeq: _*)
    val b1 = pages.filter(col("url") < "https://example.org/s10" && !parentOfVariant)
    val b2 = pages.filter(col("url") >= "https://example.org/s10" || parentOfVariant)
    // re-crawls of a third of batch 1, one day later
    val b3 = b1.filter(xxhash64(col("url")) % 3 === 0)
      .withColumn("warc_ts", timestamp_millis(unix_millis(col("warc_ts")) + 86400000L))
    assert(b1.filter(isVariant).count() > 0 && b3.count() > 0)

    val cfgK5 = cfg.copy(k = 5)
    val langs = cfg.copy(langFilter = Some(Set("en", "de")))
    Resume.incrementalFingerprints(b1, store, cfg)
    // a different config's rows share the store, re-crawls included
    Resume.incrementalFingerprints(b3.limit(40), store, cfgK5)
    for ((batch, i) <- Seq(b2, b3).zipWithIndex) {
      val live = Resume.incrementalFingerprints(batch, store, cfg).signatures
      assert(sortedRows(live, live.columns) ===
        sortedRows(windowElection(store, cfg), live.columns), s"after batch ${i + 2}")
    }
    val filtered = Resume.incrementalFingerprints(b3, store, langs).signatures
    assert(sortedRows(filtered, filtered.columns) ===
      sortedRows(windowElection(store, langs), filtered.columns))
    assert(filtered.filter(!col("lang").isin("en", "de")).count() === 0)
    val other = Resume.incrementalFingerprints(b3.limit(40), store, cfgK5).signatures
    assert(sortedRows(other, other.columns) ===
      sortedRows(windowElection(store, cfgK5), other.columns))
  }

  test("duplicated store keys collapse to one live row (never both copies)") {
    val store = tmpStore()
    val pages = CorpusSpark.pages(spark, 120L, 4, cfg.seed)
    val first = Resume.incrementalFingerprints(pages, store, cfg).signatures
    val liveUrls = first.count()
    // a writer that bypasses the content_id anti-join: the same rows again
    store.commit(store.read(spark).filter(col("url") < "https://example.org/s02"),
      cfg.configFp, "append")
    val live = Resume.incrementalFingerprints(pages.limit(0), store, cfg).signatures
    assert(live.count() === liveUrls)
    assert(live.groupBy("url").count().filter(col("count") > 1).count() === 0)
    assert(sortedRows(live, live.columns) === sortedRows(first, live.columns))
  }

  test("each commit writes one parquet file per part_id dir") {
    import scala.jdk.CollectionConverters._
    val store = tmpStore()
    Resume.incrementalFingerprints(CorpusSpark.pages(spark, 300L, 4, cfg.seed), store, cfg)
    Resume.incrementalFingerprints(CorpusSpark.pages(spark, 600L, 4, cfg.seed), store, cfg)
    val snaps = store.liveFilesTagged.map(_._1.snapshotId).distinct
    assert(snaps.size === 2, "a base and one append")
    def list(p: java.nio.file.Path) = {
      val s = Files.list(p)
      try s.iterator().asScala.toList finally s.close()
    }
    val partDirs = store.liveFiles.map(f => java.nio.file.Paths.get(f.path))
    assert(partDirs.size > 2 * 4, "rows should spread over many part_id dirs")
    partDirs.foreach { d =>
      val files = list(d).map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      assert(files.size === 1, s"$d holds ${files.size} parquet files")
    }
  }

  /** The file locations of the executed scans under `dir`, one entry per
    * scan node, among the queries `body` runs — the listener method of
    * BandStoreSpec: scan nodes come from the SQL plan events (the initial
    * plan and every adaptive re-plan), and a scan counts once when some task
    * updated one of its metrics. */
  private def scansUnder(dir: String)(body: => Unit): Seq[String] = {
    val scanOfMetric = new ConcurrentHashMap[Long, (Long, String)]() // metric id -> scan
    val updated = ConcurrentHashMap.newKeySet[Long]()
    def collect(p: SparkPlanInfo): Unit = {
      p.metadata.get("Location").filter(_.contains(dir)).foreach { loc =>
        if (p.metrics.nonEmpty) {
          val key = p.metrics.map(_.accumulatorId).min
          p.metrics.foreach(m => scanOfMetric.put(m.accumulatorId, (key, loc)))
        }
      }
      p.children.foreach(collect)
    }
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => collect(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => collect(u.sparkPlanInfo)
        case _ =>
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        t.taskInfo.accumulables.foreach(a => updated.add(a.id))
    }
    val sc = spark.sparkContext
    org.apache.spark.graftclock.TaskClock.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftclock.TaskClock.drain(sc)
    } finally sc.removeSparkListener(listener)
    scanOfMetric.asScala.collect { case (m, scan) if updated.contains(m) => scan }
      .toSeq.distinct.map(_._2)
  }

  test("an increment scans the store's data twice (keys, payload) and never " +
      "reads back the snapshot it commits") {
    val store = tmpStore()
    val base = CorpusSpark.pages(spark, 320L, 4, cfg.seed)
    Resume.incrementalFingerprints(base, store, cfg)
    assert(store.liveFilesTagged.map(_._1.snapshotId).distinct.size === 1)
    // new pages plus re-crawls of base pages: rows to commit and stored keys
    // that lose the election
    val batch = CorpusSpark.pages(spark, 480L, 4, cfg.seed)
      .join(base.select("url"), Seq("url"), "left_anti")
      .unionByName(base.filter(pmod(xxhash64(col("url")), lit(8)) === 0)
        .withColumn("warc_ts", timestamp_millis(unix_millis(col("warc_ts")) + lit(86400000L))))
    val scans = scansUnder(store.root + "/data/") {
      val r = Resume.incrementalFingerprints(batch, store, cfg)
      assert(r.newlyFingerprinted > 0L)
    }
    val committed = store.currentSnapshot.get.files.map(f =>
      java.nio.file.Paths.get(f.path).getParent.getFileName.toString).distinct
    assert(committed.size === 1)
    assert(scans.size <= 2, s"the increment scanned the store ${scans.size} times")
    assert(!scans.exists(_.contains(committed.head)),
      s"the increment read back its own snapshot ${committed.head}")
  }
}
