package graft.spark

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.core.GraftConfig
import graft.data.CorpusSpark
import graft.store.IcebergShaped

/** The band relation is persisted in the store between scoped increments,
  * and a later increment's candidate generation READS it instead of
  * re-exploding the full rep set.
  *
  * The load-bearing pin is the poison test: after increment 1, the committed
  * band rows of ONE old rep are removed from the band table. If increment 2
  * re-derived bands from the rep set (the old behavior), the poisoned url
  * would still band-join with the increment's new near-duplicate and the
  * pair would appear; because banding is store-backed, the pair cannot be
  * proposed. A fresh-explode implementation fails this test.
  *
  * A missing table is rebuilt from the previous generation's reps: the
  * increment reads their explode in its place and rewrites the table; the
  * rebuild test pins that the increment then equals the intact chain's. A previous generation with no reps leaves the table
  * empty (an empty write lists no files); the empty-chain test pins that the
  * next increments still run and equal a one-shot run.
  *
  * The scan-count test pins that an increment reads the table ONCE: one
  * band relation feeds the stale-key expansion, the delta join and the
  * table update.
  */
class BandStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val cfg = GraftConfig()

  private def tmpStore(): IcebergShaped.Table =
    IcebergShaped.table(Files.createTempDirectory("graft-store").toString)

  test("increment 1 commits the rep band relation beside the signature store") {
    val store = tmpStore()
    val base = CorpusSpark.pages(spark, 320L, 4, cfg.seed)
    val (r1, _, st1) = Pipeline.runIncrementalScoped(base, store, None, cfg)

    val bandsTable = IcebergShaped.table(store.root + "/bands")
    assert(!bandsTable.isEmpty, "first generation must commit the band table")
    val stored = bandsTable.read(spark)
      .filter(col("config_fp") === cfg.configFp)
      .select("url", "band_id", "key")
    val expected = Candidates.bandKeysByUrl(st1.reps, cfg)
    assert(stored.count() === expected.count())
    assert(stored.exceptAll(expected).isEmpty && expected.exceptAll(stored).isEmpty,
      "stored band rows must equal a fresh explode of the rep set")
    assert(r1.clusters.count() > 0)
  }

  test("a second increment reads bands from the store: poisoned rows change " +
    "candidates, proving no full-corpus re-explode") {
    // pick an increment shape where a NEW doc near-dups an OLD rep: rows
    // 0..15 include base 1 and its NearDupSmall variant at row 11 (16k + 11
    // layout) — base goes in increment 1, the variant arrives in increment 2
    val all = CorpusSpark.pages(spark, 32L, 2, cfg.seed)
    val variantUrl = graft.data.Corpus.urlOf(11L) // NearDupSmall of row 1
    val parentUrl = graft.data.Corpus.urlOf(1L)
    val base = all.filter(col("url") =!= variantUrl)

    def runSplit(poison: Boolean): Set[(String, String)] = {
      val store = tmpStore()
      val (_, _, st1) = Pipeline.runIncrementalScoped(base, store, None, cfg)
      if (poison) {
        // remove the PARENT's band rows from the committed relation — a
        // store-backed increment can then never propose (parent, variant)
        val bandsTable = IcebergShaped.table(store.root + "/bands")
        bandsTable.delete(spark, col("url") === parentUrl)
      }
      val (r2, _, _) = Pipeline.runIncrementalScoped(all, store, Some(st1), cfg)
      r2.pairs.filter(col("matched")).select("url_a", "url_b")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    }

    val clean = runSplit(poison = false)
    assert(clean.contains((parentUrl, variantUrl)),
      s"fixture broken: expected ($parentUrl, $variantUrl) to match")

    val poisoned = runSplit(poison = true)
    assert(!poisoned.contains((parentUrl, variantUrl)),
      "with the parent's band rows removed from the store, the pair must not " +
        "be proposed — if this fails, the increment re-exploded the full rep " +
        "set instead of reading the stored band relation")
  }

  test("append-path store maintenance: after increment 2 the table equals a " +
    "fresh explode of the CURRENT rep set") {
    val store = tmpStore()
    val base = CorpusSpark.pages(spark, 320L, 4, cfg.seed)
    val full = CorpusSpark.pages(spark, 480L, 4, cfg.seed)
    val (_, _, st1) = Pipeline.runIncrementalScoped(base, store, None, cfg)
    val (_, _, st2) = Pipeline.runIncrementalScoped(full, store, Some(st1), cfg)

    val stored = IcebergShaped.table(store.root + "/bands").read(spark)
      .filter(col("config_fp") === cfg.configFp)
      .select("url", "band_id", "key")
    val expected = Candidates.bandKeysByUrl(st2.reps, cfg)
    assert(stored.exceptAll(expected).isEmpty && expected.exceptAll(stored).isEmpty,
      "after the append increment the stored relation must equal the current " +
        "rep set's bands (new reps appended, nothing lost)")
  }

  test("a wiped band table is rebuilt before the increment: pairs and " +
    "clusters equal the intact chain's and the table ends current") {
    import graft.data.Render
    val base = CorpusSpark.pages(spark, 320L, 4, cfg.seed)
    // increment: 160 new pages plus a re-crawl of a base rep with new text,
    // so the increment has stale reps as well as new ones
    val victim = graft.data.Corpus.urlOf(0L)
    val newText = (0 until 300).map(i => f"recrawl$i%05d").mkString(" ")
    val full = CorpusSpark.pages(spark, 480L, 4, cfg.seed)
    val current = full.filter(col("url") =!= victim).unionByName(
      full.filter(col("url") === victim)
        .withColumn("warc_ts",
          timestamp_millis(unix_millis(col("warc_ts")) + lit(86400000L)))
        .withColumn("html", lit(Render.html(newText, 3L)))
        .withColumn("text", lit(newText)))

    def sortedRows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq

    def chain(wipe: Boolean): (Seq[String], Seq[String], Pipeline.IncState, IcebergShaped.Table) = {
      val store = tmpStore()
      val (_, _, st1) = Pipeline.runIncrementalScoped(base, store, None, cfg)
      assert(!st1.reps.filter(col("url") === victim).isEmpty,
        s"fixture broken: $victim must be a base rep")
      val bandsTable = IcebergShaped.table(store.root + "/bands")
      if (wipe) {
        bandsTable.delete(spark, lit(true))
        assert(bandsTable.isEmpty, "fixture broken: the band table must be empty")
      }
      val (r2, _, st2) = Pipeline.runIncrementalScoped(current, store, Some(st1), cfg)
      (sortedRows(r2.pairs), sortedRows(r2.clusters), st2, bandsTable)
    }

    val (intactPairs, intactClusters, _, _) = chain(wipe = false)
    val (pairs, clusters, st2, bandsTable) = chain(wipe = true)
    assert(pairs === intactPairs)
    assert(clusters === intactClusters)

    val stored = bandsTable.read(spark)
      .filter(col("config_fp") === cfg.configFp)
      .select("url", "band_id", "key")
    val expected = Candidates.bandKeysByUrl(st2.reps, cfg)
    assert(stored.exceptAll(expected).isEmpty && expected.exceptAll(stored).isEmpty,
      "after the rebuild and the increment the stored relation must equal the " +
        "current rep set's bands")
  }

  test("a chain whose first generations have no reps runs: empty batches " +
    "commit no band files, and the next non-empty increment equals a " +
    "one-shot run") {
    val pages = CorpusSpark.pages(spark, 320L, 4, cfg.seed)
    val store = tmpStore()
    val bandsTable = IcebergShaped.table(store.root + "/bands")
    val (_, _, st1) = Pipeline.runIncrementalScoped(pages.limit(0), store, None, cfg)
    assert(st1.reps.isEmpty && bandsTable.isEmpty,
      "fixture broken: an empty first generation must leave the band table empty")
    // a second empty generation reads (and rebuilds) the empty table too
    val (_, _, st2) = Pipeline.runIncrementalScoped(pages.limit(0), store, Some(st1), cfg)
    assert(bandsTable.isEmpty)
    val (r3, _, st3) = Pipeline.runIncrementalScoped(pages, store, Some(st2), cfg)
    val oneShot = Pipeline.run(pages, cfg)

    def sortedRows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(r3.pairs.filter(col("matched")).count() > 0, "fixture broken: no matched pairs")
    assert(sortedRows(r3.pairs) ===
      sortedRows(oneShot.pairs.select(r3.pairs.columns.map(col): _*)))
    assert(sortedRows(r3.clusters) ===
      sortedRows(oneShot.clusters.select(r3.clusters.columns.map(col): _*)))

    val stored = bandsTable.read(spark)
      .filter(col("config_fp") === cfg.configFp)
      .select("url", "band_id", "key")
    val expected = Candidates.bandKeysByUrl(st3.reps, cfg)
    assert(stored.exceptAll(expected).isEmpty && expected.exceptAll(stored).isEmpty,
      "after the first non-empty increment the stored relation must equal the " +
        "current rep set's bands")
  }

  /** Executed file scans whose files lie under `dir`, among the queries
    * `body` runs. Scan nodes come from the SQL plan events (the initial plan
    * and every adaptive re-plan); a scan counts once when some task updated
    * one of its metrics, so a re-planned scan that never ran is not
    * counted. */
  private def scansUnder(dir: String)(body: => Unit): Int = {
    val scanOfMetric = new ConcurrentHashMap[Long, Long]() // metric id -> scan key
    val updated = ConcurrentHashMap.newKeySet[Long]()
    def collect(p: SparkPlanInfo): Unit = {
      if (p.metadata.get("Location").exists(_.contains(dir)) && p.metrics.nonEmpty) {
        val key = p.metrics.map(_.accumulatorId).min
        p.metrics.foreach(m => scanOfMetric.put(m.accumulatorId, key))
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
    scanOfMetric.asScala.collect { case (m, key) if updated.contains(m) => key }.toSet.size
  }

  test("a stale increment scans the band table once") {
    import graft.data.Render
    val store = tmpStore()
    val base = CorpusSpark.pages(spark, 320L, 4, cfg.seed)
    // increment: 160 new pages plus a re-crawl of a base rep with new text,
    // so the increment has stale reps as well as new ones
    val victim = graft.data.Corpus.urlOf(0L)
    val newText = (0 until 300).map(i => f"recrawl$i%05d").mkString(" ")
    val full = CorpusSpark.pages(spark, 480L, 4, cfg.seed)
    val current = full.filter(col("url") =!= victim).unionByName(
      full.filter(col("url") === victim)
        .withColumn("warc_ts",
          timestamp_millis(unix_millis(col("warc_ts")) + lit(86400000L)))
        .withColumn("html", lit(Render.html(newText, 3L)))
        .withColumn("text", lit(newText)))
    val (_, _, st1) = Pipeline.runIncrementalScoped(base, store, None, cfg)
    assert(!st1.reps.filter(col("url") === victim).isEmpty,
      s"fixture broken: $victim must be a base rep")

    val scans = scansUnder(store.root + "/bands/") {
      Pipeline.runIncrementalScoped(current, store, Some(st1), cfg)
    }
    assert(scans === 1, s"the increment scanned the band table $scans times")
  }
}
