package graft.spark

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftConfig
import graft.data.{CorpusSpark, Render}
import graft.store.IcebergShaped

/** Incremental re-cluster SCOPED to affected components (SURVEY §2.10;
  * round-4 verdict "what's missing" #3): Pipeline.runIncrementalScoped must
  * produce the EXACT one-shot pairs table and cluster assignment while its
  * union-find input is bounded by the affected subgraph — the resume story's
  * scale tax at 10^12 docs removed. */
class IncrementalScopedSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val cfg = GraftConfig()

  private def tmpStore(): IcebergShaped.Table =
    IcebergShaped.table(Files.createTempDirectory("graft-store").toString)

  private def metric(res: Pipeline.Result, name: String): Long =
    res.metrics.filter(col("metric") === name).head().getLong(1)

  private def clusterRows(df: DataFrame): Seq[(String, String, Boolean)] =
    df.select("url", "cluster_id", "is_keeper").orderBy("url")
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))

  private def pairRows(df: DataFrame): Seq[(String, String, Int, Boolean)] =
    df.select("url_a", "url_b", "sim_bits", "matched").orderBy("url_a", "url_b")
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getBoolean(3)))

  test("substringPass increment warns when `pages` lacks live text, from the " +
      "live view's measured rows: no count job of its own") {
    val base = CorpusSpark.pages(spark, 240L, 4, cfg.seed)
    val batch = CorpusSpark.pages(spark, 300L, 4, cfg.seed)
      .join(base.select("url"), Seq("url"), "left_anti")
    /** (stderr of the increment over `pages`, its `graft: incr input count` jobs) */
    def increment(c: GraftConfig, pages: DataFrame): (String, Int) = {
      val store = tmpStore()
      val (_, _, st1) = Pipeline.runIncrementalScoped(base, store, None, c)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (j.properties.getProperty("spark.job.description") == "graft: incr input count")
            jobs.incrementAndGet()
      }
      val sc = spark.sparkContext
      val err = new java.io.ByteArrayOutputStream()
      val saved = System.err
      org.apache.spark.graftclock.TaskClock.drain(sc)
      sc.addSparkListener(listener)
      System.setErr(new java.io.PrintStream(err, true))
      try {
        Pipeline.runIncrementalScoped(pages, store, Some(st1), c)
        org.apache.spark.graftclock.TaskClock.drain(sc)
      } finally {
        System.setErr(saved)
        sc.removeSparkListener(listener)
      }
      (err.toString, jobs.get)
    }
    val warning = "substringPass on an incremental run"
    val ss = cfg.copy(substringPass = true)
    val (batchOnly, ssJobs) = increment(ss, batch)
    assert(batchOnly.contains(warning), "batch-only pages must warn")
    assert(!increment(ss, base.unionByName(batch))._1.contains(warning),
      "the live page source must not warn")
    assert(ssJobs === increment(cfg, batch)._2,
      "the warning must read the live view's row count, not count it")
  }

  test("append increment: scoped == one-shot; union-find input bounded by affected") {
    val store = tmpStore()
    val base = CorpusSpark.pages(spark, 600L, 4, cfg.seed)
    val full = CorpusSpark.pages(spark, 800L, 4, cfg.seed)

    val (_, _, st1) = Pipeline.runIncrementalScoped(base, store, None, cfg)
    val (r2, inc2, _) = Pipeline.runIncrementalScoped(full, store, Some(st1), cfg)
    assert(inc2.skipped > 0L, "second run must reuse the store's fingerprints")

    val oneShot = Pipeline.run(full, cfg)
    assert(clusterRows(r2.clusters) === clusterRows(oneShot.clusters),
      "scoped splice must reproduce the one-shot cluster assignment exactly")
    assert(pairRows(r2.pairs) === pairRows(oneShot.pairs),
      "kept-prev + delta must reproduce the one-shot pairs table exactly")

    // the scale contract: the spliced union-find saw only affected components
    // + delta edges, strictly less than the full matched graph, and most
    // previous clusters passed through untouched
    val totalMatched = metric(oneShot, "matched_pairs")
    assert(metric(r2, "recluster_edges") < totalMatched,
      "union-find input must be bounded by the affected subgraph, not the corpus")
    assert(metric(r2, "untouched_clusters") > 0L,
      "unaffected clusters must pass through without re-clustering")

    // one metrics builder serves both paths: every one-shot row is equal,
    // and the scoped run adds exactly the three splice rows
    def metricMap(res: Pipeline.Result): Map[String, Long] = {
      val rows = res.metrics.collect().map(r => r.getString(0) -> r.getLong(1))
      assert(rows.map(_._1).distinct.length === rows.length, "duplicate metric rows")
      rows.toMap
    }
    val shared = Set("signatures", "rejected", "extract_mismatches", "exact_groups",
      "candidate_pairs", "matched_pairs", "dup_clusters", "docs_in_dup_clusters")
    val splice = Set("recluster_edges", "affected_clusters", "untouched_clusters")
    val scopedM = metricMap(r2)
    val oneShotM = metricMap(oneShot)
    assert(oneShotM.keySet === shared)
    assert(scopedM.keySet === shared ++ splice)
    assert(scopedM.filter { case (k, _) => shared(k) } === oneShotM)
  }

  test("incremental cap invariance: under salted-triangle routing the delta " +
      "path's no-heavy short-circuit yields the heavy-routed pairs and clusters") {
    // the one-shot cap-invariance spec (HeavyKeyStrategySpec) never
    // reaches the Some(nu) delta branch of candidatePairs; a cap of 5 fires
    // the heavy routing there, an unbounded cap takes the no-heavy exit
    val base = GraftConfig(heavyKeyStar = false, heavyDetectSampleFrac = -1.0)
    def chain(c: GraftConfig) = {
      val store = tmpStore()
      val (_, _, st1) = Pipeline.runIncrementalScoped(
        CorpusSpark.pages(spark, 600L, 4, c.seed), store, None, c)
      val prevPairs = pairRows(st1.pairs).toSet
      val (r2, _, _) = Pipeline.runIncrementalScoped(
        CorpusSpark.pages(spark, 800L, 4, c.seed), store, Some(st1), c)
      (pairRows(r2.pairs).filterNot(prevPairs), clusterRows(r2.clusters))
    }
    val (deltaHeavy, clustersHeavy) = chain(base.copy(heavyBandKeyCap = 5))
    val (deltaFast, clustersFast) = chain(base.copy(heavyBandKeyCap = Int.MaxValue))
    assert(deltaFast.nonEmpty)
    assert(deltaFast === deltaHeavy)
    assert(clustersFast === clustersHeavy)
  }

  test("re-crawl changes content: stale pairs dropped, affected cluster re-solved") {
    import spark.implicits._
    val store = tmpStore()
    val base = CorpusSpark.pages(spark, 400L, 4, cfg.seed)

    val (r1, _, st1) = Pipeline.runIncrementalScoped(base, store, None, cfg)
    // pick a matched pair's second url as the re-crawl victim: changing its
    // text must break that edge (and possibly split its cluster)
    val victimRow = r1.pairs.filter(col("matched"))
      .select("url_a", "url_b").orderBy("url_a", "url_b").head()
    val victim = victimRow.getString(1)

    val newText = (0 until 300).map(i => f"recrawled$i%05d").mkString(" ")
    val recrawled = base.filter(col("url") === victim)
      .withColumn("warc_ts", timestamp_millis(unix_millis(col("warc_ts")) + lit(86400000L)))
      .withColumn("html", lit(Render.html(newText, 7L)))
      .withColumn("text", lit(newText))
    val current = base.filter(col("url") =!= victim).unionByName(recrawled)

    val (r2, _, _) = Pipeline.runIncrementalScoped(current, store, Some(st1), cfg)
    val oneShot = Pipeline.run(current, cfg)

    assert(clusterRows(r2.clusters) === clusterRows(oneShot.clusters),
      "stale member's component must be re-solved (splits included)")
    assert(pairRows(r2.pairs) === pairRows(oneShot.pairs),
      "the victim's stale pairs must be dropped and regenerated from its new text")
    // the old matched edge is gone from the live pairs table
    assert(r2.pairs.filter(col("url_a") === victimRow.getString(0) &&
      col("url_b") === victim && col("matched")).isEmpty)
  }

  test("re-crawled star hub of a heavy band group: scoped clusters equal " +
      "one-shot (stale-key expansion regenerates the lost topology)") {
    import spark.implicits._
    import graft.data.Render
    // force exact heavy detection + a low cap so the 12-member boilerplate
    // skew family (g=0 rows 0..5, g=37 rows) routes through the star path
    val cfg2 = cfg.copy(heavyBandKeyCap = 5, heavyDetectSampleFrac = -1.0)
    val store = tmpStore()
    val base = CorpusSpark.pages(spark, 600L, 4, cfg2.seed)
    val (_, _, st1) = Pipeline.runIncrementalScoped(base, store, None, cfg2)

    // re-crawl the skew family's min-url member — the star HUB of its heavy
    // band keys — with unrelated content: every hub link and the hub's path
    // position leave with it, and its old keys are invisible to new-rep
    // touched-key detection (the fragmentation scenario)
    val victim = "https://example.org/s00/doc0000000000"
    val newText = (0 until 400).map(i => f"freshhub$i%05d").mkString(" ")
    val recrawled = base.filter(col("url") === victim)
      .withColumn("warc_ts",
        timestamp_millis(unix_millis(col("warc_ts")) + lit(86400000L)))
      .withColumn("html", lit(Render.html(newText, 3L)))
      .withColumn("text", lit(newText))
    val current = base.filter(col("url") =!= victim).unionByName(recrawled)

    val (r2, _, _) = Pipeline.runIncrementalScoped(current, store, Some(st1), cfg2)
    val oneShot = Pipeline.run(current, cfg2)
    assert(clusterRows(r2.clusters) === clusterRows(oneShot.clusters),
      "heavy group fragmented after losing its hub")
  }

  test("stale-key expansion mechanism: an unseeded heavy group emits NO " +
      "delta pairs (the fragmentation hazard), a fully-seeded one " +
      "regenerates a connected topology") {
    import spark.implicits._
    // identical fingerprints: every band key is one heavy group, so the
    // PAIR TABLE IS the topology — no redundant light edges to mask a loss
    // (the realistic-corpus test above has such redundancy; this one pins
    // the mechanism itself)
    val cfg2 = GraftConfig(heavyBandKeyCap = 50, heavyDetectSampleFrac = -1.0)
    val all = SparkTest.giantBandGroupReps(600, cfg2)
    // the aftermath of a re-crawled hub: u00000's fingerprint left the group
    val remaining = all.filter(col("url") =!= "u00000")

    // broken shape (pre-fix Pipeline): the delta new-side contains only the
    // re-crawled url, whose new keys don't touch the group -> zero delta
    // pairs for it, and keptPrev lost every hub link
    val remainingBands = Candidates.bandKeysByUrl(remaining, cfg2)
    val unseeded = Candidates.candidatePairs(remaining, cfg2,
      Some(Candidates.Delta(Seq.empty[String].toDF("url"), remainingBands)))
    assert(unseeded.isEmpty, "unseeded heavy group must emit no delta pairs")

    // fixed shape: Pipeline seeds ALL current members of the stale rep's
    // keys -> the full star/path topology regenerates and reconnects them
    val seeded = Candidates.candidatePairs(remaining, cfg2,
      Some(Candidates.Delta(remaining.select("url"), remainingBands)))
      .select("url_a", "url_b").as[(String, String)].collect()
    val uf = new graft.core.UnionFind[String]
    seeded.foreach { case (a, b) => uf.union(a, b)(graft.core.Utf8Ordering) }
    val comps = uf.components((1 until 600).map(i => f"u$i%05d"))(graft.core.Utf8Ordering)
      .values.toSet
    assert(comps.size === 1,
      s"seeded regeneration left ${comps.size} components")
  }

  test("increment chain releases the previous generation's corpus-sized " +
      "caches (IncState.retained): footprint stays O(one increment)") {
    import org.apache.spark.storage.StorageLevel
    val store = tmpStore()
    val (r1, _, s1) = Pipeline.runIncrementalScoped(
      CorpusSpark.pages(spark, 200L, 4, cfg.seed), store, None, cfg)
    r1.metrics.collect()
    assert(s1.retained.nonEmpty &&
      s1.retained.forall(_.storageLevel != StorageLevel.NONE))
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val (r2, _, s2) = Pipeline.runIncrementalScoped(
      CorpusSpark.pages(spark, 300L, 4, cfg.seed), store, Some(s1), cfg)
    r2.metrics.collect()
    assert(s1.retained.forall(_.storageLevel == StorageLevel.NONE),
      "previous generation's sigs/reps still cached after the next increment")
    assert(s2.retained.forall(_.storageLevel != StorageLevel.NONE))
    // an increment's returned frames are all checkpoint leaves: every RDD it
    // persisted and still holds is one of those leaves, never a cache
    val cachedByIncrement = sc.getPersistentRDDs.filter { case (id, rdd) =>
      !persistedBefore.contains(id) && !rdd.isCheckpointed
    }
    assert(cachedByIncrement.isEmpty,
      s"an increment left cached frames behind: ${cachedByIncrement.values.mkString("; ")}")
  }

  test("splice metrics equal an eager recomputation: a re-crawled rep and a " +
      "delta edge that merges two previous clusters") {
    import spark.implicits._
    val store = tmpStore()
    val base = CorpusSpark.pages(spark, 400L, 4, cfg.seed)
    val (r1, _, st1) = Pipeline.runIncrementalScoped(base, store, None, cfg)
    // the re-crawl victim: the second url of a matched pair, with new text
    val victim = r1.pairs.filter(col("matched")).select("url_b").orderBy("url_a", "url_b")
      .head().getString(0)
    val newText = (0 until 300).map(i => f"splice$i%05d").mkString(" ")
    val current = base.filter(col("url") =!= victim).unionByName(
      base.filter(col("url") === victim)
        .withColumn("warc_ts", timestamp_millis(unix_millis(col("warc_ts")) + lit(86400000L)))
        .withColumn("html", lit(Render.html(newText, 9L)))
        .withColumn("text", lit(newText)))
    val (r2, _, st2) = Pipeline.runIncrementalScoped(current, store, Some(st1), cfg)

    // the splice's inputs, taken from the two generations: stale reps by
    // (url, content_id), the increment's new matched pairs, and one more
    // delta edge between two previous multi-member clusters
    val stale = st1.reps.select("url", "content_id")
      .join(st2.reps.select("url", "content_id"), Seq("url", "content_id"), "left_anti")
      .select("url")
    assert(stale.collect().map(_.getString(0)).toSeq === Seq(victim))
    val prevMatched = st1.pairs.filter(col("matched"))
    val roots = st1.repAssign.groupBy("cluster_id").count().filter(col("count") > 1)
      .orderBy("cluster_id").select("cluster_id").as[String].take(2)
    assert(roots.length === 2, "fixture broken: fewer than two previous clusters")
    val delta = r2.pairs.filter(col("matched")).select("url_a", "url_b")
      .join(prevMatched.select("url_a", "url_b"), Seq("url_a", "url_b"), "left_anti")
      .unionByName(Seq((roots(0), roots(1))).toDF("url_a", "url_b"))
    val splice = Clusters.spliceAssign(st2.reps.select("url"), st1.repAssign,
      prevMatched, delta, stale)

    // the oracle: the three counts as the splice used to compute them, with
    // distinct frames and eager counts
    val staleD = stale.distinct()
    val touched = delta.select(col("url_a").as("url"))
      .unionByName(delta.select(col("url_b").as("url"))).unionByName(staleD).distinct()
    val affectedRoots = st1.repAssign.join(touched, Seq("url"), "left_semi")
      .select("cluster_id").distinct()
    val affectedMembers = st1.repAssign.join(affectedRoots, Seq("cluster_id"), "left_semi")
    val keptPrev = prevMatched.select("url_a", "url_b")
      .join(staleD.select(col("url").as("url_a")), Seq("url_a"), "left_anti")
      .join(staleD.select(col("url").as("url_b")), Seq("url_b"), "left_anti")
    val subEdges = keptPrev
      .join(affectedMembers.select(col("url").as("url_a")), Seq("url_a"), "left_semi")
      .unionByName(delta)
    val untouched = st1.repAssign.join(affectedRoots, Seq("cluster_id"), "left_anti")
    val oracle = Map(
      "recluster_edges" -> subEdges.count(),
      "affected_clusters" -> affectedRoots.count(),
      "untouched_clusters" -> untouched.select("cluster_id").distinct().count())
    val got = splice.metrics.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === oracle)
    assert(oracle("untouched_clusters") > 0L && oracle("affected_clusters") >= 2L)
    // the delta edge merged the two previous clusters
    val merged = splice.assign.filter(col("url").isin(roots: _*))
      .select("cluster_id").distinct().count()
    assert(merged === 1L)
  }

  test("no-op increment: nothing re-clusters, assignment unchanged") {
    val store = tmpStore()
    val base = CorpusSpark.pages(spark, 300L, 4, cfg.seed)
    val (r1, _, st1) = Pipeline.runIncrementalScoped(base, store, None, cfg)
    val (r2, inc2, _) = Pipeline.runIncrementalScoped(base, store, Some(st1), cfg)
    assert(inc2.newlyFingerprinted === 0L)
    assert(metric(r2, "recluster_edges") === 0L)
    assert(metric(r2, "affected_clusters") === 0L)
    assert(clusterRows(r2.clusters) === clusterRows(r1.clusters))
  }
}

/** S15 GC end-to-end through the driver contract (q_store_gc): the scenario
  * plants two crashed-commit debris dirs next to two committed snapshots;
  * after gcOrphans the on-disk state must be exactly the two
  * manifest-referenced dirs with their manifest row totals (a rows_total=-1
  * row would mean debris survived GC; a missing row, a wrongly-collected
  * live dir). */
class StoreGcQuerySpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  test("gcOrphans opened via a differently-spelled root never deletes live " +
      "snapshots (name identity, not raw path-string comparison)") {
    val spark = SparkTest.spark
    val abs = Files.createTempDirectory("graft-gc-spell")
    val store = IcebergShaped.table(abs.toString)
    val cfg = GraftConfig()
    Resume.incrementalFingerprints(
      CorpusSpark.pages(spark, 50L, 2, cfg.seed), store, cfg)
    val liveRows = store.read(spark).count()
    assert(liveRows > 0)
    // same table, different spelling: trailing slash + a ./.. detour
    val respelled = IcebergShaped.table(
      abs.toString + "/../" + abs.getFileName.toString + "/")
    val removed = respelled.gcOrphans()
    assert(removed.isEmpty, s"live snapshots deleted: $removed")
    assert(store.read(spark).count() === liveRows)
  }

  test("q_store_gc leaves exactly the manifest-referenced dirs") {
    val rows = graft.SparkEntry.queries("q_store_gc")(spark, "gcspec")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    assert(rows.map(_._1) === Seq("v0", "v1"))
    assert(rows.forall(_._2 > 0L))
  }
}

/** Hardening cases from the round-5 kernel review. */
class KernelHardeningSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  test("dropCaseDuplicateUrls layers newest-per-url re-crawl supersedence " +
    "under the earliest-per-lower(url) case rule (matches the live view)") {
    import spark.implicits._
    val pages = Seq(
      // SAME-url re-crawl: newest wins (layer 1), then beats the later
      // case-variant under the earliest-wins case rule (layer 2)
      ("https://a/x", Timestamp.valueOf("2026-01-01 00:00:00"), "old"),
      ("https://a/x", Timestamp.valueOf("2026-01-02 00:00:00"), "new"),
      ("https://A/X", Timestamp.valueOf("2026-01-03 00:00:00"), "case-dup"),
      ("https://b/y", Timestamp.valueOf("2026-01-01 00:00:00"), "only"),
      // pure case-variant pair, no re-crawl: earliest warc_ts wins even
      // though its url is the upper-case spelling
      ("https://c/z", Timestamp.valueOf("2026-01-02 00:00:00"), "later-lower"),
      ("HTTPS://C/Z", Timestamp.valueOf("2026-01-01 00:00:00"), "early-upper")
    ).toDF("url", "warc_ts", "text")
    val kept = Fingerprints.dropCaseDuplicateUrls(pages)
      .select("url", "text").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(kept === Set(
      ("https://a/x", "new"),
      ("https://b/y", "only"),
      ("HTTPS://C/Z", "early-upper")))
  }

  test("identical (url, warc_ts) duplicate crawl records collapse to ONE " +
    "row — not zero (the loser anti-join must never remove the winner)") {
    import spark.implicits._
    val pages = Seq(
      ("https://d/w", Timestamp.valueOf("2026-01-01 00:00:00"), "copy"),
      ("https://d/w", Timestamp.valueOf("2026-01-01 00:00:00"), "copy"),
      ("https://e/v", Timestamp.valueOf("2026-01-01 00:00:00"), "single")
    ).toDF("url", "warc_ts", "text")
    val kept = Fingerprints.dropCaseDuplicateUrls(pages)
      .select("url", "text").collect().map(r => (r.getString(0), r.getString(1)))
    assert(kept.toSet === Set(("https://d/w", "copy"), ("https://e/v", "single")))
    assert(kept.length === 2, "duplicate record must collapse to exactly one row")
  }

  test("out-of-order case variants across increments: live view equals " +
    "one-shot (rule-2 losers must be committed, not dropped per batch)") {
    import spark.implicits._
    import graft.data.Render
    def page(url: String, ts: String, text: String) =
      (url, Timestamp.valueOf(ts), Render.html(text, 1L), text, "en")
    val cols = Seq("url", "warc_ts", "html", "text", "lang")
    // A@t5 and a@t9 in batch 1; the OLDER variant a@t1 arrives in batch 2.
    // One-shot: rule 1 keeps A@t5 + a@t9; rule 2 elects A@t5 (earliest).
    // A per-batch case rule would discard a@t9 before commit and then
    // wrongly elect a@t1.
    val b1 = Seq(
      page("HTTPS://X/P", "2026-01-05 00:00:00", "variant upper five"),
      page("https://x/p", "2026-01-09 00:00:00", "variant lower nine")).toDF(cols: _*)
    val b2 = Seq(
      page("https://x/p", "2026-01-01 00:00:00", "variant lower one")).toDF(cols: _*)
    val cfg = graft.core.GraftConfig()

    val oneShot = Fingerprints.fromPages(b1.unionByName(b2), cfg)
      .select(col("url"), unix_millis(col("warc_ts")))
      .as[(String, Long)].collect().toSet

    val store = IcebergShaped.table(
      Files.createTempDirectory("graft-caseinv").toString)
    Resume.incrementalFingerprints(b1, store, cfg)
    val live = Resume.incrementalFingerprints(b2, store, cfg).signatures
      .select(col("url"), unix_millis(col("warc_ts")))
      .as[(String, Long)].collect().toSet
    assert(live === oneShot,
      s"case election diverged: live=$live oneShot=$oneShot")
  }

  test("batch-split invariance: a same-url re-crawl yields the same " +
    "surviving (url, warc_ts) set one-shot vs split across increments") {
    import spark.implicits._
    import java.nio.file.Files
    val cfg = graft.core.GraftConfig()
    val batch1 = graft.data.CorpusSpark.pages(spark, 64L, 4, cfg.seed)
    // re-crawl half the urls one day later (same text, fresh capture)
    val batch2 = batch1.filter(xxhash64(col("url")) % 2 === 0)
      .withColumn("warc_ts",
        timestamp_millis(unix_millis(col("warc_ts")) + 86400000L))

    val oneShot = Fingerprints.fromPages(batch1.unionByName(batch2), cfg)
      .select(col("url"), unix_millis(col("warc_ts")))
      .as[(String, Long)].collect().toSet

    val store = graft.store.IcebergShaped.table(
      Files.createTempDirectory("graft-splitinv").toString)
    Resume.incrementalFingerprints(batch1, store, cfg)
    val live = Resume.incrementalFingerprints(batch2, store, cfg).signatures
      .select(col("url"), unix_millis(col("warc_ts")))
      .as[(String, Long)].collect().toSet

    assert(live === oneShot,
      "identical crawl data split into batches must elect identical survivors")
  }

  test("unescape leaves malformed/out-of-range numeric entities verbatim") {
    import graft.core.Extract
    assert(Extract.unescape("a&#65;b") === "aAb")
    assert(Extract.unescape("a&#99999999999;b") === "a&#99999999999;b")
    assert(Extract.unescape("a&#x110000;b") === "a&#x110000;b")
    assert(Extract.unescape("a&#x10FFFF;b") ===
      "a" + new String(Character.toChars(0x10FFFF)) + "b")
  }

  test("rethreshold preserves slider-independent substring matches") {
    import spark.implicits._
    val pairs = Seq(
      ("u1", "u2", 20, true, "substring"),
      ("u3", "u4", 20, false, "fingerprint"),
      ("u5", "u6", 60, true, "fingerprint")
    ).toDF("url_a", "url_b", "sim_bits", "matched", "via")
    val re = Pairs.rethreshold(pairs, 89) // 57/64 bits
    val m = re.orderBy("url_a").collect().map(_.getAs[Boolean]("matched")).toSeq
    assert(m === Seq(true, false, true))
  }

  test("Utf8Ordering ranks supplementary-plane above U+E000..U+FFFF " +
    "(Spark UTF8 binary order, unlike Java compareTo)") {
    val smiley = new String(Character.toChars(0x1F600)) // surrogate pair
    val pua = "\uE000" // private-use area, below surrogates in UTF-16
    assert(graft.core.Utf8Ordering.compare(pua, smiley) < 0)
    assert(Ordering.String.compare(pua, smiley) > 0) // Java order disagrees
    assert(graft.core.Utf8Ordering.compare("abc", "abd") < 0)
    assert(graft.core.Utf8Ordering.compare("ab", "abc") < 0)
    assert(graft.core.Utf8Ordering.compare("same", "same") === 0)
  }
}

/** Store hardening: branch-safe commits after rollback, SQL DELETE null
  * semantics, and per-file lineage attribution. */
class StoreBranchSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  private def df(tag: String, nulls: Boolean = false) = {
    import spark.implicits._
    Seq((s"https://$tag/1", if (nulls) null else "en", 0),
        (s"https://$tag/2", "de", 1))
      .toDF("url", "lang", "part_id")
  }

  test("commit after rollback branches instead of overwriting an " +
    "'immutable' snapshot the abandoned chain still references") {
    val root = Files.createTempDirectory("graft-branch").toString
    val t = IcebergShaped.table(root)
    t.commit(df("v0"), "fp")
    t.commit(df("v1"), "fp")
    t.commit(df("v2"), "fp")
    val v1SnapId = t.snapshotAt(1).snapshotId
    val v1Files = t.snapshotAt(1).files.map(_.path)

    t.rollback(0)
    val snapNew = t.commit(df("branch"), "fp")
    // the branch commit takes a FRESH version (3), leaving v1/v2 intact
    assert(snapNew.version === 3)
    assert(snapNew.parentVersion === Some(0))
    assert(t.snapshotAt(1).snapshotId === v1SnapId)
    v1Files.foreach(p => assert(Files.exists(java.nio.file.Paths.get(p)),
      s"abandoned-branch data file must survive: $p"))

    // live read on the new branch = v0 + branch rows only
    val urls = t.read(spark).select("url").collect().map(_.getString(0)).toSet
    assert(urls === Set("https://v0/1", "https://v0/2",
      "https://branch/1", "https://branch/2"))

    // time travel back onto the abandoned branch still works
    t.rollback(2)
    val old = t.read(spark).select("url").collect().map(_.getString(0)).toSet
    assert(old === Set("https://v0/1", "https://v0/2", "https://v1/1",
      "https://v1/2", "https://v2/1", "https://v2/2"))
  }

  test("delete keeps rows whose condition evaluates to NULL") {
    val root = Files.createTempDirectory("graft-delnull").toString
    val t = IcebergShaped.table(root)
    t.commit(df("d", nulls = true), "fp") // row 1 has lang = null
    t.delete(spark, col("lang") === "de")
    val kept = t.read(spark).select("url").collect().map(_.getString(0)).toSet
    assert(kept === Set("https://d/1"), "null-lang row must be KEPT, de row deleted")
  }

  test("lineage stamps each file with the snapshot that added it") {
    val root = Files.createTempDirectory("graft-lineage").toString
    val t = IcebergShaped.table(root)
    val s0 = t.commit(df("a"), "fp")
    val s1 = t.commit(df("b"), "fp")
    val byFile = t.lineage(spark).select("snapshot_id", "file").collect()
      .map(r => (r.getString(1), r.getLong(0))).toMap
    assert(s0.files.forall(f => byFile(f.path) === s0.snapshotId))
    assert(s1.files.forall(f => byFile(f.path) === s1.snapshotId))
  }
}
