package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftConfig
import graft.data.CorpusSpark
import graft.tools.OracleTruth

object SparkTest {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")

  /** One giant band group: n reps with IDENTICAL fingerprints — every band
    * family collapses onto one key shared by all rows (the adversarial
    * boilerplate-band scenario). Shared by HeavyKeyStrategySpec (behavior
    * gate) and PlanSpec (plan-shape gate) so the two heavy-key specs can't
    * drift onto different signature schemas when a column is added. */
  def giantBandGroupReps(n: Int, cfg: GraftConfig): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.range(n).select(
      format_string("u%05d", col("id")).as("url"),
      lit(0x1234abcdL).as("simhash_head"), lit(0x5678efL).as("simhash_tail"),
      array_repeat(lit(7L), cfg.minhashBands).as("mh_bands_head"),
      array_repeat(lit(8L), cfg.minhashBands).as("mh_bands_tail"),
      array_repeat(lit(9L), cfg.numPerm / 2).as("mh_rescue_head"),
      array_repeat(lit(10L), cfg.numPerm / 2).as("mh_rescue_tail"),
      lit(100L).as("text_len"), lit(1000L).as("size"))
  }
}

/** End-to-end gates (SURVEY §5.3): recall >= 0.99 vs the brute-force oracle,
  * cluster-assignment equivalence, precision 1.0 (pipeline never merges what
  * the oracle wouldn't), determinism across partitionings. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val cfg = GraftConfig()
  private val n = 1600L

  private lazy val result = {
    val pages = CorpusSpark.pages(spark, n, parts = 8, seed = cfg.seed)
    Pipeline.run(pages, cfg)
  }
  private lazy val truth = OracleTruth.compute(n, cfg)
  private lazy val gotClusters: Map[String, String] = {
    import spark.implicits._
    result.clusters.select("url", "cluster_id").as[(String, String)].collect().toMap
  }

  test("extraction byte-identity holds for every row (north-rule invariant)") {
    import org.apache.spark.sql.functions._
    assert(result.signatures.filter(!col("extract_ok")).count() === 0)
  }

  test("doc universe matches oracle (case-url dedup + validity rejects)") {
    assert(gotClusters.keySet === truth.clusters.keySet)
    import spark.implicits._
    val rejects = result.rejects.select("url").as[String].collect().toSet
    assert(truth.rejectedUrls.toSet.subsetOf(rejects))
  }

  test("dup-pair recall >= 0.99 (gate) — and exact at this seed") {
    val hits = truth.matchedPairs.count { case (a, b) =>
      gotClusters.get(a).exists(ca => gotClusters.get(b).contains(ca))
    }
    val recall = if (truth.matchedPairs.isEmpty) 1.0
      else hits.toDouble / truth.matchedPairs.size
    assert(truth.matchedPairs.nonEmpty, "fixture must contain matched pairs")
    assert(recall >= 0.99, s"recall $recall below gate")
    assert(recall === 1.0, s"recall $recall — expected exact at the fixed seed")
  }

  test("precision 1.0: every pipeline-matched pair is an oracle-matched pair") {
    import spark.implicits._
    val got = result.pairs.filter(org.apache.spark.sql.functions.col("matched"))
      .select("url_a", "url_b").as[(String, String)].collect().toSet
    // pipeline pairs are representative-level; oracle pairs are member-level —
    // every rep-level pair must appear in the oracle's matched set
    val missing = got.filterNot(truth.matchedPairs.contains)
    assert(missing.isEmpty, s"false positives: ${missing.take(5)}")
  }

  test("cluster-assignment equivalence: identical partition of urls") {
    def partition(m: Map[String, String]): Set[Set[String]] =
      m.groupBy(_._2).values.map(_.keySet.toSet).toSet
    assert(partition(gotClusters) === partition(truth.clusters))
    // canonical ids too: cluster_id = min(url) of the component
    assert(gotClusters === truth.clusters)
  }

  test("exactly one keeper per cluster; keeper is rank-1 by the W1 ordering") {
    import org.apache.spark.sql.functions._
    val bad = result.clusters.groupBy("cluster_id")
      .agg(sum(when(col("is_keeper"), 1).otherwise(0)).as("k"))
      .filter(col("k") =!= 1).count()
    assert(bad === 0)
    // independent sequential re-derivation of the W1 ordering (size desc,
    // text_len desc, warc_ts asc, url asc — url compared in UTF8 binary
    // order like Spark): the elected keeper must be the rank-1 row. A
    // regression in the election window's sort direction passes the
    // count==1 gate above but fails this.
    val rows = result.clusters
      .select("cluster_id", "url", "is_keeper", "size", "text_len", "warc_ts")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
        r.getLong(3), r.getLong(4), r.getTimestamp(5).getTime))
    rows.groupBy(_._1).foreach { case (cid, members) =>
      val expectedKeeper = members.minBy(m => (-m._4, -m._5, m._6))(
        Ordering.Tuple3(Ordering.Long, Ordering.Long, Ordering.Long))
      // break full ties (same size/text_len/warc_ts) by UTF8 url order
      val top = members.filter(m =>
        (-m._4, -m._5, m._6) == (-expectedKeeper._4, -expectedKeeper._5, expectedKeeper._6))
      val want = top.map(_._2).min(graft.core.Utf8Ordering)
      val got = members.filter(_._3).map(_._2).toSeq
      assert(got === Seq(want),
        s"cluster $cid elected ${got.mkString(",")}, W1 rank-1 is $want")
    }
  }

  test("deterministic across input partitionings") {
    import spark.implicits._
    val pages2 = CorpusSpark.pages(spark, n, parts = 3, seed = cfg.seed)
    val res2 = Pipeline.run(pages2, cfg)
    val got2 = res2.clusters.select("url", "cluster_id").as[(String, String)]
      .collect().toMap
    assert(got2 === gotClusters)
  }

  test("metrics present and consistent") {
    import spark.implicits._
    val m = result.metrics.as[(String, Long)].collect().toMap
    assert(m("signatures") > 0)
    assert(m("extract_mismatches") === 0)
    assert(m("matched_pairs") <= m("candidate_pairs"))
  }

  test("recall and cluster equivalence hold at FRESH seeds, not just the " +
      "fixture seed (corpus content AND MinHash family both re-drawn)") {
    for (seed <- Seq(1L, 7L)) {
      val c = GraftConfig(seed = seed)
      val m = 1200L
      val res = Pipeline.run(CorpusSpark.pages(spark, m, parts = 8, seed = seed), c)
      val t = OracleTruth.compute(m, c)
      import spark.implicits._
      val got = res.clusters.select("url", "cluster_id").as[(String, String)]
        .collect().toMap
      val hits = t.matchedPairs.count { case (a, b) =>
        got.get(a).exists(ca => got.get(b).contains(ca))
      }
      assert(t.matchedPairs.nonEmpty, s"seed $seed fixture has no matched pairs")
      assert(hits === t.matchedPairs.size, s"seed $seed recall " +
        s"${hits.toDouble / t.matchedPairs.size} — banding under-recalled on fresh data")
      assert(got === t.clusters, s"seed $seed cluster assignment diverged")
    }
  }
}

/** The exact-verify (SSIM-mode analog) and substring passes. */
class VerifyModesSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  /** `graft: url-dedup …` jobs started by one `Pipeline.run(pages, cfg)`. */
  private def dedupJobsOf(pages: org.apache.spark.sql.DataFrame, cfg: GraftConfig): Int = {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).map(_.getProperty("spark.job.description"))
              .exists(d => d != null && d.startsWith("graft: url-dedup")))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graftclock.TaskClock.drain(sc)
    sc.addSparkListener(listener)
    try {
      Pipeline.run(pages, cfg).metrics.collect()
      org.apache.spark.graftclock.TaskClock.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  test("exact-verify mode: exact dups still match; jaccard column populated") {
    import org.apache.spark.sql.functions._
    val cfg = GraftConfig(exactVerify = true)
    val pages = CorpusSpark.pages(spark, 800L, parts = 4, seed = cfg.seed)
    val res = Pipeline.run(pages, cfg)
    val matched = res.pairs.filter(col("matched"))
    assert(matched.count() > 0)
    assert(matched.filter(col("via") === "exact").count() === matched.count())
    // every matched pair passed jaccard + mod/64 > 0.89
    assert(matched.filter(col("jaccard") + col("len_mod") / 64.0 <= cfg.jaccardThreshold).count() === 0)
  }

  test("substring pass: verbatim-block pairs matched via='substring'") {
    import org.apache.spark.sql.functions._
    val cfg = GraftConfig(substringPass = true)
    val pages = CorpusSpark.pages(spark, 800L, parts = 4, seed = cfg.seed)
    val res = Pipeline.run(pages, cfg)
    val viaSub = res.pairs.filter(col("via") === "substring" && col("matched"))
    assert(viaSub.count() > 0, "expected verbatim-block fixtures to surface")
    // substring matches carry the measured overlap
    assert(viaSub.filter(col("overlap_len") < cfg.minSubstringOverlap).count() === 0)
  }

  test("substring pass reads the fingerprint stage's deduped pages: no " +
      "plan is persisted twice, no dedup frame is materialized twice") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    // both stages dedup the same `pages`: the cache manager refuses a second
    // entry for a cached plan and says so, so its warning is the observable
    // of a double persist; a second materialization shows as extra
    // url-dedup jobs over what the fingerprint stage alone runs
    val cacheLogName = "org.apache.spark.sql.execution.CacheManager"
    val refused = new AtomicInteger
    val appender = new AbstractAppender("double-persist", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("already cached"))
          refused.incrementAndGet()
    }
    appender.start()
    Configurator.setLevel(cacheLogName, Level.WARN)
    val cacheLog = LogManager.getLogger(cacheLogName).asInstanceOf[CoreLogger]
    val pages = CorpusSpark.pages(spark, 300L, parts = 4, seed = 42L)
    cacheLog.addAppender(appender)
    try {
      val fingerprintOnly = dedupJobsOf(pages, GraftConfig())
      val withSubstring = dedupJobsOf(pages, GraftConfig(exactVerify = true, substringPass = true))
      assert(refused.get() === 0, "a cached plan was persisted a second time")
      assert(fingerprintOnly > 0)
      assert(withSubstring === fingerprintOnly,
        "the substring pass re-materialized the url-dedup frames")
    } finally cacheLog.removeAppender(appender)
  }

  test("substring pass reads the fingerprint stage's deduped pages when the " +
      "input is coalesced (more than 2 x defaultParallelism partitions)") {
    val pages = CorpusSpark.pages(spark, 400L, parts = 32, seed = 42L)
    assert(pages.rdd.getNumPartitions > 2 * spark.sparkContext.defaultParallelism)
    val fingerprintOnly = dedupJobsOf(pages, GraftConfig())
    val withSubstring = dedupJobsOf(pages, GraftConfig(substringPass = true))
    assert(fingerprintOnly > 0)
    assert(withSubstring === fingerprintOnly,
      "the substring pass ran the url dedup a second time")
  }
}

/** Heavy-key routing strategies: star generation and the salted triangle
  * join must produce identical CLUSTER assignments (the pairs table may
  * differ — star emits a spanning subset). Forced low cap + exact counting
  * so the heavy path actually fires at test scale. */
class HeavyKeyStrategySpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  test("star+path vs salted-triangle: no false merges; recall gate holds " +
      "even at an adversarially low cap") {
    import spark.implicits._
    val base = GraftConfig(heavyBandKeyCap = 5, heavyDetectSampleFrac = -1.0)
    val pages = CorpusSpark.pages(spark, 1200L, 4, base.seed)
    def clustersOf(cfg: GraftConfig): Map[String, String] =
      Pipeline.run(pages, cfg).clusters
        .select("url", "cluster_id").as[(String, String)].collect().toMap
    val star = clustersOf(base.copy(heavyKeyStar = true))
    val tri = clustersOf(base.copy(heavyKeyStar = false))
    // triangle == exact all-pairs semantics at any cap
    val truth = OracleTruth.compute(1200L, base)
    def partition(m: Map[String, String]) =
      m.groupBy(_._2).values.map(_.keySet.toSet).toSet
    assert(partition(tri) === partition(truth.clusters))
    // star emits a pair subset => its partition is a refinement (never a
    // false merge): every star cluster sits inside one triangle cluster
    val triOf = tri
    partition(star).foreach { c =>
      assert(c.map(triOf).size === 1, s"star merged across triangle clusters: ${c.take(3)}")
    }
    // and the dup-pair recall gate holds even with cap=5 forcing nearly
    // every band group through the star path
    val hits = truth.matchedPairs.count { case (a, b) =>
      star.get(a).exists(ca => star.get(b).contains(ca))
    }
    val recall = hits.toDouble / math.max(truth.matchedPairs.size, 1)
    assert(recall >= 0.99, s"star recall $recall at adversarial cap")
  }

  test("one giant band key: star path emits O(n) connected pairs with no " +
      "single-task window (per-bucket partitions stay ~n/s)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val n = 2000
    val cfg = GraftConfig(heavyBandKeyCap = 100, heavyDetectSampleFrac = -1.0)
    val reps = SparkTest.giantBandGroupReps(n, cfg)
    val pairs = Candidates.candidatePairs(reps, cfg)
      .select("url_a", "url_b").as[(String, String)].collect()
    // O(n), not O(n^2): hub star (n-1) + path links (n-1) + a few boundary
    // stitches per family, deduped across families
    assert(pairs.length >= n - 1)
    assert(pairs.length <= 4 * n, s"${pairs.length} pairs — quadratic blowup?")
    // the emitted pairs connect ALL n members into one component
    val uf = new graft.core.UnionFind[String]
    pairs.foreach { case (a, b) => uf.union(a, b)(graft.core.Utf8Ordering) }
    val comps = uf.components((0 until n).map(i => f"u$i%05d"))(graft.core.Utf8Ordering)
      .values.toSet
    assert(comps.size === 1, s"star+path left ${comps.size} components")
    // partition-size assertion: the path windows run per salt bucket, and
    // the hash salt spreads the giant group — no window partition (and so
    // no task) sees more than a fraction of the group
    val maxBucket = spark.range(n)
      .select(pmod(xxhash64(format_string("u%05d", col("id"))), lit(cfg.saltBuckets)).as("b"))
      .groupBy("b").count().agg(max("count")).as[Long].head()
    assert(maxBucket < n / 2, s"salt bucket of $maxBucket rows — not spread")
  }

  test("empty-heavy fast path: pair set identical to the heavy-routed " +
      "construction under salted-triangle routing (cap invariance)") {
    import spark.implicits._
    // triangle routing emits every in-key pair on BOTH branches, so the
    // candidate pair SET is invariant to heavyBandKeyCap — in particular
    // between a cap that fires the heavy path and a cap so high that the
    // round-6 noHeavy fast path (skip the anti-join + heavy slice when the
    // detected set is empty) engages.
    val base = GraftConfig(heavyKeyStar = false, heavyDetectSampleFrac = -1.0)
    val pages = CorpusSpark.pages(spark, 800L, 4, base.seed)
    def pairSetOf(cfg: GraftConfig): Set[(String, String)] = {
      val reps = Fingerprints.fromPages(pages, cfg).toDF()
        .filter(org.apache.spark.sql.functions.col("reject_reason").isNull)
      Candidates.candidatePairs(reps, cfg)
        .select("url_a", "url_b").as[(String, String)].collect().toSet
    }
    val viaHeavy = pairSetOf(base.copy(heavyBandKeyCap = 5))
    val viaFast = pairSetOf(base.copy(heavyBandKeyCap = Int.MaxValue))
    assert(viaFast === viaHeavy)
    assert(viaFast.nonEmpty)
  }
}
