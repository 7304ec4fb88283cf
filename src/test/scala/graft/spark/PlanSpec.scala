package graft.spark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftConfig
import graft.data.CorpusSpark

/** Physical-plan shape assertions — the properties the scale-out dossier
  * (README) claims must hold are pinned here so a regression in pushdown or
  * join strategy fails CI, not a 100-TB run:
  *  - the S2 lang filter reaches the parquet scan as a pushed filter,
  *  - the scan prunes to the selected columns,
  *  - the heavy-key hub join broadcasts (never sort-merges the heavy group),
  *  - the exact-verify shingle join stays a hash join at pair volume.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  private def writtenPages(n: Long): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-pages").toString
    CorpusSpark.pages(spark, n, parts = 2, seed = 42L)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("S2 lang filter is pushed to the parquet scan; columns are pruned") {
    val dir = writtenPages(200L)
    val df = spark.read.parquet(dir)
      .filter(col("lang").isin("en", "de"))
      .select("url", "lang")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(lang"), plan.take(2000))
    // pruned read schema: url + lang only — html/text must NOT be read
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("url") && readSchema.contains("lang"), readSchema)
    assert(!readSchema.contains("html") && !readSchema.contains("text"), readSchema)
  }

  test("heavy-key hub join broadcasts; no sort-merge join in the star path") {
    import spark.implicits._
    val n = 600
    val cfg = GraftConfig(heavyBandKeyCap = 50, heavyDetectSampleFrac = -1.0)
    // one giant band group (identical fingerprints) — the adversarial case;
    // fixture shared with HeavyKeyStrategySpec via SparkTest
    val reps = SparkTest.giantBandGroupReps(n, cfg)
    val pairs = Candidates.candidatePairs(reps, cfg)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
    // every heavy-side join (anti/semi routing, hub links) carries an
    // explicit broadcast() hint, which Catalyst must honor regardless of
    // statistics — so the heavy group can never collapse into per-key
    // sorted tasks (the straggler the star path exists to kill). Pin the
    // hub/routing joins: at least one BroadcastHashJoin keyed by the band
    // key must exist. (The LIGHT self-join is sized, not hinted: the band
    // relation is a measured leaf, so it broadcasts below
    // spark.sql.autoBroadcastJoinThreshold and sort-merges above it — the
    // test below pins both; a blanket no-SMJ-on-band_id assertion would pin
    // a corpus size, not the invariant.)
    val bhjOnBand = plan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("band_id"))
    assert(bhjOnBand, "hub/routing joins must broadcast on the band key:\n" +
      plan.take(3000))
  }

  test("light band self-join is planned from the band leaf's measured size: " +
      "broadcast below the threshold, sort-merge above it, in the initial plan") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.SparkPlan
    val cfg = GraftConfig()
    val pages = CorpusSpark.pages(spark, 400L, parts = 2, seed = cfg.seed)
    val reps = Fingerprints.fromPages(pages, cfg).toDF()
      .filter(col("reject_reason").isNull)
    // the INITIAL plan: AQE re-plans from runtime sizes, which would mask a
    // leaf that reports no size of its own
    def initialPlan(df: org.apache.spark.sql.DataFrame): SparkPlan =
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
    def onBandKey(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.map(_.references.map(_.name).mkString).toSet == Set("band_id", "key")
    // the self-join is the one INNER join on (band_id, key); heavy-key
    // routing, when present, adds anti/semi joins on the same keys
    import org.apache.spark.sql.catalyst.plans.Inner
    def bandJoins(p: SparkPlan): (Int, Int) = (
      p.collect { case j: BroadcastHashJoinExec
        if j.joinType == Inner && onBandKey(j.leftKeys) => j }.length,
      p.collect { case j: SortMergeJoinExec
        if j.joinType == Inner && onBandKey(j.leftKeys) => j }.length)

    val small = Candidates.candidatePairs(reps, cfg)
    assert(bandJoins(initialPlan(small)) === (1, 0), initialPlan(small).toString.take(3000))
    val bandLeafBytes = small.queryExecution.analyzed.collect {
      case r: LogicalRDD if r.output.map(_.name).contains("band_id") => r.stats.sizeInBytes
    }.head
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, (bandLeafBytes - 1).toString)
    try {
      val big = Candidates.candidatePairs(reps, cfg)
      assert(bandJoins(initialPlan(big)) === (0, 1), initialPlan(big).toString.take(3000))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("delta-mode candidate plan skips the dictionary (no full-corpus " +
      "sort on increments; one-shot keeps the byte-diet ids)") {
    val cfg = GraftConfig()
    val pages = CorpusSpark.pages(spark, 400L, parts = 2, seed = cfg.seed)
    val reps = Fingerprints.fromPages(pages, cfg).toDF()
      .filter(col("reject_reason").isNull)
    val nu = reps.select("url").limit(40)
    // the url->rank dictionary (the only global sort in the candidate layer)
    // exists exactly when ids are dense longs: delta mode must run url-keyed
    // (string ids — every increment at 10^12 docs would otherwise pay a
    // full-corpus range shuffle + dictionary join for ids the scoped caller
    // drops) while the one-shot path keeps the byte-diet long ids. The id
    // TYPE is the functional discriminator. (The old RDD-leaf counting
    // broke when the candidate layer's internal frames became checkpoint
    // leaves in round 6 — every mode has LogicalRDD leaves now.)
    val delta = Candidates.candidatePairs(reps, cfg,
      Some(Candidates.Delta(nu, Candidates.bandKeysByUrl(reps, cfg))))
    assert(delta.schema("id_a").dataType ==
      org.apache.spark.sql.types.StringType,
      "delta mode must be url-keyed (no dictionary sort on increments)")
    val oneShot = Candidates.candidatePairs(reps, cfg)
    assert(oneShot.schema("id_a").dataType ==
      org.apache.spark.sql.types.LongType,
      "one-shot mode must keep the dense dictionary ids")
  }

  test("exact-verify shingle join is a hash join gated to the admitted stratum") {
    // built from the public stage APIs rather than Pipeline.run: the
    // pipeline's Result.pairs is lineage-truncated to a LogicalRDD leaf
    // (downstream()'s eager localCheckpoint), so the verify join's shape is
    // only visible on the pre-checkpoint frame
    val cfg = GraftConfig(exactVerify = true)
    val pages = CorpusSpark.pages(spark, 400L, parts = 2, seed = cfg.seed)
    val sigs = Fingerprints.fromPages(pages, cfg).toDF()
      .filter(col("reject_reason").isNull)
    val pairs = Pairs.exactVerify(
      Pairs.score(Candidates.candidatePairs(sigs, cfg), cfg), sigs, cfg)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan.toString
    // the expensive verify join must be a hash join (broadcast or shuffled),
    // never a nested-loop/cartesian product
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("incremental live view: no Exchange carries the signature payload " +
      "(the url election runs in key space)") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.FileSourceScanLike
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.util.QueryExecutionListener
    val cfg = GraftConfig()
    val store = graft.store.IcebergShaped.table(
      java.nio.file.Files.createTempDirectory("graft-plan-live").toString)
    val pages = CorpusSpark.pages(spark, 400L, parts = 4, seed = cfg.seed)
    val base = pages.filter(col("url") < "https://example.org/s12")
    val recrawls = base.filter(xxhash64(col("url")) % 4 === 0)
      .withColumn("warc_ts", timestamp_millis(unix_millis(col("warc_ts")) + 86400000L))
    val batch = pages.filter(col("url") >= "https://example.org/s12").unionByName(recrawls)
    Resume.incrementalFingerprints(base, store, cfg)
    Resume.incrementalFingerprints(batch, store, cfg)

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // a re-run of the same batch commits nothing: every query from here
      // on builds or reads the live view (or probes the payload-free batch)
      Resume.incrementalFingerprints(batch, store, cfg).signatures.collect()
      org.apache.spark.graftclock.TaskClock.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)

    import scala.jdk.CollectionConverters._
    object Plans extends AdaptiveSparkPlanHelper
    val plans = seen.asScala.toSeq.map(_.executedPlan)
    val payload = Set("mh_bands_head", "mh_bands_tail")
    def carriesPayload(attrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]) =
      attrs.exists(a => payload.contains(a.name))
    assert(plans.exists(p => Plans.collect(p) {
      case s: FileSourceScanLike if carriesPayload(s.output) => s }.nonEmpty),
      "no query read the store's signature payload")
    val offending = plans.flatMap(p => Plans.collect(p) {
      case e: Exchange if carriesPayload(e.output) => e })
    assert(offending.isEmpty, offending.map(_.toString.take(500)).mkString("\n"))
  }
}
