package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.GraftConfig

/** End-to-end dedup pipeline — the Spark rendering of the reference's
  * find-duplicates flow (mainwindow.cpp:133-204; SURVEY §3.1). One lazy DAG:
  *
  *   pages -> [case-url dedup] -> fingerprint (narrow map)
  *         -> exact-dup pre-group (identical text collapses to one
  *            representative BEFORE LSH — on web corpora exact dups dominate,
  *            and this both removes the worst band-key skew and shrinks the
  *            candidate join quadratically)
  *         -> LSH band self-join (salted heavy keys) -> pair scoring
  *         -> [optional exact verify / substring pass]
  *         -> union-find -> member expansion -> keeper election
  *
  * Shuffle boundaries: case-dedup window; exact-group agg; band join;
  * pair dedup; union-find rounds; keeper window. Everything else is narrow.
  *
  * Driver-job budget (scaling-efficiency relevant — every driver job is a
  * fixed-latency serialization point that does not shrink with more cores):
  * ALL run metrics are computed in ONE union-aggregate job over the
  * persisted intermediates. Per-phase costs are not measured in here: every
  * phase's jobs carry a `graft: …` description ([[labeled]]), which a
  * listener outside the program attributes time and bytes to.
  */
object Pipeline {

  /** Storage level of every frame the pipeline persists. */
  private val storage = StorageLevel.MEMORY_AND_DISK

  final case class Result(
      signatures: DataFrame, // all fingerprint rows (incl. rejected)
      rejects: DataFrame, // (url, reason) — the _rejectedVideos analog
      pairs: DataFrame, // representative-level scored pairs w/ raw measures
      clusters: DataFrame, // (url, cluster_id, is_keeper, size, text_len, warc_ts)
      metrics: DataFrame // (metric, value) — the status-report analog (S14)
  )

  def run(pages: DataFrame, cfg: GraftConfig = GraftConfig()): Result = {
    val scanned = scan(pages, cfg)
    // Partitioning diet for the persisted signature frame: callers hand in
    // page sources at straggler-smoothing granularity (the bench uses
    // 8 x cores for the skewed synthesis map), but every downstream
    // consumer of the CACHED signatures re-pays that task count per scan —
    // at 60k docs that is 256 tasks of ~230 rows each, several times, and
    // cached scans get no AQE coalescing. Cap at 2 x defaultParallelism
    // (scale-adaptive: derived from the session, never a constant), only
    // ever shrinking. coalesce is narrow — the fingerprint map fuses into
    // the coalesced tasks, each reading several cached page partitions.
    val spark = pages.sparkSession
    val targetParts = 2 * spark.sparkContext.defaultParallelism
    val scanned2 =
      if (scanned.rdd.getNumPartitions > targetParts) scanned.coalesce(targetParts)
      else scanned
    // the ONE deduped page plan: fingerprinting reads it, and so does the
    // substring pass's text join — deduping the raw `pages` there again ran
    // the whole url dedup a second time whenever the plans differed
    // (coalesced or lang-filtered input)
    val deduped = Fingerprints.dropCaseDuplicateUrlsEager(scanned2)
    val sigs = Fingerprints.pruneForMode(
      Fingerprints.fromPagesPreDeduped(deduped, cfg), cfg).persist(storage)
    // Materialize the signature cache ONCE before the downstream fan-out
    // (guide §2.4 / the bnds.count() discipline in Candidates): the first
    // action below it (the dictionary sort) fans out into ~8 concurrent
    // AQE stage jobs — dedup-key aggregate, anti-join/collapse branches,
    // exact-group aggregate, member/rep joins — and concurrent first touch
    // of an UNPOPULATED cache races: each stage job re-ran the full
    // fingerprint expression over the corpus (measured as an 8-job ladder
    // owning 20.1 s of a 39 s 60k-doc run; one populate pass costs ~2 s).
    labeled(spark, "graft: fingerprint materialize") { sigs.count() }
    downstream(sigs, exactGroups(sigs), deduped, cfg)
  }

  /** The substringPass incremental hazard is live store rows whose TEXT is
    * absent from `pages` — those candidates are retained unmatched. Every
    * input row lands in the live view (committed or already resident), so
    * the hazard is detectable exactly as live rows exceeding input rows.
    * (A previous cut warned on `skipped > 0`, which fires on the CORRECT
    * usage — full live corpus passed, store satisfies most of it — and
    * stays silent on the hazardous batch-only shape.) The live view is a
    * measured leaf (or, over an empty store, a zero-row limit), so its row
    * count comes from its statistics ([[leafSize]]): no job. */
  private def warnIfSubstringTextMissing(liveSigs: DataFrame,
                                         inc: Resume.IncrementalResult,
                                         cfg: GraftConfig): Unit =
    if (cfg.substringPass) {
      val inputRows = inc.newlyFingerprinted + inc.skipped
      val (liveRows, _) = leafSize(liveSigs)
      if (liveRows > inputRows)
        System.err.println(
          "[graft] substringPass on an incremental run: `pages` must be the " +
            "LIVE page source (both sides of every possible pair), not just " +
            "the new batch — store-resident candidates whose text is missing " +
            "from `pages` cannot substring-match (they are kept, unmatched)")
    }

  /** Carry-over state for [[runIncrementalScoped]], the only store-backed
    * entry — every incremental caller (`Main --store`, `ResumeDemo`, the
    * benchmark's chain) goes through it: the previous run's rep
    * set (with content_id, for stale detection), its scored pairs table
    * (WITHOUT the per-run dictionary ids — those are not stable across
    * generations), and its rep-level cluster assignment.
    *
    * State frames are checkpoint leaves ([[leaf]]) at hand-off — pairs is
    * the generation's pairs leaf minus the id columns: an increment chain
    * otherwise stacks every previous generation's lineage into the current
    * plan — plan size (and plan-STRING size in listener events) grows per
    * increment until analysis itself becomes the bottleneck. Leaves make
    * each increment's plans O(this increment). On a real cluster the
    * durable version of this hand-off is the store itself (write
    * pairs/assign as tables, read them back next increment).
    *
    * `retained` carries the first generation's still-persisted reps — its
    * Result's lazy metrics aggregate them, so they cannot be released at
    * return; the NEXT scoped call unpersists them on entry. Consequence: the
    * first generation's metrics recompute from lineage if consumed after the
    * next increment starts. An increment retains nothing (`Nil`): it
    * releases its persisted reps once their checkpoint leaf is built, and
    * every frame it returns reads leaves. A k-increment chain's cache
    * footprint stays O(one increment) instead of k persisted corpus-sized
    * frames. The live signature view is a checkpoint leaf
    * (Resume.liveView), not a persisted frame. */
  final case class IncState(reps: DataFrame, pairs: DataFrame, repAssign: DataFrame,
                            retained: Seq[DataFrame] = Nil)

  /** The incremental entry, SCOPED to the increment (SURVEY §2.10
    * "re-cluster affected components"; reference analog
    * mainwindow.cpp:153-154 — skip unaffected work on re-runs).
    * Fingerprints come from / go to the Iceberg-shaped store (anti-join
    * resume, Resume.scala), and instead of re-running banding + scoring +
    * union-find over the FULL live set every increment, this path:
    *
    *   - generates candidates only for pairs with >= 1 NEW/CHANGED endpoint
    *     (Candidates.candidatePairs delta mode — a broadcastable new-side x
    *     all-side band join, no full-corpus shuffle);
    *   - keeps the previous pairs table verbatim for unchanged rep pairs
    *     (candidate generation is a pure function of the rep set);
    *   - re-runs the union-find ONLY over affected components + delta edges
    *     (Clusters.spliceAssign) — at 10^12 docs with small daily appends the
    *     re-cluster cost tracks the increment, not the corpus.
    *
    * Parity with a fresh one-shot run: EXACT (pairs table and assignment)
    * under salted-triangle heavy routing (heavyKeyStar = false) — see
    * spliceAssign's correctness note and candidatePairs' delta note. Under
    * the default star routing, an increment that touches a heavy band key
    * additionally KEEPS the previous run's old-old star/path links; the
    * edge set is a superset of the one-shot topology's, so clusters can
    * only coarsen, and only when a kept old edge is matched while every
    * one-shot path between its endpoints has an unmatched link — an
    * adversarial length-modifier asymmetry inside a near-identical
    * boilerplate group, not a shape this corpus produces.
    * substringPass callers must pass `pages` spanning BOTH sides of possible
    * pairs (the live page source), not just the increment batch: the store
    * holds fingerprints, not text, so a substring candidate whose old-side
    * text is absent from `pages` stays unmatched (the left join retains it
    * with a null overlap). A warning is emitted when this shape is
    * detectable.
    *
    * First call (prev = None) runs the full downstream over the live set,
    * commits the band relation to `<root>/bands` and builds the state; a
    * one-process run (`Main --store`) is exactly this generation. A later
    * call scans that table once, into the one band relation leaf that feeds
    * its stale-key expansion, delta join and table update. Returns
    * (result, resume stats, state-for-next-call).
    * Metrics gain recluster_edges / affected_clusters / untouched_clusters —
    * the scale evidence that the union-find input is bounded by affected
    * components. */
  def runIncrementalScoped(pages: DataFrame, store: graft.store.IcebergShaped.Table,
                           prev: Option[IncState],
                           cfg: GraftConfig = GraftConfig())
      : (Result, Resume.IncrementalResult, IncState) = {
    val inc = Resume.incrementalFingerprints(scan(pages, cfg), store, cfg)
    val sigs = inc.signatures // a materialized checkpoint leaf (Resume.liveView)
    warnIfSubstringTextMissing(sigs, inc, cfg)

    // ONE exact-group derivation (the grouping rule — min-url election per
    // text_md5 — must never diverge between the scoped and one-shot paths),
    // read below and handed to downstream() on the first generation.
    val eg = exactGroups(sigs)
    val reps = eg.reps

    // Band-relation persistence between increments (round-6; r5 VERDICT #1,
    // the reference's read-before-compute cache protocol applied to the
    // candidate layer, db.cpp:50-69 analog): each generation commits the
    // band rows of its rep set to a sibling store table; the NEXT increment
    // reads them back ONCE, drops stale reps' rows, and only explodes the
    // NEW reps' bands — candidate generation no longer re-derives the full
    // band relation from the full signature payload every increment.
    val spark = sigs.sparkSession
    val bandsTable = graft.store.IcebergShaped.table(store.root + "/bands")
    // (url, band_id, key, part_id) rows of `repFrame`
    def bandRowsOf(repFrame: DataFrame): DataFrame =
      Candidates.bandKeysByUrl(repFrame, cfg)
        .withColumn("part_id",
          pmod(xxhash64(col("url")), lit(cfg.storeParts)).cast("int"))
        // cluster by the partition column before the partitionBy write so
        // each part_id lands as ONE file instead of one per write task
        // (guide §6 output sizing — the explode otherwise fans 32 dirs x
        // n-task small files)
        .repartition(col("part_id"))
    def commitBands(rows: DataFrame, operation: String): Unit =
      bandsTable.commit(rows.withColumn("config_fp", lit(cfg.configFp)), cfg.configFp, operation)

    prev match {
      case None =>
        val res = downstream(sigs, eg, Pairs.substringText(pages), cfg)
        val repsCk0 = leaf(spark, "graft: incr reps checkpoint")(reps)
        // first-generation band commit: reps are persisted+materialized by
        // downstream() at this point, so this is one slim explode + write
        labeled(spark, "graft: band store commit") {
          commitBands(bandRowsOf(repsCk0), "overwrite")
        }
        // res.pairs is already a leaf: dropping the dictionary ids over it
        // is an O(1) plan, so the state needs no checkpoint of its own
        val state = IncState(repsCk0, res.pairs.drop("id_a", "id_b"),
          leaf(spark, "graft: incr assign checkpoint") {
            res.clusters.join(reps.select("url"), Seq("url"), "left_semi")
              .select(col("url"), col("cluster_id"))
          },
          retained = Seq(reps))
        (res, inc, state)

      case Some(st) =>
        // release the PREVIOUS generation's persisted corpus-sized frame
        // (reps): the state hand-off is all checkpoint leaves, so nothing in
        // this increment reads it — see IncState.retained
        st.retained.foreach(_.unpersist(false))
        // Lineage truncation at branch ENTRY, not just at hand-off: this
        // branch runs ~a dozen eager actions (the new/stale aggregate, delta
        // persists, splice rounds, metric aggregates) and each one would
        // re-ANALYZE the full reps lineage — measured, when the live view
        // was still a lazy store read, as the wall time of a 2k-doc
        // increment being ~3x driver-side planning, ~1/4 execution.
        // The one-shot path pays that analysis once (downstream truncates at
        // the pairs boundary); here the same truncation happens up front.
        // The same checkpoint serves the increment's work and the outgoing
        // state; it is the one copy of the rep set this increment keeps —
        // the persisted `reps` it was built from has no reader after it.
        val repsCk = leaf(spark, "graft: incr reps checkpoint")(reps)
        reps.unpersist(false)
        // new/changed vs stale reps by (url, content_id): a re-crawled url
        // (new warc_ts -> new content_id) is BOTH stale (old pairs invalid)
        // and new (delta candidates regenerate them); a demoted rep (its
        // text group gained a smaller url) is stale only. ONE full-outer
        // identity join yields both sides (reps are unique per url), and one
        // aggregate job below materializes it and answers both emptiness
        // questions.
        val identDiff = repsCk.select(col("url"), col("content_id"), lit(true).as("__cur"))
          .join(st.reps.select(col("url"), col("content_id"), lit(true).as("__prev")),
            Seq("url", "content_id"), "full_outer")
          .filter(col("__cur").isNull || col("__prev").isNull)
          .select(col("url"), col("__prev").isNull.as("__new"))
          .persist(storage)
        val newUrls = identDiff.filter(col("__new")).select("url")
        val staleUrls = identDiff.filter(!col("__new")).select("url")

        val (hasNew, hasStale) =
          labeled(spark, "graft: incr new/stale detect") {
            val n = identDiff.agg(count(when(col("__new"), 1)),
              count(when(!col("__new"), 1))).head()
            (n.getLong(0) > 0, n.getLong(1) > 0)
          }

        // The current rep set's band relation, built ONCE from one store
        // read: the stored rows of this config minus stale reps, plus a fresh
        // explode of the NEW reps only — row-identical to a full re-explode
        // (bands are a pure function of the rep row; unchanged
        // (url, content_id) means an unchanged row). The stale-key expansion,
        // the delta join and the table update below all read this leaf.
        // A table with no files (a wiped sibling dir, or no earlier
        // generation had reps — an empty partitionBy write lists none)
        // stands in as the previous generation's explode: st.reps is that
        // generation's rep set.
        val wasEmpty = bandsTable.isEmpty
        val bands = leaf(spark, "graft: band relation build") {
          val stored =
            if (wasEmpty) bandRowsOf(st.reps)
            else bandsTable.read(spark).filter(col("config_fp") === cfg.configFp)
              .select("url", "band_id", "key", "part_id")
          stored.join(staleUrls, Seq("url"), "left_anti")
            .unionByName(bandRowsOf(repsCk.join(newUrls, Seq("url"), "left_semi")))
        }

        // stale-key expansion (round-5 review): keptPrev below drops EVERY
        // previous pair with a stale endpoint, but under star routing those
        // pairs can BE a heavy group's connective topology (its hub links, a
        // chain position) — and a stale rep's keys are invisible to the
        // delta's touched-key detection, which only sees NEW reps' keys. A
        // re-crawled hub therefore fragmented its cluster vs one-shot. Seed
        // the delta new-side with the CURRENT members of every key a stale
        // rep used to emit. Those keys are the stale reps' explode from the
        // previous generation's rep leaf — the rows the table holds for them
        // — so the expansion reads no store. Runs only on increments that
        // actually contain stale reps.
        val seedUrls =
          if (!hasStale) newUrls
          else {
            val staleKeys = Candidates.bandKeysByUrl(
              st.reps.join(staleUrls, Seq("url"), "left_semi"), cfg)
              .select("band_id", "key").distinct()
            val coMembers = bands
              .join(staleKeys, Seq("band_id", "key"), "left_semi")
              .select("url").distinct()
            newUrls.unionByName(coMembers).distinct()
          }

        val cand = Candidates.candidatePairs(repsCk, cfg,
          Some(Candidates.Delta(seedUrls, bands)))
        val scoredBase = Pairs.score(cand, cfg)
        val scoredVerified =
          if (cfg.exactVerify) Pairs.exactVerify(scoredBase, repsCk, cfg) else scoredBase
        val delta =
          (if (cfg.substringPass) Pairs.substringPass(scoredVerified, pages, cfg)
           else scoredVerified).drop("id_a", "id_b").persist(storage)

        val keptPrev = st.pairs
          .join(staleUrls.select(col("url").as("url_a")), Seq("url_a"), "left_anti")
          .join(staleUrls.select(col("url").as("url_b")), Seq("url_b"), "left_anti")
        // the stale-key expansion re-emits topology for affected groups, so
        // delta can recompute pairs keptPrev already holds; dedup keeps the
        // PREVIOUS generation's row. Both endpoints of a keptPrev pair are
        // unchanged reps, so the decision columns are a pure function of the
        // same two signatures — identical when delta is fully informed — but
        // the OLD row is the better-informed one when this increment's
        // `pages` batch lacks an old url's text (the warned batch-only
        // shape): a delta recompute there would downgrade a previously
        // substring-matched pair to overlap_len=null / matched=false.
        val deltaNew = delta.select(keptPrev.columns.map(col): _*)
          .join(keptPrev.select("url_a", "url_b"), Seq("url_a", "url_b"), "left_anti")
        val pairs = leaf(spark, "graft: incr pairs checkpoint") {
          keptPrev.unionByName(deltaNew)
        }

        val splice = labeled(spark, "graft: incr splice") {
          Clusters.spliceAssign(repsCk.select("url"), st.repAssign,
            st.pairs.filter(col("matched")), delta.filter(col("matched")), staleUrls)
        }
        val repAssign = leaf(spark, "graft: incr assign checkpoint")(splice.assign)
        // same result-boundary lineage truncation as downstream(): the
        // increment-chain plans stay O(this increment) for every consumer
        val clusters = leaf(spark, "graft: incr clustering")(expandAndElect(eg, repAssign))

        import spark.implicits._
        val metrics = runMetrics(sigs, repsCk, pairs, clusters)
          .unionByName(Seq(
            ("recluster_edges", splice.reclusterEdges),
            ("affected_clusters", splice.affectedClusters),
            ("untouched_clusters", splice.untouchedClusters)).toDF("metric", "value"))

        val res = Result(sigs, eg.rejects, pairs, clusters, metrics)
        // every returned frame is a checkpoint leaf (sigs, pairs, repAssign,
        // clusters, state.reps), so nothing is retained: the increment-local
        // caches are released below, keeping a long incremental chain's cache
        // footprint O(one increment)
        val state = IncState(repsCk, pairs, repAssign)
        // Band-table maintenance for the NEXT generation, written from the
        // leaf (no second store read): a stale increment — or one that found
        // no table — replaces the table with the current relation; otherwise
        // the new reps' rows are appended (still clustered by part_id, one
        // file per part_id).
        labeled(spark, "graft: band store update") {
          if (hasStale || wasEmpty) commitBands(bands, "overwrite")
          else if (hasNew) commitBands(bands.join(newUrls, Seq("url"), "left_semi"), "append")
          // else no rep-set change: the table is already current
        }
        identDiff.unpersist(false)
        delta.unpersist(false)
        (res, inc, state)
    }
  }

  /** S2 analog (extension filter): lang predicate on the scan — pushed to
    * the source by Catalyst (row-group skip on Parquet). Shared with the
    * streaming ingest sink: every entry into fingerprinting applies it. */
  private[graft] def scan(pages: DataFrame, cfg: GraftConfig): DataFrame =
    cfg.langFilter match {
      case Some(ls) => pages.filter(col("lang").isin(ls.toSeq: _*))
      case None => pages
    }

  /** Label the jobs of `body` in the Spark UI / listeners (guide §1.5);
    * restores the caller's description so Bench sweep labels survive. */
  private[graft] def labeled[T](spark: org.apache.spark.sql.SparkSession,
                                desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** THE way the engine materializes an intermediate: an eager local
    * checkpoint of `df`, run under `desc`, so every such job is attributable
    * to its phase. The leaf reports what it materialized — its row count and
    * `UnsafeRow` bytes, counted by the checkpoint job's own tasks
    * ([[org.apache.spark.sql.graftbridge.CheckpointBridge]]) — instead of
    * the origin plan's estimate (1e24+ bytes over the candidate layer's
    * joins). So Catalyst plans a join with a leaf side under
    * `spark.sql.autoBroadcastJoinThreshold` as a broadcast join up front
    * (the band self-join, the pair payload join-back at small scale) and
    * keeps the sort-merge join above it, instead of shuffling both sides
    * before AQE demotes the join; [[leafSize]] reads the same numbers.
    *
    * Why a checkpoint leaf and not persist+count, wherever a frame is read
    * again:
    *  - AQE materializes query stages concurrently, and concurrent consumers
    *    of an unmaterialized frame race — each recomputes the full upstream
    *    lineage. The eager job materializes once, before any consumer is
    *    planned.
    *  - A frame referenced by several join branches is re-ANALYZED per
    *    reference as a logical tree (the shared subtrees multiply out —
    *    measured as multi-second zero-job driver gaps and >10M-char plan
    *    strings); a LogicalRDD leaf makes every reference O(1) to plan.
    *  - Blocks are freed by the ContextCleaner once no frame references the
    *    leaf, so no caller keeps an unpersist list.
    * The leaf is lost on executor death; on a real cluster the durable
    * equivalent is a store write read back. The one other checkpoint is the
    * star round in [[Clusters.connectedComponents]], the same measured
    * checkpoint without a label of its own. */
  private[graft] def leaf(spark: org.apache.spark.sql.SparkSession, desc: String)(
      df: => DataFrame): DataFrame =
    labeled(spark, desc)(org.apache.spark.sql.graftbridge.CheckpointBridge.localCheckpoint(df))

  /** (rows, `UnsafeRow` bytes) a [[leaf]] measured when it materialized —
    * read from its plan statistics, so it costs no job. */
  private[graft] def leafSize(df: DataFrame): (Long, Long) = {
    val st = df.queryExecution.analyzed.stats
    val rows = st.rowCount.getOrElse(
      throw new IllegalArgumentException("not a measured leaf: no row count in its statistics"))
    (rows.toLong, st.sizeInBytes.toLong)
  }

  /** The shared relational core: candidates -> scoring -> [exact verify /
    * substring pass] -> union-find -> keeper election over the caller's
    * exact groups. `pairs` and `clusters` come back MATERIALIZED and
    * lineage-truncated (see the checkpoint note below); `signatures` is the
    * caller's frame. `text` is the substring pass's one-row-per-url text
    * source, evaluated only when that pass is on. */
  private def downstream(sigs: DataFrame, eg: ExactGroups, text: => DataFrame,
                         cfg: GraftConfig): Result = {
    // candidates + scoring (representative level); lazy up to the checkpoint
    val scored = Pairs.score(Candidates.candidatePairs(eg.reps, cfg), cfg)
    // Lineage truncation at the result boundary ([[leaf]]). The candidate
    // stage is a DAG of self-joins and unions over the same subtrees (band
    // self-join, heavy/light routing, payload join-back, verify re-joins),
    // so every DataFrame later derived from `pairs`/`clusters` would
    // re-analyze a tree that grows geometrically with consumer depth —
    // measured as multi-minute single-core driver stalls per derived query.
    // The union-find needs the rows anyway, so the leaf costs no extra pass.
    //
    // The exact-verify and substring passes are applied AFTER the first
    // checkpoint (round-6): planned inline, each pass's gated/untouched
    // union referenced the full candidate tree TWICE (and the substring
    // text joins re-walked it per side) — measured as 8-10 s ZERO-JOB
    // driver planning gaps before the pairs checkpoint at 8k docs. Over a
    // LogicalRDD leaf each pass's plan is O(1); one extra pair-volume
    // checkpoint materialization per enabled pass buys it.
    val spark = sigs.sparkSession
    val pairsBase = leaf(spark, "graft: pairs checkpoint")(scored)
    val pairsVerified =
      if (!cfg.exactVerify) pairsBase
      else leaf(spark, "graft: exact verify")(Pairs.exactVerify(pairsBase, eg.reps, cfg))
    val pairs =
      if (!cfg.substringPass) pairsVerified
      else leaf(spark, "graft: substring pass")(Pairs.checkSubstrings(pairsVerified, text, cfg))
    // union-find (EAGER — iterative) over the matched pairs; pairs carry
    // dictionary ids, so its rounds shuffle longs
    val clusters = leaf(spark, "graft: clustering") {
      expandAndElect(eg, Clusters.assignByIds(eg.reps.select("url"),
        pairs.filter(col("matched"))))
    }

    Result(sigs, eg.rejects, pairs, clusters, runMetrics(sigs, eg.reps, pairs, clusters))
  }

  private final case class ExactGroups(rejects: DataFrame, valid: DataFrame,
                                       members: DataFrame, reps: DataFrame)

  /** Exact-duplicate pre-grouping (one representative = min url per distinct
    * text) — the ONE definition of the grouping rule: every entry point
    * derives it once and hands it to downstream (the scoped increment also
    * reads it directly). reps comes back persisted: candidates, verify,
    * clustering and the metrics all read it. members is lazy — its one
    * reader is the member-expansion join. */
  private def exactGroups(sigs: DataFrame): ExactGroups = {
    val rejects = sigs.filter(col("reject_reason").isNotNull)
      .select(col("url"), col("reject_reason").as("reason"))
    val valid = sigs.filter(col("reject_reason").isNull)
    val groups = valid.groupBy("text_md5").agg(min("url").as("rep_url"))
    val members = valid.select(col("url"), col("text_md5"))
      .join(groups, "text_md5")
      .select(col("url"), col("rep_url"))
    val reps = valid.join(
      groups.select(col("rep_url").as("url")), Seq("url"), "left_semi")
      .persist(storage)
    ExactGroups(rejects, valid, members, reps)
  }

  /** Rep-level (url, cluster_id) assignment -> every member of each exact
    * group, with its keeper-election columns -> keepers elected. */
  private def expandAndElect(eg: ExactGroups, repAssign: DataFrame): DataFrame = {
    val memberClusters = eg.members
      .join(repAssign.withColumnRenamed("url", "rep_url"), "rep_url")
      .select(col("url"), col("cluster_id"))
    Clusters.electKeepers(memberClusters
      .join(eg.valid.select(col("url"), col("size"), col("text_len"), col("warc_ts")), "url"))
  }

  /** The run metrics (S14) shared by every entry point, in ONE driver job:
    * per-frame aggregates are exploded to (metric, value) rows and unioned,
    * so one collect scans the persisted intermediates once — no per-phase
    * .head()/count() fan-out. */
  private def runMetrics(sigs: DataFrame, reps: DataFrame, pairs: DataFrame,
                         clusters: DataFrame): DataFrame =
    kvMetrics(sigs.agg(
      count(lit(1)).as("signatures"),
      coalesce(sum(when(col("reject_reason").isNotNull, 1L)), lit(0L)).as("rejected"),
      coalesce(sum(when(!col("extract_ok"), 1L)), lit(0L)).as("extract_mismatches")))
      .unionByName(kvMetrics(reps.agg(count(lit(1)).as("exact_groups"))))
      .unionByName(kvMetrics(pairs.agg(
        count(lit(1)).as("candidate_pairs"),
        coalesce(sum(when(col("matched"), 1L)), lit(0L)).as("matched_pairs"))))
      .unionByName(kvMetrics(clusters.groupBy("cluster_id").count().agg(
        coalesce(sum(when(col("count") > 1, 1L)), lit(0L)).as("dup_clusters"),
        coalesce(sum(when(col("count") > 1, col("count"))), lit(0L)).as("docs_in_dup_clusters"))))

  /** Explode a one-row aggregate frame into (metric, value) rows — keeps the
    * whole metrics surface inside one job when unioned. */
  private def kvMetrics(agg1row: DataFrame): DataFrame = {
    val cols: Seq[Column] = agg1row.columns.toSeq.map(c =>
      struct(lit(c).as("metric"), col(c).cast("long").as("value")))
    agg1row.select(explode(array(cols: _*)).as("kv"))
      .select(col("kv.metric").as("metric"), col("kv.value").as("value"))
  }
}
