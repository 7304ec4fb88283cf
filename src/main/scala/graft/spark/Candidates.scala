package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.GraftConfig

/** Candidate-pair generation: the Spark replacement for the reference's
  * O(n^2) all-pairs nested loop (comparison.cpp:34-42, 101-126) — SURVEY §2.3
  * J2. All band families share one equi-join on (band_id, key); matching is
  * slot-wise like the reference (hash[0] vs hash[0], hash[1] vs hash[1],
  * comparison.cpp:133-136), so every family is slot-wise too:
  *
  *  - slot-wise minhash bands (head: 100.., tail: 200..): 64-bit hash of r
  *    consecutive slot-minhash rows. P(candidate) = 1-(1-J_slot^4)^32 — ~1.0
  *    at the slot Jaccard levels that clear the 57/64 Hamming threshold.
  *    Slot-wise (not full-doc) because a pair can match on one nearly
  *    identical slot while global Jaccard is low (shared boilerplate heads).
  *  - short-slot rescue bands (band_id 300..): dense r=2 x 64 minhash bands,
  *    emitted only for slots with < shortSlotShingles distinct shingles.
  *    Short slots have noisy SimHash bits (a matching pair can sit at slot
  *    Hamming 5-8 with slot Jaccard ~0.3), where r=4 banding under-recalls;
  *    r=2 x 64 catches J_slot=0.3 w.p. 0.9976 — and minhash keys collide
  *    only for genuinely similar docs, so the family adds no random join
  *    load.
  *  - (optional, cfg.substringPass) sampled-shingle bands (band_id 1000):
  *    key = shingle hash where hash % sampleMod == 0 (winnowing-style
  *    sample) — the candidate source for the suffix-array substring pass
  *    (SURVEY §2.8 V4), which catches long verbatim overlaps whose
  *    Jaccard/Hamming are far from the thresholds.
  *
  * Scale note (10^12 docs): exact-dup pre-grouping (Pipeline) removes the
  * dominant duplicate mass before banding, and every band key is a 64-bit
  * minhash or shingle hash, so keys keep their entropy at any scale. Hot
  * keys that remain are handled below by the salted triangle join, not by
  * luck.
  */
object Candidates {

  /** Band rows are slim — (band_id, key, id) only, where `id` is a dense
    * dictionary long (the order-preserving encoding built at the top of
    * [[candidatePairs]]), NOT the url string. Scoring
    * payloads join back AFTER pair-dedup: the deduped pair count is orders of
    * magnitude smaller than the band-join volume, so two hash joins against a
    * slim signature projection beat carrying payload bytes through the
    * shuffle — and an 8-byte key through the band join + pair-dedup +
    * union-find shuffles beats a ~40-80-byte url severalfold on the
    * bandwidth-bound stages (round-4 scaling measurement). */

  /** Explode signatures (representatives, keyed by dictionary `id`) into band
    * rows. band_id layout: 100.. minhash head bands, 200.. minhash tail
    * bands, 300.. rescue bands for short head then tail slots, 1000 sampled
    * shingles. */
  def bands(reps: DataFrame, cfg: GraftConfig): DataFrame = {
    // Two small generators: one row per family carrying its key array and
    // band_id base, then one row per key (band_id = base + position). Rescue
    // arrays are empty for long slots and every key array is empty for an
    // empty slot, so those emit no rows. A literal array of one struct per
    // band (192 at the defaults) generates a method over the JIT's
    // 8,000-byte limit, which then runs interpreted (BandExplodeSpec).
    val family = array(
      struct(lit(100).as("base"), col("mh_bands_head").as("keys")),
      struct(lit(200).as("base"), col("mh_bands_tail").as("keys")),
      struct(lit(300).as("base"), col("mh_rescue_head").as("keys")),
      struct(lit(300 + cfg.numPerm / 2).as("base"), col("mh_rescue_tail").as("keys")))
    val base = reps
      .select(col("id"), explode(family).as("f"))
      .select(col("id"), col("f.base").as("base"),
        posexplode(col("f.keys")).as(Seq("pos", "key")))
      .select(col("id"), (col("base") + col("pos")).as("band_id"), col("key"))

    if (!cfg.substringPass) base
    else {
      // sampled full-doc shingles as band keys (all under one band_id: the
      // key IS the shingle hash, 64-bit entropy). The sample (ss_keys) is
      // drawn inside the fingerprint kernel from the FULL pre-cap shingle
      // stream — a verbatim block in a giant doc whose shingles were capped
      // away from the stored bottom-k sketch still becomes a candidate.
      val sampled = reps
        .select(col("id"), explode(col("ss_keys")).as("key"))
        .select(col("id"), lit(1000).as("band_id"), col("key"))
      base.unionByName(sampled)
    }
  }

  /** Band keys per URL (no dictionary encoding) — the band relation the
    * scoped increment keeps in the store (`<root>/bands`), and the one a
    * [[Delta]] carries: [[Pipeline.runIncrementalScoped]] commits these rows
    * per generation, explodes the keys a STALE rep used to emit from the
    * previous generation's reps, and finds the current members of those
    * keys in the relation it read back, so a group whose
    * topology links left with the stale rep (a re-crawled star hub, a
    * demoted rep) regenerates in full instead of fragmenting. */
  private[graft] def bandKeysByUrl(reps: DataFrame, cfg: GraftConfig): DataFrame =
    bands(reps.withColumn("id", col("url")), cfg)
      .select(col("id").as("url"), col("band_id"), col("key"))

  /** The increment of a delta-mode [[candidatePairs]] call.
    *
    * @param newUrls (url) rows of the reps whose pairs are regenerated: every
    *   emitted pair has at least one endpoint here.
    * @param bands the band relation (url, band_id, key, ...) of the WHOLE
    *   current rep set; its (url, band_id, key) rows must equal what
    *   [[bandKeysByUrl]] over `reps` emits. The caller passes a MATERIALIZED
    *   relation (a [[Pipeline.leaf]]): the key-count pass and every join
    *   branch below read it as is, with no checkpoint of their own. The
    *   scoped pipeline builds it from one store read instead of re-exploding
    *   the full rep set, so an increment explodes only its NEW reps' bands
    *   (bands are a pure function of the rep row). */
  final case class Delta(newUrls: DataFrame, bands: DataFrame)

  /** Self-join bands into distinct candidate pairs (url_a < url_b), with
    * explicit salted handling of heavy band keys. With a [[Delta]], only
    * pairs with a new endpoint are emitted, over the delta's band relation,
    * and `reps` must be a materialized leaf: its payload projection is read
    * by the join-back without a checkpoint of its own.
    *
    * Heavy keys (> cfg.heavyBandKeyCap rows — boilerplate bands, near-constant
    * simhash slices) are routed through a triangle-bucket replicated join
    * (theta-join partitioning): each row gets bucket b = hash(url) % s and is
    * replicated to the s tasks {(min(b,r), max(b,r))}; task (i,j) emits
    * cross-bucket pairs only (i<j) or same-bucket pairs (i==j). Same total
    * pair work, but spread over s(s+1)/2 reducers instead of one — the
    * north-rule "salted keys for skewed buckets". AQE skew-join remains on as
    * backstop for moderately hot keys.
    */
  def candidatePairs(reps: DataFrame, cfg: GraftConfig,
                     delta: Option[Delta] = None): DataFrame = {
    // dictionary-encode urls to dense order-preserving longs for the whole
    // candidate layer: every shuffle from here to pair join-back carries an
    // 8-byte id instead of the url string (the largest measured bandwidth
    // cost on the band join and pair dedup at scale). The slim band-input
    // projection (fingerprint columns only — never the shingle arrays) is
    // joined to the dictionary ONCE at rep volume; urls re-enter at pair
    // volume via the payload join-back.
    val spark = reps.sparkSession
    import spark.implicits._
    // Order-preserving dense dictionary: id(url) = rank of url in the sorted
    // rep url set. Order isomorphism is load-bearing — min(id) of a set is
    // min(url), and id_a < id_b iff url_a < url_b — so every downstream
    // min/ordering decision (hub election, pair orientation, cluster_id =
    // component min) is bit-identical to the url-keyed semantics after
    // mapping back. The mapping is a pure function of the url SET (global
    // sort rank), independent of input partitioning — the pairs-table
    // determinism contract (SURVEY §5.7) survives the encoding.
    // The sorted url RDD is read twice (zipWithIndex's partition-size job +
    // the dictionary join) — persist for the window, released after the
    // rawPairs match below materializes everything downstream of it.
    //
    // DELTA MODE runs url-keyed (id = url) and skips the dictionary
    // entirely: the rank dictionary costs a full-corpus SORT plus a
    // full-corpus dictionary JOIN — two wide shuffles that would otherwise
    // run on EVERY increment at 10^12-doc scale, while the ids they buy are
    // dropped by the scoped caller anyway (Pipeline.runIncrementalScoped
    // strips id_a/id_b before the state hand-off; the splice union-find is
    // url-keyed and bounded by the affected subgraph, not the corpus). The
    // byte diet matters on the one-shot path, where the band join and every
    // union-find round shuffle the full candidate volume; a delta's pair
    // volume is increment-sized, so string keys there cost noise. Semantics:
    // url order IS id order (the isomorphism trivially), hub election and
    // pair orientation are unchanged; the one divergence is the sampled
    // heavy-key CLASSIFICATION hash (xxhash64 over id — rank long one-shot,
    // url string delta), so a borderline sampled key can classify
    // differently than one-shot. Under salted-triangle routing the pair SET
    // is classification-invariant (light equi-join and triangle both emit
    // every in-key pair); under star routing the delta topology is already
    // documented as a conservative superset of one-shot's.
    val sortedUrls =
      if (delta.isDefined) None
      else Some(Pipeline.labeled(spark, "graft: url dictionary sort") {
        reps.select(col("url")).orderBy("url").as[String].rdd
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      })
    val bandCols = Seq("simhash_head", "simhash_tail",
      "mh_bands_head", "mh_bands_tail", "mh_rescue_head", "mh_rescue_tail") ++
      (if (cfg.substringPass) Seq("ss_keys") else Nil)
    val repProj = reps
      .select(("url" +: (bandCols ++ Seq("text_len", "size"))).map(col): _*)
    // repSlim and the band relation are referenced by ~6 join branches of
    // the pairs plan: checkpoint leaves (Pipeline.leaf), so each reference
    // is O(1) to plan — as cached frames, the tree below each reference was
    // re-analyzed per branch (a multi-second zero-job driver gap before the
    // pairs checkpoint). In delta mode `reps` is already the caller's leaf
    // and the projection is a select over it: nothing to materialize.
    val repSlim = sortedUrls match {
      case Some(su) => Pipeline.leaf(spark, "graft: rep projection") {
        repProj.join(su.zipWithIndex().toDF("url", "id"), "url")
      }
      case None => repProj.withColumn("id", col("url"))
    }

    // the band relation feeds the key-count pass, both sides of the light
    // self-join and both sides of the heavy triangle join. In delta mode it
    // is the caller's materialized (store-backed) relation, never an
    // explode or a second leaf here.
    val bnds = delta match {
      case Some(d) => d.bands.select(col("url").as("id"), col("band_id"), col("key"))
      case None => Pipeline.leaf(spark, "graft: band relation build")(bands(repSlim, cfg))
    }
    // sortedUrls (one-shot mode only) is released after the rawPairs match
    // below, once everything downstream of the dictionary is planned

    // heavy-key detection, sampled by default: a full groupBy-count of the
    // band relation costs one more full shuffle; sampling finds every key
    // whose true count is far above the cap, and borderline keys that slip
    // through stay load-balanced by AQE skew-join.
    //
    // The sample is a CONTENT-hash filter (xxhash64 of the row's own fields
    // against a fixed modulus), not df.sample: a per-partition row sample
    // classifies a different borderline-heavy set under every partitioning,
    // which made matched_pairs differ between local[4] and local[16] on the
    // same input (round-3 verdict #2). A content-hash sample admits exactly
    // the same rows regardless of partitioning or task order (ids are
    // themselves a pure function of the url set), so the pairs TABLE (not
    // just the clusters) is partition-invariant — SURVEY §5.7.
    // Materialized once, like bnds above: the set feeds two consumers
    // one-shot (light anti-join + heavy semi-join) and three in delta mode —
    // unmaterialized, each action re-ran the aggregation over the full band
    // relation and re-broadcast it.
    //
    // The common case has NO heavy keys (boilerplate bands only appear in
    // skewed corpora), so the whole heavy branch is skipped when the set is
    // empty — otherwise the empty-set plumbing still pays a full
    // band-relation scan for the heavy slice plus the anti-join stream
    // filter on every light row. Pair-set identical by construction (an
    // empty heavy set routes nothing through either branch). The key set is
    // broadcast-sized by construction, so ONE job collects it to the driver
    // and every consumer reads it back as a local relation.
    val heavyQuery = {
      val frac = cfg.heavyDetectSampleFrac
      if (frac <= 0)
        bnds.groupBy("band_id", "key").count()
          .filter(col("count") > cfg.heavyBandKeyCap)
          .select("band_id", "key")
      else {
        val m = 1L << 20
        val cut = math.max(1L, math.round(m * frac))
        bnds.filter(
          pmod(xxhash64(col("band_id"), col("key"), col("id"), lit(cfg.seed)), lit(m)) < cut)
          .groupBy("band_id", "key").count()
          .filter(col("count") > cfg.heavyBandKeyCap * (cut.toDouble / m) / 2)
          .select("band_id", "key")
      }
    }
    val heavyKeyRows = Pipeline.labeled(spark, "graft: heavy-key detect")(heavyQuery.collect())
    val noHeavy = heavyKeyRows.isEmpty
    val heavyKeys = spark.createDataFrame(
      java.util.Arrays.asList(heavyKeyRows: _*), heavyQuery.schema)
    val light =
      if (noHeavy) bnds
      else bnds.join(broadcast(heavyKeys), Seq("band_id", "key"), "left_anti")

    /** Heavy-group pair generation over a (already heavy-key-restricted) band
      * relation — shared by the full self-join path and the incremental delta
      * path (which restricts it further to keys touched by the increment). */
    def heavyPairGen(heavyRows: DataFrame): DataFrame =
      if (cfg.heavyKeyStar) {
        // STAR + PATH generation, O(n) per heavy group: every row links to
        // the group's min-url hub, and to a path neighbor. The path links
        // close clusters that the hub alone can miss (e.g. the hub fails
        // the length-modifier against one member that still matches its
        // neighbors); heavy groups are near-identical masses, so adjacent
        // members almost surely match. Exact pair-table parity needs
        // heavyKeyStar=false (salted triangle).
        //
        // NO single-task windows: a Window.partitionBy(band_id, key) would
        // put the ENTIRE heavy group in one sorted task — the very
        // straggler this routing exists to avoid (at 10^12 docs a
        // boilerplate band key can be 10^8 rows). Instead:
        //  - the hub is a distributed groupBy.agg(min) + join-back;
        //  - path links run inside salted sub-buckets (lag over
        //    (band_id, key, bucket) — each window partition is ~1/s of the
        //    group), plus s-1 boundary links stitched from the per-bucket
        //    (min, max) aggregate, which is only s rows per heavy key. The
        //    result is still one path visiting every member, in
        //    (bucket, url) order rather than global url order.
        val s = cfg.saltBuckets
        val hubs = heavyRows.groupBy("band_id", "key")
          .agg(min(col("id")).as("hub_id"))
        // one row per heavy key — broadcast explicitly so Catalyst can never
        // pick a sort-merge join that re-shuffles the whole heavy group into
        // one task per key (the exact straggler this path exists to avoid)
        val hubLinks = heavyRows.join(broadcast(hubs), Seq("band_id", "key"))
          .filter(col("id") =!= col("hub_id"))
          .select(col("hub_id").as("id_a"), col("id").as("id_b"), col("band_id"))

        val bucketed = heavyRows
          .withColumn("bucket", pmod(xxhash64(col("id")), lit(s)).cast("int"))
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_id"), col("key"), col("bucket")).orderBy(col("id"))
        val inBucket = bucketed
          .withColumn("prev", lag(col("id"), 1).over(wb))
          .filter(col("prev").isNotNull)
          .select(col("prev").as("id_a"), col("id").as("id_b"), col("band_id"))
        val bounds = bucketed.groupBy("band_id", "key", "bucket")
          .agg(min(col("id")).as("first_id"), max(col("id")).as("last_id"))
        val wg = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_id"), col("key")).orderBy(col("bucket"))
        val boundary = bounds
          .withColumn("prev_last", lag(col("last_id"), 1).over(wg))
          .filter(col("prev_last").isNotNull)
          .select(least(col("prev_last"), col("first_id")).as("id_a"),
            greatest(col("prev_last"), col("first_id")).as("id_b"), col("band_id"))
          .filter(col("id_a") =!= col("id_b"))
        hubLinks.unionByName(inBucket).unionByName(boundary)
      } else {
        // salted triangle self-join (theta-join partitioning over buckets)
        val s = cfg.saltBuckets
        val heavy = heavyRows
          .withColumn("bucket", pmod(xxhash64(col("id")), lit(s)).cast("int"))
          .withColumn("r", explode(array((0 until s).map(lit): _*)))
          .withColumn("bi", least(col("bucket"), col("r")))
          .withColumn("bj", greatest(col("bucket"), col("r")))
          .drop("r")
        val ha = heavy.withColumnsRenamed(Map("id" -> "id_a", "bucket" -> "bucket_a"))
        val hb = heavy.withColumnsRenamed(Map("id" -> "id_b", "bucket" -> "bucket_b"))
        ha.join(hb, Seq("band_id", "key", "bi", "bj"))
          .filter(col("id_a") < col("id_b"))
          .filter(col("bi") === col("bj") || col("bucket_a") =!= col("bucket_b"))
          .select(col("id_a"), col("id_b"), col("band_id"))
      }

    val rawPairs = delta match {
      case None =>
        // full self-join (the one-shot path — unchanged)
        val la = light.withColumnRenamed("id", "id_a")
        val lb = light.withColumnRenamed("id", "id_b")
        val lightPairs = la.join(lb, Seq("band_id", "key"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), col("band_id"))
        if (noHeavy) lightPairs
        else {
          // heavyPairGen references its input ~5x (hubs, hub join-back, path
          // windows, bucket bounds); over the raw semi-join each reference
          // re-scans the full band relation — a broadcast semi-join has no
          // Exchange boundary, so nothing is reused across references. An
          // eager leaf bounds that to ONE full scan; the materialized rows
          // are heavy-group volume (the rows heavyPairGen processes anyway).
          val heavyRows = Pipeline.leaf(spark, "graft: heavy rows slice") {
            bnds.join(broadcast(heavyKeys), Seq("band_id", "key"), "left_semi")
          }
          lightPairs.unionByName(heavyPairGen(heavyRows))
        }

      case Some(d) =>
        // INCREMENTAL delta: only pairs with >= 1 endpoint in `d.newUrls`
        // (new or changed reps). The light family becomes a new-side x
        // all-side join — the new side is a measured leaf (bndsNew below),
        // so when the increment is small Catalyst plans it as a broadcast
        // join from the start and the PAIR JOIN adds no full-corpus shuffle
        // (the 10^12-doc resume story: candidate-join work scales with the
        // increment). Honest bound: the caller's band-relation leaf costs
        // one full scan of the stored band table per increment, and the
        // sampled heavy detection above scans that leaf in full — a narrow
        // scan plus a sample-volume shuffle, no full-corpus WIDE shuffle
        // (the dictionary sort + dictionary join the one-shot path pays are
        // skipped in delta mode — ids here ARE the urls, see the delta-mode
        // note above). Old-old pairs are excluded by construction; the
        // caller supplies them from the previous run's persisted pairs
        // table (Pipeline.runIncrementalScoped
        // keeps them — candidate generation over unchanged reps is a pure
        // function of the rep set, so those rows cannot have changed).
        //
        // Two increment-sized eager leaves, one job each:
        //  - the new id set, which feeds three consumers (bndsNew, na/nb)
        //    that would each re-run the caller's lineage;
        //  - the new slice of the band relation, referenced by three
        //    consumers (lightNew, touchedHeavy, and the heavy semi below) — as
        //    a lazy semi-join each reference re-scanned the FULL band relation
        //    (no Exchange under a broadcast semi-join => no reuse; measured as
        //    ~143 leaf re-scans / 371 task-s inside one 60k increment's delta
        //    materialization).
        val newIds = Pipeline.leaf(spark, "graft: incr new-band slice") {
          d.newUrls.select(col("url").as("id")).distinct()
        }
        val bndsNew = Pipeline.leaf(spark, "graft: incr new-band slice") {
          bnds.join(newIds, Seq("id"), "left_semi")
        }
        val lightNew =
          if (noHeavy) bndsNew
          else bndsNew.join(broadcast(heavyKeys), Seq("band_id", "key"), "left_anti")
        val lightDelta = light.withColumnRenamed("id", "id_x")
          .join(lightNew.withColumnRenamed("id", "id_y"), Seq("band_id", "key"))
          .filter(col("id_x") =!= col("id_y"))
          .select(least(col("id_x"), col("id_y")).as("id_a"),
            greatest(col("id_x"), col("id_y")).as("id_b"), col("band_id"))

        // heavy keys touched by the increment regenerate their FULL group
        // topology (so the configured routing — star paths or triangle — sees
        // the same group it would see one-shot), then keep only pairs with a
        // new endpoint. Touched heavy keys are few (heavyKeys is broadcast
        // volume by construction), so the over-generation is bounded by the
        // one-shot heavy work on those keys. NOTE: under heavyKeyStar the
        // star/path TOPOLOGY over a grown group differs from the previous
        // run's over the old group, so pair-TABLE parity with a fresh
        // one-shot holds for the salted-triangle routing (all in-group
        // pairs, incremental-stable); star mode keeps the previous run's
        // old-old links — extra conservative edges inside a near-identical
        // group, cluster-equivalent in all but adversarial cases.
        if (noHeavy) lightDelta
        else {
          val touchedHeavy = heavyKeys
            .join(bndsNew.select("band_id", "key").distinct(), Seq("band_id", "key"), "left_semi")
          // same eager-leaf rationale as the one-shot heavyRows above: ~5
          // references inside heavyPairGen, each otherwise a full-relation scan
          val heavyRows = Pipeline.leaf(spark, "graft: heavy rows slice") {
            bnds.join(broadcast(touchedHeavy), Seq("band_id", "key"), "left_semi")
          }
          // no explicit broadcast hint on the new-id flags: an explicit hint
          // cannot be demoted at runtime, so a LARGE increment (the id set is
          // increment-sized, not bounded) would OOM instead of falling back;
          // newIds is a measured leaf, so Catalyst broadcasts it at plan time
          // exactly when it is under the broadcast threshold.
          val na = newIds.select(col("id").as("id_a"), lit(true).as("__na"))
          val nb = newIds.select(col("id").as("id_b"), lit(true).as("__nb"))
          val heavyDelta = heavyPairGen(heavyRows)
            .join(na, Seq("id_a"), "left")
            .join(nb, Seq("id_b"), "left")
            .filter(coalesce(col("__na"), lit(false)) || coalesce(col("__nb"), lit(false)))
            .drop("__na", "__nb")
          lightDelta.unionByName(heavyDelta)
        }
    }
    sortedUrls.foreach(_.unpersist(blocking = false))

    // J3 pair dedup (a pair can collide in several bands); remember whether
    // any colliding band was the sampled-shingle family (substring gate).
    // Keys are two longs — the dedup shuffle hashes/compares 16 bytes, not
    // two url strings.
    val dedup = rawPairs
      .withColumn("from_ss", col("band_id") >= 1000)
      .groupBy("id_a", "id_b")
      .agg(max(col("from_ss")).as("from_ss"))

    // payload join-back at pair volume (Catalyst picks broadcast vs SMJ from
    // the measured size of the rep leaf under `slim`): urls re-enter here.
    // Order isomorphism of the dictionary guarantees id_a < id_b implies
    // url_a < url_b — the pair orientation contract is unchanged. id_a/id_b stay on the pairs table for the union-find
    // (Clusters.assignByIds), which then also shuffles longs.
    val slim = repSlim.select(col("id"), col("url"), col("simhash_head"),
      col("simhash_tail"), col("text_len"), col("size"))
    val slimA = slim.toDF(slim.columns.map(_ + "_a").toIndexedSeq: _*)
    val slimB = slim.toDF(slim.columns.map(_ + "_b").toIndexedSeq: _*)
    dedup.join(slimA, "id_a").join(slimB, "id_b")
  }
}
