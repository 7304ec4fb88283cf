package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Transitive closure over matched pairs — the operator the reference leaves
  * implicit (the human walks pairs transitively, comparison.cpp:101-126) made
  * explicit as a distributed union-find (SURVEY §2.9).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond" — public), expressed as
  * DataFrame self-joins:
  *   large-star(u): for v in N(u), v > u: emit (v, min(N+(u)))
  *   small-star(u): for v in N(u), v <= u: emit (v, m) and (u, m),
  *                  m = min(N-(u) ∪ {u})
  * Converges to star graphs rooted at component minima in O(log^2 n) rounds;
  * `localCheckpoint` every round truncates lineage (Catalyst cannot express
  * fixpoints); convergence check = (measured row count, edge-hash sum).
  * cluster_id = min(url) of the component — deterministic (SURVEY C2).
  */
object Clusters {

  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val m = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    sym.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  private def smallStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
    val smaller = sym.filter(col("v") < col("u"))
    val m = smaller.groupBy("u").agg(min("v").as("m"))
    val e1 = smaller.join(m, "u").select(col("v").as("u"), col("m").as("v"))
    val e2 = m.select(col("u"), col("m").as("v"))
    e1.union(e2).filter(col("u") =!= col("v")).distinct()
  }

  private def isStringNodes(edges: DataFrame): Boolean =
    edges.schema("u").dataType == org.apache.spark.sql.types.StringType

  /** Order-free hash of the edge set — with the leaf's row count, the
    * convergence signature of a star round. Hashes are folded mod p so the
    * ANSI-mode sum cannot overflow Long. */
  private def edgeHash(edges: DataFrame): Long =
    edges.agg(coalesce(sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L))), lit(0L)))
      .head().getLong(0)

  /** Connected components of an undirected edge list (columns u, v; node
    * type string url OR long dictionary id — the long path keeps every star
    * round's shuffle at 16 bytes/edge). Returns (url, cluster_id) for every
    * node that appears in an edge (column names are historical; the values
    * are whatever node type came in); callers add singletons.
    *
    * Hybrid execution: star rounds run distributed while the edge set is
    * large; once it fits comfortably on the driver (`localFinishEdges`
    * edges AND `localFinishBytes` of edge rows) the remainder finishes in a
    * path-compressed local union-find — each distributed round costs a
    * checkpoint job + a signature job, and on real corpora the exact-dup
    * pre-grouping leaves a pair graph orders of magnitude smaller than the
    * corpus, so the tail rounds were pure fixed overhead. At 10^12-doc scale
    * with billions of edges the distributed rounds keep running until the
    * graph contracts below the threshold.
    *
    * The gate reads each checkpoint's measured size ([[Pipeline.leafSize]]):
    * rows, and bytes as `UnsafeRow` bytes (24 per long-keyed edge; 24 plus
    * both url strings, each padded to 8 bytes, per url-keyed edge) — a byte
    * budget, not a row count, because url lengths make row counts a wildly
    * unreliable proxy for driver heap. So deciding to finish locally costs no
    * job; the edge-set hash that the convergence check needs runs only once
    * distributed rounds start. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 50,
                          localFinishEdges: Long = 2000000L,
                          localFinishBytes: Long = 256L << 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val stringNodes = isStringNodes(pairs)
    def fitsLocal(cnt: Long, bytes: Long): Boolean =
      cnt <= localFinishEdges && bytes <= localFinishBytes

    def localFinish(e: DataFrame): DataFrame = Pipeline.labeled(spark, "graft: union-find local finish") {
      // one collect job (bounded by the byte budget), not toLocalIterator's
      // job-per-partition driver fan-out
      val labeled =
        if (stringNodes) {
          // Utf8Ordering: the local root election must agree with the
          // distributed rounds' min(url) (Spark UTF8-binary order) on
          // non-BMP urls, or the hybrid switch changes cluster_ids
          implicit val ord: Ordering[String] = graft.core.Utf8Ordering
          val uf = new graft.core.UnionFind[String]
          val nodes = scala.collection.mutable.ArrayBuffer.empty[String]
          e.select(col("u"), col("v")).as[(String, String)].collect()
            .foreach { case (u, v) => uf.union(u, v); nodes += u; nodes += v }
          uf.components(nodes).toSeq.toDF("url", "cluster_id")
        } else {
          val uf = new graft.core.UnionFind[Long]
          val nodes = scala.collection.mutable.ArrayBuffer.empty[Long]
          e.select(col("u"), col("v")).as[(Long, Long)].collect()
            .foreach { case (u, v) => uf.union(u, v); nodes += u; nodes += v }
          uf.components(nodes).toSeq.toDF("url", "cluster_id")
        }
      labeled.groupBy("url").agg(min("cluster_id").as("cluster_id"))
    }

    // EAGER checkpoints are load-bearing ([[Pipeline.leaf]]): with lazy
    // ones, concurrent AQE stage jobs each recomputed the full upstream
    // lineage (measured 12x duplicate 11-22s computations at 200k docs).
    // One eager job here computes the pipeline once; every later stage
    // reads the checkpoint blocks.
    var edges = Pipeline.leaf(spark, "graft: union-find edges checkpoint") {
      pairs.select(col("u"), col("v")).filter(col("u") =!= col("v")).distinct()
    }
    val (edgeRows, edgeBytes) = Pipeline.leafSize(edges)
    if (edgeRows == 0) return {
      if (stringNodes) Seq.empty[(String, String)].toDF("url", "cluster_id")
      else Seq.empty[(Long, Long)].toDF("url", "cluster_id")
    }
    if (fitsLocal(edgeRows, edgeBytes)) return localFinish(edges)

    var cnt = edgeRows
    var sig = Pipeline.labeled(spark, "graft: union-find signature")(edgeHash(edges))
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // measured like a leaf, but bare (not Pipeline.leaf): perfbench
      // counts unlabeled star-round jobs
      edges = org.apache.spark.sql.graftbridge.CheckpointBridge
        .localCheckpoint(smallStar(largeStar(edges)))
      val (c2, b2) = Pipeline.leafSize(edges)
      if (fitsLocal(c2, b2)) return localFinish(edges)
      val s2 = edgeHash(edges)
      converged = (c2, s2) == (cnt, sig)
      cnt = c2; sig = s2
      rounds += 1
    }
    // a non-converged edge set is NOT a star forest — labeling it below
    // would silently assign non-minimal roots; fail loudly instead (star
    // rounds converge in O(log n), so exhausting maxRounds means a bug or a
    // pathological graph the caller must know about)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds star rounds " +
          s"($cnt edges remain) — raise maxRounds; labeling a non-star edge " +
          "set would produce wrong cluster ids")
    // stars: v is the root (= component min); roots label themselves
    edges.select(col("u").as("url"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("url"), col("v").as("cluster_id")))
      .groupBy("url").agg(min("cluster_id").as("cluster_id"))
  }

  /** Cluster assignment for every valid document — matched components plus
    * singletons (cluster_id = own url) — over pairs that carry dictionary
    * ids (id_a/id_b alongside url_a/url_b — Candidates.candidatePairs): the
    * union-find's iterative
    * star rounds shuffle 8-byte longs instead of url strings, and the
    * id->url mapping is recovered from the matched pair rows themselves (no
    * extra dictionary join — every component node, including every root, is
    * an endpoint of some matched edge). Order isomorphism of the dictionary
    * (Candidates.dictionary) makes min-id roots map to min-url cluster ids,
    * so the output is bit-identical to a union-find over the url strings. */
  def assignByIds(validDocs: DataFrame, matchedPairs: DataFrame): DataFrame = {
    val comp = connectedComponents(
      matchedPairs.select(col("id_a").as("u"), col("id_b").as("v")))
      .toDF("nid", "root_id")
    // node-volume mapping (distinct endpoints of matched edges); the min agg
    // is just dedup — id<->url is 1:1
    val nodeMap = matchedPairs.select(col("id_a").as("nid"), col("url_a").as("node_url"))
      .unionByName(matchedPairs.select(col("id_b").as("nid"), col("url_b").as("node_url")))
      .groupBy("nid").agg(min("node_url").as("node_url"))
    val compU = comp
      .join(nodeMap, "nid")
      .join(nodeMap.select(col("nid").as("root_id"), col("node_url").as("cluster_id")),
        "root_id")
      .select(col("node_url").as("url"), col("cluster_id"))
    validDocs.join(compU, Seq("url"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("url")))
  }

  /** Result of [[spliceAssign]]: the new rep-level assignment plus the scale
    * evidence — how many edges the union-find actually saw (bounded by the
    * affected components + the delta, NOT the corpus) and how many previous
    * clusters were touched. */
  final case class Splice(assign: DataFrame, reclusterEdges: Long,
                          affectedClusters: Long, untouchedClusters: Long)

  /** Incremental re-cluster scoped to AFFECTED components (SURVEY §2.10;
    * reference analog: the re-run skip memoization, mainwindow.cpp:153-154 —
    * don't redo unaffected work). An increment contributes delta matched
    * pairs and invalidates stale reps; only components touched by either are
    * re-solved:
    *
    *   affected roots   = prev cluster_ids of delta-pair endpoints and stale
    *                      urls (components can MERGE via a delta edge, SPLIT
    *                      via a stale member's removal, or absorb new reps);
    *   subgraph         = prev matched edges inside affected components
    *                      (minus edges touching stale urls) + delta edges;
    *   splice           = untouched prev assignments pass through verbatim,
    *                      the subgraph re-runs [[connectedComponents]].
    *
    * Untouched components have no delta edges and no stale members, so their
    * one-shot solution is their previous solution — the splice is EXACTLY the
    * one-shot assignment while the union-find input is bounded by the
    * affected subgraph. cluster_id stays component-min-url (C2).
    *
    * @param allReps      current full rep set (url column) — assignment covers
    *                     every row; reps in no edge become singletons
    * @param prevAssign   previous rep-level (url, cluster_id)
    * @param prevMatched  previous matched pairs (url_a, url_b) — BEFORE stale
    *                     filtering; stale-touching edges are dropped here
    * @param deltaMatched matched pairs of the increment (>= 1 new endpoint)
    * @param staleUrls    urls whose previous rows are invalid (removed reps,
    *                     re-crawled/changed content, demoted reps)
    */
  def spliceAssign(allReps: DataFrame, prevAssign: DataFrame,
                   prevMatched: DataFrame, deltaMatched: DataFrame,
                   staleUrls: DataFrame): Splice = {
    val stale = staleUrls.select(col("url")).distinct()
    val keptPrev = prevMatched.select(col("url_a"), col("url_b"))
      .join(stale.select(col("url").as("url_a")), Seq("url_a"), "left_anti")
      .join(stale.select(col("url").as("url_b")), Seq("url_b"), "left_anti")

    // roots touched by the increment: prev clusters of delta endpoints and of
    // stale urls. Delta endpoints with no prev assignment are brand-new reps
    // — they have no prev cluster to pull in (they only add subgraph nodes).
    val touchedUrls = deltaMatched.select(col("url_a").as("url"))
      .unionByName(deltaMatched.select(col("url_b").as("url")))
      .unionByName(stale).distinct()
    val affectedRoots = prevAssign.join(touchedUrls, Seq("url"), "left_semi")
      .select(col("cluster_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val affectedMembers = prevAssign
      .join(affectedRoots, Seq("cluster_id"), "left_semi")
    // prev edges live entirely inside one component, so one endpoint decides
    // persisted: connectedComponents materializes its own deduped CHECKPOINT
    // of this frame, so without the persist the reclusterEdges count below
    // would re-execute the whole anti/semi-join/union plan a second time
    val subEdges = keptPrev
      .join(affectedMembers.select(col("url").as("url_a")), Seq("url_a"), "left_semi")
      .unionByName(deltaMatched.select(col("url_a"), col("url_b")))
      .select(col("url_a").as("u"), col("url_b").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val comp = connectedComponents(subEdges)

    val untouched = prevAssign.join(affectedRoots, Seq("cluster_id"), "left_anti")
      .select(col("url"), col("cluster_id"))
    val assign = allReps.select(col("url"))
      .join(untouched.unionByName(comp.select(col("url"), col("cluster_id"))),
        Seq("url"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("url")))

    // scale evidence in ONE aggregate job (cheap: subEdges and affectedRoots
    // are persisted above, so it reads cached blocks; the untouched count
    // runs at assignment volume). An assignment's cluster_id is never null
    // (every generation's assign coalesces it to the url), so count_distinct
    // counts every untouched cluster.
    val n = subEdges.agg(count(lit(1)))
      .crossJoin(affectedRoots.agg(count(lit(1))))
      .crossJoin(untouched.agg(count_distinct(col("cluster_id"))))
      .head()
    affectedRoots.unpersist(blocking = false)
    subEdges.unpersist(blocking = false)
    Splice(assign, n.getLong(0), n.getLong(1), n.getLong(2))
  }

  /** Keeper election (SURVEY §2.5 W1): the reference highlights the "better"
    * video per pair — bigger size, longer duration, newer, as keep-worthy
    * (comparison.cpp:266-343). Per cluster: rank by size desc, text_len desc,
    * warc_ts asc (older capture = the original), url asc (total order =>
    * deterministic). Rank 1 is the keeper. */
  /** THE keeper-election ordering (W1): one definition, shared by
    * [[electKeepers]] and Actions.fromClusters' rank_in_cluster window — the
    * invariant action='keep' <=> rank_in_cluster=1 holds only while both
    * windows sort identically. */
  private[graft] def keeperOrdering: Seq[org.apache.spark.sql.Column] =
    Seq(col("size").desc, col("text_len").desc, col("warc_ts").asc, col("url").asc)

  def electKeepers(clusters: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cluster_id")).orderBy(keeperOrdering: _*)
    clusters.withColumn("is_keeper", row_number().over(w) === 1)
  }

  /** Flagship aggregation: top duplicate clusters by reclaimable bytes
    * (cluster size sum minus the keeper's copy). */
  def topClustersByReclaimable(withKeepers: DataFrame, k: Int = 20): DataFrame = {
    withKeepers.groupBy("cluster_id").agg(
      count(lit(1)).as("n_docs"),
      sum(col("size")).as("total_bytes"),
      (sum(col("size")) - max(when(col("is_keeper"), col("size")).otherwise(lit(0L)))).as("reclaimable_bytes"),
      min(col("warc_ts")).as("first_seen"))
      .filter(col("n_docs") > 1)
      .orderBy(col("reclaimable_bytes").desc, col("cluster_id").asc)
      .limit(k)
  }

  /** A1 exactly (comparison.cpp:29-47): count of docs with at least one later
    * match, and the sum over those docs of min(size, size of their FIRST
    * match in url order). */
  def matchedReport(matchedPairs: DataFrame): DataFrame = {
    val firstMatch = matchedPairs
      .withColumn("min_size", least(col("size_a"), col("size_b")))
      .groupBy("url_a").agg(min_by(col("min_size"), col("url_b")).as("first_min_size"))
    firstMatch.agg(
      count(lit(1)).as("docs_with_match"),
      sum("first_min_size").as("reclaimable_bytes"))
  }
}
