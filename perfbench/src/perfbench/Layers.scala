package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{DocSignatures, Extract, GraftConfig, MinHasher, Similarity, SuffixOverlap}
import graft.data.Corpus
import graft.functions.FingerprintKernel
import graft.spark.{Candidates, Clusters}

/** Per-layer metrics: the program's modules, seen from outside.
  *
  * Spark layers are read from the traced jobs, grouped by the `graft: ...`
  * job descriptions the program sets; the `core` kernels and the distributed
  * union-find are timed by the benchmark's own calls. */
object Layers {

  /** The module each program job label belongs to. */
  def layerOf(label: String): String = label match {
    case "graft: fingerprint materialize" | "graft: url-dedup keys" |
         "graft: url-dedup decisions" => "fingerprints"
    case "graft: url dictionary sort" | "graft: rep projection" | "graft: band relation build" |
         "graft: heavy-key detect" | "graft: heavy rows slice" | "graft: pairs checkpoint" |
         "graft: incr new-band slice" => "candidates"
    case "graft: exact verify" => "pairs.verify"
    case "graft: substring pass" => "pairs.substring"
    case "graft: clustering" | "graft: union-find local finish" |
         "graft: union-find edges checkpoint" | "graft: union-find signature" => "clusters"
    case "graft: incr input count" | "graft: incr sig commit" | "graft: band store commit" |
         "graft: band store update" => "store"
    case "graft: incr reps checkpoint" | "graft: incr new/stale detect" |
         "graft: incr pairs checkpoint" | "graft: incr splice" | "graft: incr assign checkpoint" |
         "graft: incr clustering" => "pipeline.incr"
    case Trace.Output => "output"
    case Trace.Gap => "gap"
    case _ => "unlabeled"
  }

  private val MB = 1024.0 * 1024.0

  /** Layer metrics of one traced operation (Spark layers only). */
  def ofOp(t: OpTrace): Map[String, Double] = {
    def layer(l: String): Seq[LabelCost] = t.labels.collect { case (k, c) if layerOf(k) == l => c }.toSeq
    def wall(l: String) = layer(l).map(_.wallMs).sum / 1e3
    def cpu(l: String) = layer(l).map(_.cpuNs).sum / 1e9
    val all = t.labels.values
    Map(
      "fingerprints.wall_s" -> wall("fingerprints"),
      "fingerprints.task_cpu_s" -> cpu("fingerprints"),
      "candidates.wall_s" -> wall("candidates"),
      "candidates.task_cpu_s" -> cpu("candidates"),
      "candidates.shuffle_write_mb" -> layer("candidates").map(_.shuffleWriteB).sum / MB,
      "pairs.verify_wall_s" -> wall("pairs.verify"),
      "pairs.substring_wall_s" -> wall("pairs.substring"),
      "pairs.substring_max_task_s" -> layer("pairs.substring").map(_.maxTaskMs).foldLeft(0L)(math.max) / 1e3,
      "clusters.wall_s" -> wall("clusters"),
      "store.wall_s" -> wall("store"),
      "store.task_cpu_s" -> cpu("store"),
      "store.bytes_written_mb" -> layer("store").map(_.outputB).sum / MB,
      "store.read_tasks" -> all.map(_.maxStageTasks).foldLeft(0)(math.max).toDouble,
      "pipeline.spark_jobs" -> t.spans.size.toDouble,
      "pipeline.job_gap_s" -> t.gapMs / 1e3,
      "pipeline.unlabeled_wall_s" -> wall("unlabeled"),
      "pipeline.incr_wall_s" -> wall("pipeline.incr"))
  }

  /** Band rows of a result's representatives, through the public
    * `Candidates.bands` (representative = minimum url per text_md5). */
  def bandRows(signatures: DataFrame, cfg: GraftConfig): Long = {
    val valid = signatures.filter(col("reject_reason").isNull)
    val reps = valid.join(valid.groupBy("text_md5").agg(min("url").as("url")), Seq("text_md5", "url"), "left_semi")
    Candidates.bands(reps.withColumn("id", col("url")), cfg).count()
  }

  /** The distributed star rounds of `Clusters.connectedComponents` with the
    * local finish switched off, over matched (url_a, url_b) edges. Returns
    * (seconds, rounds, components) where rounds counts the round checkpoint
    * jobs the trace saw: one eager `localCheckpoint` per star round, run
    * under the benchmark's description (the first edge checkpoint carries the
    * program's own label). */
  def starRounds(spark: SparkSession, trace: Trace, opId: Int,
                 edges: Seq[(String, String)]): (Double, Int, Map[String, String]) = {
    import spark.implicits._
    val df = edges.toDF("u", "v").localCheckpoint()
    val sc = spark.sparkContext
    org.apache.spark.perfbenchbus.Bus.drain(sc)
    trace.detailed = true
    trace.begin(opId)
    sc.setJobDescription("perfbench: star rounds")
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val comp = Clusters.connectedComponents(df, localFinishEdges = 0L)
      .as[(String, String)].collect().toMap
    val sec = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    sc.setJobDescription(null)
    org.apache.spark.perfbenchbus.Bus.drain(sc)
    trace.end()
    trace.detailed = false
    val t = trace.take(opId, w0, w1)
    val rounds = t.spans.count(s => s.label == Trace.Unlabeled && s.resultJob &&
      s.stageName.startsWith("localCheckpoint at Clusters"))
    (sec, rounds, comp)
  }

  /** Single-thread kernel timings on a fixed sample: warm-up passes, then the
    * median of timed passes, in ns per item. */
  def kernels(sample: Seq[Truth.Page], jacPairs: Seq[(String, String)],
              lcsPairs: Seq[(String, String)], fullCfg: GraftConfig): Map[String, Double] = {
    val cfg = GraftConfig()
    val mh = new MinHasher(cfg.numPerm, cfg.seed)
    val htmls = sample.map(_.html).toArray
    val texts = sample.map(_.text).toArray
    val sh = new graft.core.Shingler(cfg.k, cfg.seed)
    val jac = jacPairs.map { case (a, b) =>
      (sh.hashes(Extract.tokens(a)), sh.hashes(Extract.tokens(b)))
    }.toArray
    val kernel = new FingerprintKernel(fullCfg)
    var sink = 0L
    def perItem(items: Int)(body: => Unit): Double = {
      if (items == 0) return 0.0
      var i = 0
      while (i < 3) { body; i += 1 } // warm-up
      val ns = (0 until 7).map { _ =>
        val t0 = System.nanoTime(); body; System.nanoTime() - t0
      }.sorted
      ns(ns.size / 2).toDouble / items
    }
    val out = Map(
      "core.extract_ns_per_doc" -> perItem(htmls.length) {
        htmls.foreach(h => sink += Extract.text(h).length)
      },
      "core.signature_ns_per_doc" -> perItem(texts.length) {
        texts.foreach(t => sink += DocSignatures.of(t, cfg, mh).textLen)
      },
      "core.signature_full_ns_per_doc" -> perItem(htmls.length) {
        var i = 0
        while (i < htmls.length) {
          sink += kernel.evalRow(htmls(i), org.apache.spark.unsafe.types.UTF8String.fromString(texts(i))).numFields
          i += 1
        }
      },
      "core.jaccard_ns_per_pair" -> perItem(jac.length) {
        jac.foreach { case (a, b) => sink += Similarity.jaccardCounts(a, b)._1 }
      },
      "core.lcs_ns_per_pair" -> perItem(lcsPairs.length) {
        lcsPairs.foreach { case (a, b) => sink += SuffixOverlap.longestCommonSubstring(a, b) }
      })
    if (sink == 42L) System.err.println("")
    out
  }

  /** Planted pairs (parent text, variant text) among `specs`: near-duplicate
    * variants for the Jaccard kernel, verbatim-block pastes for the LCS
    * kernel; at most `n` of each, in index order. */
  def plantedPairs(specs: Seq[Inputs.Spec], seed: Long, n: Int): (Seq[(String, String)], Seq[(String, String)]) = {
    val present = specs.filter(_.recrawl == 0).map(_.index).toSet
    def pairs(want: Corpus.Kind => Boolean) = specs.iterator.filter(_.recrawl == 0).map(_.index)
      .filter(i => want(Corpus.kindOf(i)) && present(Corpus.kindOf(i).parent))
      .take(n).map(i => (Corpus.textOf(Corpus.kindOf(i).parent, seed), Corpus.textOf(i, seed))).toSeq
    (pairs {
      case _: Corpus.NearDupSmall | _: Corpus.NearDupLarge | _: Corpus.HeadMod | _: Corpus.TailMod => true
      case _ => false
    }, pairs { case _: Corpus.VerbatimBlock => true; case _ => false })
  }
}
