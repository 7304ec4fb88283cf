package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GraftConfig
import graft.data.Corpus
import graft.spark.{Actions, Pipeline}
import graft.store.IcebergShaped
import org.apache.spark.perfbenchbus.Bus

/** One timed operation: a pipeline rep or one increment. */
final case class Op(id: Int, round: Int, gen: Int, docs: Long, wallS: Double, cpuS: Double,
                    shuffleMb: Double, gcS: Double, writeS: Double, outDir: String,
                    trace: Option[OpTrace], counts: Map[String, Double] = Map.empty)

/** What every workload shares: the session, the listener, the run
  * directory, and the timed-operation wrapper. */
final class Ctx(val spark: SparkSession, val trace: Trace, val runDir: String,
                val truthDir: String, val seed: Long, val cores: Int, val rebuildTruth: Boolean) {
  private var nextId = 0
  def sc = spark.sparkContext

  def pages(path: String): DataFrame = spark.read.parquet(path)

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Writes what `graft.Main dedup` writes: clusters, pairs, rejects, actions. */
  def write(res: Pipeline.Result, dir: String): Unit = {
    res.clusters.write.mode(SaveMode.Overwrite).parquet(s"$dir/clusters")
    res.pairs.write.mode(SaveMode.Overwrite).parquet(s"$dir/pairs")
    res.rejects.write.mode(SaveMode.Overwrite).parquet(s"$dir/rejects")
    Actions.fromClusters(res.clusters).write.mode(SaveMode.Overwrite).parquet(s"$dir/actions")
  }

  /** Times `run` plus the output writes, from the first read of the input
    * table to the last output file. Returns the op and the result. */
  def timed(round: Int, gen: Int, docs: Long, traced: Boolean)(run: => Pipeline.Result): (Op, Pipeline.Result) = {
    val id = nextId; nextId += 1
    val outDir = s"$runDir/out/op-$id"
    Bus.drain(sc)
    trace.detailed = traced
    trace.begin(id)
    val (cpu0, sw0) = trace.totals
    val busy0 = trace.busy
    val gc0 = gcMs()
    sc.setJobDescription(Trace.Pipeline)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try run finally sc.setJobDescription(null)
    sc.setJobDescription(Trace.Output)
    val tw = System.nanoTime()
    try write(res, outDir) finally sc.setJobDescription(null)
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    Bus.drain(sc)
    trace.end()
    val (cpu1, sw1) = trace.totals
    val tr = if (traced) Some(trace.take(id, w0, w1)) else None
    trace.detailed = false
    // tracing overhead: the listener's bookkeeping time over the op's wall
    val overhead = Map("trace.overhead_share" -> (trace.busy - busy0) / (t1 - t0).toDouble)
    (Op(id, round, gen, docs, (t1 - t0) / 1e9, (cpu1 - cpu0) / 1e9, (sw1 - sw0) / 1048576.0,
      (gcMs() - gc0) / 1e3, (t1 - tw) / 1e9, outDir, tr, if (traced) overhead else Map.empty), res)
  }

  /** Untimed clean-up between operations: drop cached frames and let the
    * context cleaner free the previous result's checkpoint blocks. */
  def settle(clearCache: Boolean): Unit = {
    if (clearCache) spark.sharedState.cacheManager.clearCache()
    System.gc()
  }

  /** Counts a traced op adds from its result (untimed). */
  def resultCounts(res: Pipeline.Result, cfg: GraftConfig): Map[String, Double] = {
    val hasOverlap = res.pairs.columns.contains("overlap_len")
    val r = res.pairs.agg(count(lit(1)), coalesce(sum(when(col("matched"), 1L)), lit(0L)),
      if (hasOverlap) count(col("overlap_len")) else lit(0L)).head()
    val cand = r.getLong(0).toDouble
    Map("candidates.candidate_pairs" -> cand,
      "candidates.matched_per_candidate" -> (if (cand > 0) r.getLong(1) / cand else 0.0),
      "pairs.substring_checked" -> r.getLong(2).toDouble,
      "candidates.band_rows" -> Layers.bandRows(res.signatures, cfg).toDouble)
  }

  /** Cache key of a truth: a version of the truth code, then the parts. */
  def truthKey(parts: Any*): String = ("perfbench-truth-v2" +: parts.map(_.toString)).mkString("|")
}

object Ctx {
  def dirBytes(p: String): Long =
    if (!Files.exists(Paths.get(p))) 0L
    else {
      val s = Files.walk(Paths.get(p))
      try s.filter(Files.isRegularFile(_)).mapToLong((f: Path) => Files.size(f)).sum()
      finally s.close()
    }
}

/** A workload: set-up (inputs written, warm-up), whole rounds of timed
  * operations, and the checks of every operation against the truth. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  def cfg: GraftConfig
  /** Set-up; returns the number of warm-up operations run and dropped. */
  def setup(): Int
  def round(r: Int, traced: Boolean): Seq[Op]
  /** Failures per op id (ops absent from the map passed). */
  def check(ops: Seq[Op]): Map[Int, List[String]]
  /** Bytes the workload keeps on disk, per op. */
  def storeMb(op: Op): Double
  /** Inputs the core kernels are timed on. */
  def specs: Seq[Inputs.Spec]
  /** Matched (url_a, url_b) edges of an op, for the star-round timing. */
  def matchedEdges(op: Op): Seq[(String, String)] = Checks.read(ctx.spark, op.outDir).matched.toSeq.sorted
  def opsPerRound: Int
}

/** oneshot and verify_substring: `Pipeline.run` over one page table. One
  * untimed warm-up rep takes the JVM's cold first pass out of the timing. */
final class OneShot(ctx: Ctx, val name: String, val cfg: GraftConfig, val specs: Seq[Inputs.Spec])
    extends Workload(ctx) {
  val opsPerRound = 1
  private val input = s"${ctx.runDir}/pages"

  def setup(): Int = {
    Inputs.write(ctx.spark, specs, ctx.seed, input, 2 * ctx.cores)
    ctx.write(Pipeline.run(ctx.pages(input), cfg), s"${ctx.runDir}/warmup")
    ctx.settle(clearCache = true)
    1
  }

  def round(r: Int, traced: Boolean): Seq[Op] = {
    val (op, res) = ctx.timed(r, 0, specs.size, traced)(Pipeline.run(ctx.pages(input), cfg))
    val withCounts = if (traced) op.copy(counts = op.counts ++ ctx.resultCounts(res, cfg)) else op
    ctx.settle(clearCache = true)
    Seq(withCounts)
  }

  def storeMb(op: Op): Double = Ctx.dirBytes(op.outDir) / 1048576.0

  private lazy val pages = Truth.pagesOf(specs, ctx.seed, ctx.cores)
  private lazy val pagesByUrl: Map[String, Truth.Page] = pages.map(p => p.url -> p).toMap

  private lazy val truth: Truth.Live =
    Truth.cached(ctx.truthDir, ctx.truthKey(name, Truth.digest(pages), cfg), ctx.rebuildTruth) {
      Truth.compute(pages, cfg, ctx.cores)
    }

  def check(ops: Seq[Op]): Map[Int, List[String]] = {
    val outs = ops.map(o => o.id -> Checks.read(ctx.spark, o.outDir)).toMap
    if (!cfg.exactVerify) {
      val kinds = specs.map(s => Corpus.urlOf(s.index) -> Corpus.kindOf(s.index))
        .filter(k => truth.clusters.contains(k._1) || truth.rejects.contains(k._1)).toMap
      outs.map { case (id, o) => id -> Checks.oneshot(o, truth, kinds, Corpus.urlOf) }
    } else {
      // reference LCS lengths, cached per input next to the truth
      val key = ctx.truthKey(name, "lcs", Truth.digest(pages), cfg)
      val known = mutable.HashMap.empty[(String, String), Int] ++=
        (if (ctx.rebuildTruth) None else Truth.load[Map[(String, String), Int]](ctx.truthDir, key)).getOrElse(Map.empty)
      val missing = outs.values.flatMap(_.pairs.filter(_.overlap.isDefined).map(p => (p.a, p.b)))
        .toSet.filterNot(known.contains).toIndexedSeq
      if (missing.nonEmpty || ctx.rebuildTruth) {
        val lens = Truth.par(missing.size, ctx.cores) { j =>
          val (a, b) = missing(j)
          Truth.lcs(pagesByUrl.get(a).map(_.text).orNull, pagesByUrl.get(b).map(_.text).orNull)
        }
        missing.zip(lens).foreach { case (p, l) => known(p) = l }
        Truth.store(ctx.truthDir, key, known.toMap)
      }
      outs.map { case (id, o) =>
        id -> Checks.verify(o, truth, cfg.minSubstringOverlap, (a, b) => known((a, b)))
      }
    }
  }
}

/** incremental: a base generation committed in set-up, then a fixed chain of
  * `Pipeline.runIncrementalScoped` increments, each handed only its batch.
  * Every round rolls both store tables back to the base snapshot and
  * replays the same chain from the base state. */
final class Incremental(ctx: Ctx) extends Workload(ctx) {
  val name = "incremental"
  val cfg = GraftConfig()
  private val batches = Inputs.incremental(ctx.seed)
  def specs: Seq[Inputs.Spec] = batches.flatten
  def opsPerRound: Int = batches.size - 1
  private val storeRoot = s"${ctx.runDir}/store"
  private val sigStore = IcebergShaped.table(storeRoot)
  private val bandStore = IcebergShaped.table(storeRoot + "/bands")
  private def batchPath(k: Int) = s"${ctx.runDir}/batch-$k"
  private var base: Pipeline.IncState = _
  private var baseVersions = (0, 0)
  private val storeBytes = mutable.HashMap.empty[Int, Double]

  /** The one call into the scoped incremental entry. */
  private def increment(k: Int, prev: Option[Pipeline.IncState]): (Pipeline.Result, Pipeline.IncState) = {
    val (res, _, st) = Pipeline.runIncrementalScoped(ctx.pages(batchPath(k)), sigStore, prev, cfg)
    (res, st)
  }

  def setup(): Int = {
    batches.indices.foreach(k => Inputs.write(ctx.spark, batches(k), ctx.seed, batchPath(k), ctx.cores))
    val (res0, st0) = increment(0, None)
    res0.clusters.count()
    base = st0
    baseVersions = (sigStore.currentVersion.get, bandStore.currentVersion.get)
    ctx.settle(clearCache = false)
    0 // the base generation, a full first-generation run, is the warm-up
  }

  private def reset(last: Pipeline.IncState): Unit = {
    last.retained.foreach(_.unpersist(false))
    sigStore.rollback(baseVersions._1)
    bandStore.rollback(baseVersions._2)
    ctx.settle(clearCache = true)
  }

  def round(r: Int, traced: Boolean): Seq[Op] = {
    var st = base
    val ops = (1 until batches.size).map { k =>
      val (op, res) = ctx.timed(r, k, batches(k).size, traced) {
        val (res, next) = increment(k, Some(st))
        st = next
        res
      }
      val withCounts = if (traced) op.copy(counts = op.counts ++ ctx.resultCounts(res, cfg)) else op
      ctx.settle(clearCache = false)
      withCounts
    }
    storeBytes(r) = (sigStore.liveFiles ++ bandStore.liveFiles).map(f => Ctx.dirBytes(f.path)).sum / 1048576.0
    reset(st)
    ops
  }

  def storeMb(op: Op): Double = storeBytes(op.round)

  private lazy val truths: IndexedSeq[Truth.Live] = {
    val pages = batches.map(b => Truth.pagesOf(b, ctx.seed, ctx.cores))
    Truth.cached(ctx.truthDir, ctx.truthKey(name, Truth.digest(pages.flatten), batches.map(_.size), cfg),
      ctx.rebuildTruth) {
      (0 until batches.size).map(k => Truth.compute(pages.take(k + 1).flatten, cfg, ctx.cores)).toVector
    }
  }

  def check(ops: Seq[Op]): Map[Int, List[String]] =
    ops.map(o => o.id -> Checks.incremental(Checks.read(ctx.spark, o.outDir), truths(o.gen))).toMap
}
