package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.core.GraftConfig

/** The benchmark JVM: one workload, one seed, one run.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cores C --work DIR --result FILE [--rebuild-truth]
  *
  * Set-up (session, input tables, incremental base, warm-up) is timed from
  * JVM start as setup_s. Then whole rounds of timed operations run until
  * `--seconds` have passed (at least one round). Outputs are then checked
  * against the truth, and the result JSON is written to FILE. Annotation
  * lines go to standard output, prefixed "[perfbench]". */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
                        work: String, result: String, rebuildTruth: Boolean)

  def parse(args: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "rebuild-truth") { m(k) = "1"; i += 1 }
      else { require(i + 1 < args.length, s"--$k expects a value"); m(k) = args(i + 1); i += 2 }
    }
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1", m("cores").toInt,
      m("work"), m("result"), m.contains("rebuild-truth"))
  }

  def say(s: String): Unit = println(s"[perfbench] $s")

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val code =
      try run(parse(args))
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  private def deleteTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path)) {
      val s = Files.walk(path)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
  }

  def session(a: Args, runDir: String): SparkSession =
    SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      // every file Spark writes stays inside the run directory
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$runDir/hadoop")
      // the program's standing session settings (graft.spark.GraftSession.local)
      .config("spark.sql.shuffle.partitions", a.cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)
      .getOrCreate()

  /** Host-weather probes (annotations only): single-thread MD5 throughput
    * and a sequential sum over a 64 MB array, about 0.15 s each. */
  def weather(): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = Array.fill[Byte](1 << 20)(7)
    (0 until 32).foreach(_ => md.update(buf))
    var t0 = System.nanoTime(); var bytes = 0L
    while (System.nanoTime() - t0 < 150000000L) { md.update(buf); bytes += buf.length }
    val md5 = bytes / ((System.nanoTime() - t0) / 1e9) / 1e9
    val arr = Array.tabulate[Long](8 << 20)(_.toLong)
    var acc = 0L; var passes = 0
    t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 150000000L) {
      var j = 0
      while (j < arr.length) { acc += arr(j); j += 1 }
      passes += 1
    }
    val bus = passes * 64.0 / ((System.nanoTime() - t0) / 1e9) / 1024.0
    if (acc == 42L) System.err.println("")
    f"md5_gbps=$md5%.2f bus_gbps=$bus%.2f"
  }

  /** (steal, total) jiffies of the machine's CPUs, from /proc/stat. */
  def stealShare(): (Double, Double) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").drop(1).map(_.toDouble)
      (if (v.length > 7) v(7) else 0.0, v.sum)
    } finally f.close()
  }

  def peakRssMb(): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally f.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(a: Args): Int = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val runDir = s"${a.work}/run"
    deleteTree(runDir)
    Files.createDirectories(Paths.get(runDir))
    val weatherPre = weather()
    val spark = session(a, runDir)
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace
    spark.sparkContext.addSparkListener(trace)
    val ctx = new Ctx(spark, trace, runDir, s"${a.work}/truth", a.seed, a.cores, a.rebuildTruth)
    val wl: Workload = a.workload match {
      case "oneshot" => new OneShot(ctx, "oneshot", GraftConfig(), Inputs.oneshot)
      case "verify_substring" =>
        new OneShot(ctx, "verify_substring", GraftConfig(exactVerify = true, substringPass = true),
          Inputs.verify)
      case "incremental" => new Incremental(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val tSession = (System.currentTimeMillis() - jvmStart) / 1e3
    val warmups = wl.setup()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    say(f"workload=${wl.name} seed=${a.seed} nproc=${a.cores} heap_mb=${Runtime.getRuntime.maxMemory / 1048576} " +
      f"trace=${a.trace} input_docs=${wl.specs.size}")
    say(f"setup_s=$setupS%.2f (jvm+session ${tSession}%.2f s); warm-up ops run and dropped: $warmups")

    // whole rounds until the run length is reached, at least one; in a
    // traced run every round is traced
    val ops = mutable.ArrayBuffer.empty[Op]
    val errors = mutable.ArrayBuffer.empty[String]
    val steal0 = stealShare()
    val t0 = System.nanoTime()
    var r = 0
    var broken = false
    while (!broken && (r == 0 || System.nanoTime() - t0 < a.seconds * 1000000000L)) {
      try ops ++= wl.round(r, a.trace)
      catch {
        case e: Throwable =>
          errors += s"round $r: $e"
          e.printStackTrace()
          broken = true
      }
      r += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    val steal1 = stealShare()
    // a round that threw counts whole: every op it would have run failed
    val attempted = ops.size + (if (broken) wl.opsPerRound else 0)

    ops.foreach { o =>
      say(f"op ${o.id} round ${o.round} gen ${o.gen}: wall ${o.wallS}%.3f s, ${o.docs / o.wallS}%.1f docs/s, " +
        f"task cpu ${o.cpuS}%.2f s, shuffle ${o.shuffleMb}%.2f MB, gc ${o.gcS}%.2f s, write ${o.writeS}%.3f s" +
        (if (o.trace.isDefined) " [traced]" else ""))
    }

    // checks against the truth (outside the timed window)
    val tCheck = System.nanoTime()
    val failures = if (ops.isEmpty) Map.empty[Int, List[String]] else wl.check(ops.toSeq)
    val failedOps = ops.count(o => failures.getOrElse(o.id, Nil).nonEmpty) + (attempted - ops.size)
    failures.toSeq.sortBy(_._1).foreach { case (id, fs) => fs.foreach(f => say(s"CHECK FAILED op $id: $f")) }
    errors.foreach(e => say(s"ERROR $e"))
    say(f"checks took ${(System.nanoTime() - tCheck) / 1e9}%.2f s; attempted=$attempted failed=$failedOps")

    var extraOk = true
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val ok = ops.filter(o => failures.getOrElse(o.id, Nil).isEmpty)
        Seq(("setup_s", setupS, "s"),
          ("docs_per_s", median(ok.map(o => o.docs / o.wallS).toSeq), "docs/s"),
          ("task_cpu_s", median(ok.map(_.cpuS).toSeq), "s"),
          ("shuffle_write_mb", median(ok.map(_.shuffleMb).toSeq), "MB"),
          ("peak_rss_mb", peakRssMb(), "MB"),
          ("store_mb", median(ok.map(wl.storeMb).toSeq), "MB"))
      } else {
        val traced = ops.toSeq
        traced.foreach(o => Report.labels(o))
        val perOp = traced.map(o => Layers.ofOp(o.trace.get) ++ o.counts ++ Map(
          "output.write_wall_s" -> o.writeS, "jvm.gc_s" -> o.gcS))
        val keys = perOp.flatMap(_.keys).distinct
        val layerMed = keys.map(k => k -> median(perOp.map(_.getOrElse(k, 0.0)))).toMap
        // star rounds over the last traced op's matched edges
        val edges = traced.lastOption.map(wl.matchedEdges).getOrElse(Nil)
        val (starS, rounds, comp) = Layers.starRounds(spark, trace, -2, edges)
        val want = Truth.clustersOf(edges.flatMap(e => Seq(e._1 -> e._1, e._2 -> e._2)).toMap, edges)
        if (comp != want) { extraOk = false; say("CHECK FAILED: star-round components differ from the truth's") }
        // core kernels on a fixed sample of this workload's inputs
        val sampleSpecs = wl.specs.filter(_.recrawl == 0).take(200)
        val sample = Truth.pagesOf(sampleSpecs, a.seed, 1)
        val (jacPairs, lcsPairs) = Layers.plantedPairs(wl.specs, a.seed, 50)
        val kern = Layers.kernels(sample, jacPairs, lcsPairs,
          GraftConfig(exactVerify = true, substringPass = true))
        say(f"traced ops: median ${median(traced.map(o => o.docs / o.wallS))}%.2f docs/s and " +
          f"${median(traced.map(_.cpuS))}%.2f s task cpu (compare with the untraced runs' docs_per_s and " +
          f"task_cpu_s); listener bookkeeping ${layerMed.getOrElse("trace.overhead_share", 0.0) * 100}%.2f%% of wall")
        Report.perLayer(layerMed ++ kern ++ Map(
          "clusters.star_rounds_s" -> starS, "clusters.star_rounds" -> rounds.toDouble))
      }
    val stolen = (steal1._1 - steal0._1) / math.max(1.0, steal1._2 - steal0._2)
    say(f"weather pre: $weatherPre; post: ${weather()}; cpu steal during the timed rounds ${stolen * 100}%.1f%%; " +
      f"measured $measureS%.1f s in $r rounds")
    val json = Report.json(extraOk, attempted, failedOps, metrics)
    Files.writeString(Paths.get(a.result), json + "\n")
    spark.stop()
    0
  }
}
