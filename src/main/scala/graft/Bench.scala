package graft

import org.apache.spark.sql.SparkSession
import graft.core.GraftConfig
import graft.data.CorpusSpark
import graft.spark.Pipeline

/** Benchmark main (driver contract): times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and measures end-to-end dedup throughput (docs/sec) on
  * the synthetic corpus — the BASELINE.json headline metric. Prints exactly
  * one JSON line (build.sbt routes forked stdout through raw so the line is
  * machine-parseable even under `sbt runMain`).
  *
  * Measurement hygiene (BENCH/BASELINE.md): this VM's host noise swings
  * identical runs 2.6-3.6x, so the e2e measure is BEST-of-k (interference
  * only ever adds time); all raw samples are reported alongside. Query
  * failures are NEVER swallowed: a broken query records an "err" string in
  * `query_errors`, not a fast timing.
  *
  * Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_E2E_N
  * (override corpus size), SPARK_GRAFT_E2E_K (e2e repetitions, default 3),
  * SPARK_GRAFT_E2E_BUDGET_SEC (e2e wall cap, default 1800),
  * SPARK_GRAFT_SWEEP_BUDGET_SEC (cumulative sweep wall cap, default 900;
  * over-budget queries are skipped AND listed in query_skipped),
  * SPARK_GRAFT_QUERY_CAP_SEC (single-query wall cap, default 180; an
  * over-cap query's jobs are cancelled via its job group and the query is
  * listed in query_capped — its partial time never enters `queries`),
  * SPARK_GRAFT_SKIP_QUERIES=1 (scaling runs time the e2e pipeline only —
  * process-level interleaved legs, so they set K=1 themselves).
  */
object Bench {

  /** Documented-expensive queries, swept LAST (each tier alphabetical).
    * Under host-storm weather these are the ones that inflate past the
    * cumulative budget (round-4 official: q_ngram_jaccard 775 s — an exact
    * all-pairs verifier by design — landed mid-alphabet and its overrun
    * skipped every query after it, including the whole flagship q_webtext_*
    * family). Ordering them last means a budget cut truncates the documented
    * heavy tail, never the broad coverage. */
  private val expensiveLast = Set(
    "q_ann_brute",          // documented n^2 ANN correctness baseline
    "q_minhash_lsh",        // full LSH + exact-verify chain
    "q_ngram_jaccard",      // documented exact all-pairs within blocks
    "q_webtext_grid",       // grid-mode 2x2 pipeline end-to-end
    "q_webtext_grid43",     // widest grid mode (4x3), 12 windows
    "q_webtext_substring")  // suffix-array LCS pass

  /** Host-weather probes, emitted into the bench JSON so a storm-floor
    * artifact is at least LABELED as one (round-4 verdict #1: three rounds
    * of official headlines silently integrated host interference).
    *  - md5_gbps: single-thread MD5 over an L2-resident buffer — CPU-steal
    *    sensitive, bus-insensitive.
    *  - bus_gbps: sequential sum over a 256 MB long array — LLC-exceeding,
    *    measures effective memory bandwidth, the resource the measured
    *    storms contend on (BENCH/BASELINE.md: quiet ~0.6 GB/s/core external
    *    md5 control vs 0.35-0.45 storm). Absolute values are JVM-specific;
    *    compare across runs of THIS probe only. */
  private def weatherProbe(): (Double, Double) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](1 << 20)
    java.util.Arrays.fill(buf, 7.toByte)
    var i = 0
    while (i < 64) { md.update(buf); i += 1 } // JIT warmup
    var t0 = System.nanoTime()
    var bytes = 0L
    while (System.nanoTime() - t0 < 1000000000L) { md.update(buf); bytes += buf.length }
    md.digest()
    val md5Gbps = bytes / ((System.nanoTime() - t0) / 1e9) / 1e9

    val arr = new Array[Long](32 << 20) // 256 MB, far beyond LLC
    i = 0
    while (i < arr.length) { arr(i) = i.toLong; i += 1 }
    var acc = 0L
    var passes = 0L
    t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 1000000000L) {
      var j = 0
      while (j < arr.length) { acc += arr(j); j += 1 }
      passes += 1
    }
    if (acc == 42L) System.err.println("") // keep the sum live
    val busGbps = passes * 256.0 / ((System.nanoTime() - t0) / 1e9) / 1024.0
    (md5Gbps, busGbps)
  }

  def main(args: Array[String]): Unit = {
    // the one-line artifact must parse as JSON on ANY host locale: the f""
    // interpolator is locale-sensitive, and a comma-decimal default (de_DE
    // etc.) would render "value":2072,7
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_LOCAL_DIR overrides the tmpfs default: /dev/shm is fastest
    // for the standard 60k headline, but tmpfs spill is RAM — a large
    // SPARK_GRAFT_E2E_N run whose shuffle + cache spill exceeds the box must
    // spill to real disk or the OOM killer ends the JVM (observed at 2M docs)
    val localDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").getOrElse {
      val d = java.nio.file.Paths.get("/dev/shm/graft-spark")
      try { java.nio.file.Files.createDirectories(d); d.toString }
      catch { case _: Throwable => System.getProperty("java.io.tmpdir") }
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", localDir)
      // 2x cores: a single straggler task then idles half a core's worth of
      // time, not a whole wave; AQE coalescing keeps small stages cheap
      .config("spark.sql.shuffle.partitions", cpus.toInt * 2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val skipQueries = sys.env.get("SPARK_GRAFT_SKIP_QUERIES").contains("1")
    // the probe runs in EVERY mode: skip-queries runs are the scaling-pair
    // legs, exactly the artifacts the weather label exists for — a leg that
    // starts inside a bus storm must carry a real weather_pre, not a 0.00
    // indistinguishable from "probe not run"
    val weatherPre = weatherProbe()

    // CUMULATIVE sweep wall budget (not per-query): once total sweep time
    // crosses it, all remaining queries are skipped so one storm-hit query
    // cannot crowd the e2e reps out of the harness window (round-4 verdict
    // #3: q_ngram_jaccard took 775 s under storm and left budget for only 2
    // of 3 reps). Skipped queries are REPORTED in query_skipped — a
    // truncated sweep must never read as full coverage.
    val sweepBudgetSec =
      sys.env.get("SPARK_GRAFT_SWEEP_BUDGET_SEC").map(_.toDouble).getOrElse(900.0)
    // single-query wall cap: a storm-inflated query is CANCELLED at the cap
    // (its jobs share a per-query job group), recorded in query_capped, and
    // the sweep moves on — so one slow query costs at most capSec, never the
    // rest of the sweep. Combined worst case stays inside the harness
    // envelope: sweep <= budget + one cap overshoot, e2e <= its own budget.
    val capSec =
      sys.env.get("SPARK_GRAFT_QUERY_CAP_SEC").map(_.toDouble).getOrElse(180.0)
    val timings = scala.collection.mutable.Map.empty[String, Double]
    val errors = scala.collection.mutable.Map.empty[String, String]
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    val capped = scala.collection.mutable.ArrayBuffer.empty[String]
    // workers that outlived the cancel grace window: their leftover tasks
    // would silently contaminate later timings (TaskClock sums ALL task
    // ends), so they are tracked, re-awaited before the e2e reps, and any
    // survivor is LABELED in the artifact (sweep_zombies)
    val zombies = scala.collection.mutable.ArrayBuffer.empty[(String, java.util.concurrent.CountDownLatch)]
    // strip quote/backslash AND every control char (RFC 8259 forbids
    // unescaped <0x20; Netty/Hadoop messages embed ESC/FF) — one raw
    // control char invalidates the whole artifact line
    def errString(e: Throwable): String =
      Option(e.getMessage).getOrElse(e.getClass.getName)
        .replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(160)
    var sweepSec = 0.0
    // deterministic sweep order — cheap tier alphabetical, then the
    // documented-expensive tier alphabetical — so a budget cut truncates at
    // a predictable point and drops heavy-tail queries first. The set is
    // name-based; warn (loudly, not fatally) if a rename orphans an entry.
    locally {
      val unknown = expensiveLast -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[bench] WARNING: expensiveLast names not in " +
          s"SparkEntry.queries (rename drift?): ${unknown.mkString(", ")}")
    }
    val sweepOrder = SparkEntry.queries.toSeq
      .sortBy { case (n, _) => (expensiveLast.contains(n), n) }
    if (!skipQueries) sweepOrder.foreach { case (name, fn) =>
      if (sweepSec >= sweepBudgetSec) skipped += name
      else {
        val t0 = System.nanoTime()
        // run the query on a worker thread under its own job group
        // (setJobGroup is thread-local, so the group must be set INSIDE the
        // thread); on cap overrun, cancel the group and wait bounded time
        // for the thread to unwind before starting the next query
        val done = new java.util.concurrent.CountDownLatch(1)
        @volatile var failure: Option[Throwable] = None
        @volatile var wallSec = 0.0
        val sc = spark.sparkContext
        val group = s"bench-sweep-$name"
        val worker = new Thread(() => {
          try {
            sc.setJobGroup(group, name, interruptOnCancel = true)
            fn(spark, sfDir).count()
            wallSec = (System.nanoTime() - t0) / 1e9
          } catch { case e: Throwable => failure = Some(e) }
          finally { sc.clearJobGroup(); done.countDown() }
        }, group)
        worker.setDaemon(true)
        worker.start()
        var finished =
          done.await((capSec * 1000).toLong, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (!finished) {
          // cancel ALL jobs in the group, including ones submitted after
          // this call — plain cancelJobGroup only kills jobs active at that
          // instant, and a multi-action query (AQE re-plans, pipeline
          // phases) cancelled in a driver-side gap between jobs would sail
          // on untouched as a zombie
          sc.cancelJobGroupAndFutureJobs(group)
          // cancellation is cooperative; give the thread a bounded window to
          // unwind (daemon — a stuck one cannot hold the JVM open), then
          // interrupt as a fallback for driver-side work outside any job
          finished = done.await(60000L, java.util.concurrent.TimeUnit.MILLISECONDS)
          if (!finished) worker.interrupt()
        }
        if (!finished) {
          zombies += ((name, done))
          capped += name
          System.err.println(f"[bench] $name capped at $capSec%.0f s; worker " +
            "survived the grace window (tracked as zombie)")
        } else failure match {
          case None =>
            // the worker finished on its own — even if it crossed the cap
            // and the cancel raced a completed job, a real measurement
            // exists; record it rather than discarding it as capped
            timings(name) = wallSec
          case Some(e) =>
            val cancelLike = {
              val m = Option(e.getMessage).getOrElse("").toLowerCase
              m.contains("cancel") || m.contains("interrupt")
            }
            if (cancelLike) {
              capped += name
              System.err.println(f"[bench] $name capped at $capSec%.0f s and cancelled")
            } else errors(name) = errString(e) // a genuine failure in the
            // grace window must land in query_errors, never be read as a cap
        }
        sweepSec += (System.nanoTime() - t0) / 1e9
      }
    }
    // drain zombie workers before anything else is timed; survivors after
    // this second bounded wait are labeled in the artifact
    val sweepZombies = zombies.flatMap { case (name, done) =>
      if (done.await(60000L, java.util.concurrent.TimeUnit.MILLISECONDS)) None
      else Some(name)
    }

    // headline: end-to-end dedup throughput on the deterministic corpus
    // drop the operator-internal caches (DedupOps fingerprint/ngram frames)
    // accumulated by the query sweep before the e2e measurement
    graft.ops.DedupOps.cleanupCaches()

    val e2eN: Long = sys.env.get("SPARK_GRAFT_E2E_N").map(_.toLong).getOrElse {
      if (sfDir.contains("0.1")) 60000L
      else if (sfDir.contains("0.01")) 10000L
      else 2000L
    }
    val e2eK: Int = sys.env.get("SPARK_GRAFT_E2E_K").map(_.toInt).getOrElse(3)
    // best-of-k under non-stationary host noise; cap total e2e wall so a
    // storm-slowed rep cannot blow the harness budget. Default raised
    // 600 -> 1200 (round-4: two storm reps alone exhausted 600 s and the
    // artifact lost its third sample; the sweep has its own budget now)
    // -> 1800 (round-5: deep-storm reps run ~450 s at 60 k — K=3 must
    // complete even then, so the official artifact always carries >= 3
    // samples; quiet runs finish in ~90 s and never touch the cap).
    val budgetSec = sys.env.get("SPARK_GRAFT_E2E_BUDGET_SEC").map(_.toDouble).getOrElse(1800.0)
    // summed task time per rep — the weather-resistant companion to wall
    // time for scaling pairs (see graftclock.TaskClock): identical work every
    // rep, so cpu_sec across parallelism levels measures the job's own
    // contention growth, mostly net of external CPU steal.
    val clock = org.apache.spark.graftclock.TaskClock.install(spark.sparkContext)
    var samples = List.empty[(Double, Long)] // (seconds, matched_pairs) per rep
    var cpuSamples = List.empty[Double] // task executorCpuTime sum per rep
    var runSamples = List.empty[Double] // task executorRunTime sum per rep
    var rep = 0
    while (rep < e2eK && (rep == 0 || samples.map(_._1).sum < budgetSec)) {
      // identical work every rep: drop all cached blocks (the pipeline's
      // internal persists and the pages cache), then re-run from synthesis
      spark.sharedState.cacheManager.clearCache()
      org.apache.spark.graftclock.TaskClock.drain(spark.sparkContext)
      val (cpu0, run0) = (clock.cpuNs.get(), clock.runMs.get())
      val t0 = System.nanoTime()
      // cache + materialize the synthetic input once (counted inside the
      // timing): the pipeline consumes `pages` twice (case-dedup ranking +
      // anti-join probe), and unlike a parquet scan the synthesis map cannot
      // column-prune — uncached it would render every page twice, and AQE's
      // concurrent query stages would race on the unpopulated cache.
      // parts = 8x cores: the planted duplicate families make per-index cost
      // uneven, and small tasks let the scheduler even out stragglers.
      val pages = CorpusSpark.pages(spark, e2eN, parts = cpus.toInt * 8, seed = 42L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pages.count()
      val res = Pipeline.run(pages, GraftConfig())
      // Result is fully materialized by Pipeline.run's metric aggregates
      val allMetrics = res.metrics.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val m = allMetrics.getOrElse("matched_pairs", 0L)
      if (rep == 0) allMetrics.toSeq.sortBy(_._1)
        .foreach { case (k, v) => System.err.println(s"[bench] $k=$v") }
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftclock.TaskClock.drain(spark.sparkContext)
      val cpuSec = (clock.cpuNs.get() - cpu0) / 1e9
      val runSec = (clock.runMs.get() - run0) / 1e3
      System.err.println(f"[bench] e2e rep ${rep + 1}/$e2eK: $sec%.1f s " +
        f"(matched=$m, task cpu $cpuSec%.1f s, task run $runSec%.1f s)")
      samples = samples :+ (sec, m)
      cpuSamples = cpuSamples :+ cpuSec
      runSamples = runSamples :+ runSec
      // UNTIMED between-rep cleanup: clearCache() drops InMemoryRelations
      // but NOT the pipeline's localCheckpoint RDD blocks — those are freed
      // by the ContextCleaner only after the driver GCs the dropped Result;
      // left to chance, each rep's checkpoint blocks (pairs/clusters + the
      // union-find rounds) stay resident into the next rep and later reps
      // run under growing memory pressure. Nudge the cleaner now, outside
      // the timed window.
      System.gc()
      rep += 1
    }
    // headline time and matched count come from the SAME (best) rep; the
    // per-rep matched values are all reported so a flip is visible
    val (e2eSec, matched) = samples.minBy(_._1)
    val matchedStable = samples.map(_._2).distinct.size == 1
    val docsPerSec = e2eN / e2eSec
    val weatherPost = weatherProbe()

    val qs = timings.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val errs = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val skippedJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val cappedJson = capped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val zombieJson = sweepZombies.map("\"" + _ + "\"").mkString("[", ",", "]")
    val samplesJson = samples.map(s => f"${s._1}%.1f").mkString("[", ",", "]")
    val matchedJson = samples.map(_._2).mkString("[", ",", "]")
    val cpuJson = cpuSamples.map(s => f"$s%.1f").mkString("[", ",", "]")
    val runJson = runSamples.map(s => f"$s%.1f").mkString("[", ",", "]")
    def wx(w: (Double, Double)): String =
      s"""{"md5_gbps":${f"${w._1}%.2f"},"bus_gbps":${f"${w._2}%.2f"}}"""
    val line =
      s"""{"metric":"docs_per_sec_e2e","value":${f"$docsPerSec%.1f"},"unit":"docs/sec",""" +
        s""""e2e_docs":$e2eN,"e2e_sec":${f"$e2eSec%.1f"},"e2e_samples":$samplesJson,""" +
        s""""matched_pairs":$matched,"matched_samples":$matchedJson,"matched_stable":$matchedStable,""" +
        s""""task_cpu_sec_samples":$cpuJson,"task_run_sec_samples":$runJson,""" +
        s""""weather_pre":${wx(weatherPre)},"weather_post":${wx(weatherPost)},""" +
        s""""cpus":$cpus,"queries":$qs,"query_errors":$errs,"query_skipped":$skippedJson,""" +
        s""""query_capped":$cappedJson,"sweep_zombies":$zombieJson,"sf":"$sfDir"}"""
    println(line)
    // belt-and-suspenders artifact: the same line as a file, immune to any
    // log-prefix mangling by whatever launched this JVM. latest.json ALWAYS
    // reflects this run (its documented contract); only the per-config
    // RECORD files skip scaling legs (SKIP_QUERIES) — a single pinned-leg
    // sample must not clobber a full-sweep record.
    writeLatest(line)
    if (!skipQueries) writeLocalRecord(line, docsPerSec, e2eN, sfDir)
    spark.stop()
  }

  /** Persist the local record WITHOUT clobbering a better one (round-3
    * verdict #1: a storm-era sweep silently overwrote the committed quiet
    * 2072.7 docs/s record). One record file per (e2e_docs, sf) config —
    * BENCH_LOCAL.json is the official 60000 @ sf0.1 config, every other
    * config advances its own BENCH_LOCAL.<docs>-<sf>.json (round-4 ADVICE
    * #1: the single-file scheme pinned whatever config wrote first). Each
    * file only ever moves FORWARD (faster value); an unreadable or
    * unparseable existing record is KEPT, never overwritten — corruption
    * must not be the path by which a record is lost. The current run always
    * lands verbatim in BENCH_LOCAL.latest.json. */
  private def writeArtifact(p: String, line: String): Unit =
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), line + "\n")
    catch { case scala.util.control.NonFatal(_) => () }

  /** The current run's line, verbatim — written for EVERY run including
    * scaling legs (the record files below have stricter rules). */
  private def writeLatest(line: String): Unit =
    writeArtifact("BENCH_LOCAL.latest.json", line)

  private def writeLocalRecord(line: String, docsPerSec: Double,
                               e2eN: Long, sfDir: String): Unit = {
    def write(p: String): Unit = writeArtifact(p, line)
    val sfTag = sfDir.reverse.takeWhile(_ != '/').reverse
    val official = e2eN == 60000L && sfTag == "sf0.1"
    val path = if (official) "BENCH_LOCAL.json" else s"BENCH_LOCAL.$e2eN-$sfTag.json"
    val keepExisting =
      try {
        val best = java.nio.file.Paths.get(path)
        java.nio.file.Files.exists(best) && {
          val old = java.nio.file.Files.readString(best)
          def f(k: String): Option[String] =
            ("\"" + k + "\":\\s*([^,}\\s\"]+|\"[^\"]*\")").r
              .findFirstMatchIn(old).map(_.group(1))
          // legacy safety: a same-named file holding a DIFFERENT config is
          // never replaced; same config advances only when strictly faster;
          // an unparseable value field keeps the file untouched
          val sameCfg = f("e2e_docs").contains(e2eN.toString) &&
            f("sf").exists(s => s == "\"" + sfDir + "\"" || s.endsWith(sfTag + "\""))
          !sameCfg ||
            f("value").forall(v => v.toDoubleOption.forall(_ > docsPerSec))
        }
      } catch { case scala.util.control.NonFatal(_) => true }
    if (keepExisting)
      System.err.println(s"[bench] $path holds a faster, different-config, or " +
        "unreadable record; this run written to BENCH_LOCAL.latest.json only")
    else write(path)
  }
}
