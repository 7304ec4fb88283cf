package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.core.GraftConfig
import graft.data.CorpusSpark
import graft.spark.{Actions, Clusters, GraftSession, Pipeline}
import graft.store.IcebergShaped

/** spark-submit entry point (north rule: "run via spark-submit on a
  * multi-executor cluster"):
  *
  *   spark-submit --class graft.Main graft.jar dedup \
  *     --pages <parquet path | synth:N> --out <dir> \
  *     [--store <signatures store root>] [--threshold 89] [--exact-verify] \
  *     [--substring-pass] [--langs en,de]
  *
  * The session comes from spark-submit (master/executors/memory are cluster
  * submit args); local runs fall back to local[all cores]. Outputs:
  * <out>/{clusters,pairs,rejects,actions,metrics} as parquet.
  */
object Main {

  // boolean flags never consume the next token (|--substring-pass bench|
  // must not swallow the command); value flags REQUIRE one (|--langs| with
  // no value would otherwise become the literal filter lang IN ('true'),
  // matching nothing and silently emptying the whole run)
  private val boolFlags = Set("exact-verify", "substring-pass")
  private val valueFlags = Set("threshold", "langs", "pages", "store", "out")
  private val knownFlags = boolFlags ++ valueFlags

  private def usage(msg: String): Nothing = {
    System.err.println(s"[graft] $msg")
    System.err.println(
      "usage: dedup [--pages synth:N|root[;root...]] [--threshold 1..100] " +
        "[--exact-verify] [--substring-pass] [--langs en,de] " +
        "[--store ROOT] [--out DIR] | bench")
    sys.exit(2)
  }

  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case f if f.startsWith("--") =>
          val key = f.stripPrefix("--")
          // unknown flags fail fast: a typo ('--substring-pas') would
          // otherwise run the whole job silently with the default behavior
          if (!knownFlags(key)) usage(s"unknown flag --$key")
          if (boolFlags(key)) { m(key) = "true"; i += 1 }
          else if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
            m(key) = args(i + 1); i += 2
          } else usage(s"--$key expects a value")
        case other => m("command") = other; i += 1
      }
    }
    m.toMap
  }

  /** Numeric flag with a usage message instead of a raw
    * NumberFormatException stack trace. */
  private def intFlag(opts: Map[String, String], key: String, default: Int): Int =
    opts.get(key) match {
      case None => default
      case Some(v) => v.toIntOption.getOrElse(usage(s"--$key expects an integer, got '$v'"))
    }

  /** S4 pre-flight root validation (reference: mainwindow.cpp:173-180 shows a
    * "not found" status message for a bad folder and continues with the
    * rest). Returns the existing roots; missing ones go to `log`.
    *
    * Probes through the Hadoop FileSystem of each root's own URI scheme, so
    * remote roots (s3a://, hdfs://, ...) validate against the actual store
    * instead of the driver's local filesystem (round-2 ADVICE: a
    * java.nio.Files.exists pre-check silently skipped every remote root). A
    * root whose filesystem cannot even be instantiated here (no connector on
    * the driver's classpath, auth failure) is KEPT: the scan will surface
    * the real error instead of a misleading "not found". */
  private[graft] def validRoots(spec: String,
                                hadoopConf: org.apache.hadoop.conf.Configuration,
                                log: String => Unit): Seq[String] = {
    val roots = spec.split("[;,]").map(_.trim).filter(_.nonEmpty).toSeq
    val (ok, missing) = roots.partition { p =>
      try {
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(hadoopConf).exists(path)
      } catch { case scala.util.control.NonFatal(_) => true }
    }
    missing.foreach(p => log(s"root not found, skipping: $p"))
    ok
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val command = opts.getOrElse("command", "dedup")

    val builder = SparkSession.builder().appName("graft-dedup")
    // under spark-submit the master comes from the submit args; standalone
    // runs fall back to all local cores
    val spark =
      (if (sys.props.contains("spark.master")) builder
       else builder.master("local[*]")).getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")

    command match {
      case "dedup" =>
        val thr = intFlag(opts, "threshold", 89)
        if (thr < 1 || thr > 100)
          usage(s"--threshold must be in 1..100, got $thr")
        val cfg = GraftConfig(
          threshold = thr,
          exactVerify = opts.contains("exact-verify"),
          substringPass = opts.contains("substring-pass"),
          langFilter = opts.get("langs").map(_.split(",").toSet))
        val pagesSpec = opts.getOrElse("pages", "synth:10000")
        val pages =
          if (pagesSpec.startsWith("synth:"))
            CorpusSpark.pages(spark,
              pagesSpec.stripPrefix("synth:").toLongOption.filter(_ > 0L)
                .getOrElse(usage(s"--pages synth:N expects a positive integer, got '$pagesSpec'")),
              spark.sparkContext.defaultParallelism * 2, cfg.seed)
          else {
            // S3 multi-root union + S4 missing-root diagnostics: ';'- or
            // ','-separated roots; nonexistent ones are reported and skipped,
            // the scan proceeds over the rest (mainwindow.cpp:164-180)
            val roots = validRoots(pagesSpec, spark.sparkContext.hadoopConfiguration,
              m => System.err.println(s"[graft] $m"))
            require(roots.nonEmpty, s"no readable page roots in '$pagesSpec'")
            spark.read.parquet(roots: _*)
          }

        val result = opts.get("store") match {
          case Some(root) =>
            Pipeline.runIncrementalScoped(pages, IcebergShaped.table(root), None, cfg)._1
          case None => Pipeline.run(pages, cfg)
        }

        val out = opts.getOrElse("out", "/tmp/graft-out")
        result.clusters.write.mode(SaveMode.Overwrite).parquet(s"$out/clusters")
        result.pairs.write.mode(SaveMode.Overwrite).parquet(s"$out/pairs")
        result.rejects.write.mode(SaveMode.Overwrite).parquet(s"$out/rejects")
        Actions.fromClusters(result.clusters)
          .write.mode(SaveMode.Overwrite).parquet(s"$out/actions")
        result.metrics.write.mode(SaveMode.Overwrite).parquet(s"$out/metrics")
        result.metrics.collect().foreach(r =>
          println(s"${r.getString(0)} = ${r.getLong(1)}"))
        println("top clusters by reclaimable bytes:")
        Clusters.topClustersByReclaimable(result.clusters, 10).show(false)

      case "bench" => Bench.main(Array.empty)

      case other =>
        System.err.println(s"unknown command '$other' (expected: dedup | bench)")
        sys.exit(2)
    }
    spark.stop()
  }
}
