package graft.tools

import java.nio.file.Files
import graft.core.GraftConfig
import graft.data.CorpusSpark
import graft.spark.{GraftSession, Pipeline}
import graft.store.IcebergShaped

/** CLI surface for checkpointed resume: a scoped increment chain
  * ([[Pipeline.runIncrementalScoped]], each step handed the previous step's
  * state) against an Iceberg-shaped signatures store — half the corpus, then
  * the full corpus (second run fingerprints, bands and re-clusters only the
  * delta), then an unchanged rerun (zero fingerprint work, nothing
  * re-clustered). Prints per-run skip/compute counts and the store's
  * snapshot lineage.
  *
  * Usage: sbt "runMain graft.tools.ResumeDemo [nDocs] [storeDir]"
  */
object ResumeDemo {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000L)
    val root = args.lift(1).getOrElse(
      Files.createTempDirectory("graft-signatures").toString)
    val cfg = GraftConfig()
    val spark = GraftSession.local(
      sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(8), "graft-resume-demo")
    val store = IcebergShaped.table(root)

    def step(label: String, docs: Long, prev: Option[Pipeline.IncState]): Pipeline.IncState = {
      val t0 = System.nanoTime()
      val (res, inc, st) = Pipeline.runIncrementalScoped(
        CorpusSpark.pages(spark, docs, 8, cfg.seed), store, prev, cfg)
      val m = res.metrics.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      println(f"$label: computed=${inc.newlyFingerprinted} skipped=${inc.skipped} " +
        f"clusters=${m("dup_clusters")} matched=${m("matched_pairs")} " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.1fs")
      st
    }

    val st1 = step("run1 (half corpus)", n / 2, None)
    val st2 = step("run2 (full corpus)", n, Some(st1))
    step("run3 (unchanged)  ", n, Some(st2))

    println(s"store=$root version=${store.currentVersion.get} snapshots:")
    var v = store.currentVersion.get
    while (v >= 0) {
      val s = store.snapshotAt(v)
      println(s"  v$v id=${s.snapshotId} op=${s.operation} added=${s.addedRows} total=${s.totalRows} parts=${s.files.size}")
      v -= 1
    }
    spark.stop()
  }
}
