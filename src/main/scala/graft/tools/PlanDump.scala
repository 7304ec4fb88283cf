package graft.tools

import graft.core.GraftConfig
import graft.data.CorpusSpark
import graft.spark.{Fingerprints, GraftSession}

/** Dump the physical plan of the fingerprint/sigs materialization (a tuning
  * aid): shows how many times the pages relation is scanned/exchanged by the
  * case-dedup + fingerprint query. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 2000L
    val spark = GraftSession.local(8, "graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    val cfg = GraftConfig()
    val pages = CorpusSpark.pages(spark, n, parts = 16, seed = 42L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pages.count()
    val sigs = Fingerprints.pruneForMode(
      Fingerprints.fromPages(pages, cfg).toDF(), cfg)
    // run it so AQE finalizes, then print the final adaptive plan (collect
    // drives sigs' OWN QueryExecution, so executedPlan reflects the run)
    sigs.collect()
    println("=== FINAL (after AQE) ===")
    println(sigs.queryExecution.executedPlan.toString.take(20000))
    spark.stop()
  }
}
