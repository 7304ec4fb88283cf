package graft.tools

import graft.spark.GraftSession

/** Wall vs in-job profile of named SparkEntry queries — separates execution
  * (inside Spark jobs) from single-threaded driver plan analysis (outside
  * them), the split that caught q_incremental_clusters' ~30 s of per-call
  * re-analysis. Runs each named query twice (cold, then warm: SparkEntry's
  * pipelineCache makes the second run measure only the query's OWN joins,
  * not the shared mode pipeline).
  * Usage: runMain graft.tools.QueryProfile <sfDir> <query...>. */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cpus, "graft-qprof")

    val inJob = new java.util.concurrent.atomic.AtomicLong(0) // ns, summed
    val nJobs = new java.util.concurrent.atomic.AtomicLong(0)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.put(js.jobId, System.nanoTime())
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { t0 =>
          inJob.addAndGet(System.nanoTime() - t0); nJobs.incrementAndGet()
        }
    })

    val qs = graft.SparkEntry.queries
    for (name <- (if (names.isEmpty) qs.keys.toSeq.sorted else names)) {
      qs.get(name) match {
        case None => System.err.println(s"[qprof] unknown query: $name")
        case Some(fn) =>
          for (pass <- Seq("cold", "warm")) {
            inJob.set(0); nJobs.set(0)
            val t0 = System.nanoTime()
            val n = fn(spark, sfDir).count()
            val wall = (System.nanoTime() - t0) / 1e9
            println(f"[qprof] $name%-28s $pass%-4s $wall%7.2f s wall, " +
              f"${inJob.get() / 1e9}%6.2f s in ${nJobs.get()}%3d jobs, $n rows")
            graft.ops.DedupOps.cleanupCaches()
          }
      }
    }
    spark.stop()
  }
}
