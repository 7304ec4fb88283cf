package graft.spark

import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.core.GraftConfig
import graft.data.{CorpusSpark, Render}
import graft.store.IcebergShaped

/** Every Spark job the pipeline starts carries a `graft: …` description
  * ([[Pipeline.labeled]] / [[Pipeline.leaf]]), so a listener can attribute
  * each job to its phase. An unlabeled job is one whose cost no phase owns. */
class JobLabelSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  /** (description, first stage name) of every job whose description does
    * not start with `graft: `, among the jobs `body` starts. */
  private def unlabeledJobsOf(body: => Unit): Seq[(String, String)] =
    jobsOf(body).filter { case (desc, _) => !desc.startsWith("graft: ") }

  /** (description, first stage name) of every job `body` starts. */
  private def jobsOf(body: => Unit): Seq[(String, String)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties).map(_.getProperty("spark.job.description")).orNull
        seen.add((String.valueOf(desc), j.stageInfos.headOption.map(_.name).getOrElse("?")))
      }
    }
    val sc = spark.sparkContext
    org.apache.spark.graftclock.TaskClock.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftclock.TaskClock.drain(sc)
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  test("Pipeline.run starts only labeled jobs, default and exactVerify+substringPass") {
    val pages = CorpusSpark.pages(spark, 400L, parts = 4, seed = 42L)
    for (cfg <- Seq(GraftConfig(), GraftConfig(exactVerify = true, substringPass = true))) {
      val unlabeled = unlabeledJobsOf { Pipeline.run(pages, cfg) }
      assert(unlabeled.isEmpty, s"unlabeled jobs under $cfg: ${unlabeled.mkString("; ")}")
    }
  }

  /** A base of 320 pages, and an increment of 160 new pages plus a re-crawl
    * of a base page with new text, so the increment has stale reps as well
    * as new ones. */
  private def chain(cfg: GraftConfig) = {
    val base = CorpusSpark.pages(spark, 320L, 4, cfg.seed)
    val victim = graft.data.Corpus.urlOf(0L)
    val newText = (0 until 300).map(i => f"recrawl$i%05d").mkString(" ")
    val recrawl = base.filter(col("url") === victim)
      .withColumn("warc_ts", timestamp_millis(unix_millis(col("warc_ts")) + lit(86400000L)))
      .withColumn("html", lit(Render.html(newText, 3L)))
      .withColumn("text", lit(newText))
    val increment = CorpusSpark.pages(spark, 480L, 4, cfg.seed)
      .filter(col("url") =!= victim).unionByName(recrawl)
    (base, increment)
  }

  test("a two-generation scoped chain with a re-crawl starts only labeled jobs") {
    val cfg = GraftConfig()
    val store = IcebergShaped.table(Files.createTempDirectory("graft-store").toString)
    val (base, increment) = chain(cfg)
    val unlabeled = unlabeledJobsOf {
      val (_, _, st1) = Pipeline.runIncrementalScoped(base, store, None, cfg)
      Pipeline.runIncrementalScoped(increment, store, Some(st1), cfg)
    }
    assert(unlabeled.isEmpty, s"unlabeled jobs: ${unlabeled.mkString("; ")}")
  }

  test("an increment's store pass starts at most 12 jobs, none of them an input count") {
    val cfg = GraftConfig()
    val store = IcebergShaped.table(Files.createTempDirectory("graft-store").toString)
    val (base, increment) = chain(cfg)
    val (_, _, st1) = Pipeline.runIncrementalScoped(base, store, None, cfg)
    val storeLabels = Set("graft: incr input count", "graft: url-dedup decisions",
      "graft: incr sig commit", "graft: incr live keys", "graft: incr live view")
    val jobs = jobsOf { Pipeline.runIncrementalScoped(increment, store, Some(st1), cfg) }
      .map(_._1).filter(storeLabels)
    assert(!jobs.contains("graft: incr input count"), jobs.mkString("; "))
    assert(jobs.size <= 12, s"${jobs.size} store jobs: " +
      jobs.groupBy(identity).map { case (l, js) => s"$l x${js.size}" }.mkString("; "))
  }
}
