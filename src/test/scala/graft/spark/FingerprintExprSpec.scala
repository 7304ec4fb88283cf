package graft.spark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftConfig
import graft.data.CorpusSpark

/** Parity: the native PageFingerprint expression path must produce rows
  * identical to the typed-map path, and must run inside whole-stage codegen
  * (no CodegenFallback iterator). */
class FingerprintExprSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val cfg = GraftConfig()

  test("expression path == typed path, field for field") {
    val pages = CorpusSpark.pages(spark, 400L, 4, cfg.seed)
    val cols = Seq("url", "content_id", "part_id", "text_len", "size", "text_md5",
      "simhash_head", "simhash_tail", "mh_bands_head", "mh_bands_tail",
      "mh_rescue_head", "mh_rescue_tail", "shingles_head", "shingles_tail",
      "ss_keys", "extract_ok", "config_fp", "reject_reason")
    val a = Fingerprints.fromPages(pages, cfg)
      .select(cols.map(col): _*).orderBy("url").collect()
    val b = Fingerprints.fromPagesTyped(pages, cfg).toDF()
      .select(cols.map(col): _*).orderBy("url").collect()
    assert(a.length === b.length)
    a.zip(b).foreach { case (ra, rb) =>
      cols.indices.foreach { i =>
        (ra.get(i), rb.get(i)) match {
          case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
            assert(x == y, s"${cols(i)} for ${ra.get(0)}")
          case (x, y) => assert(x == y, s"${cols(i)} for ${ra.get(0)}")
        }
      }
    }
  }

  test("expression participates in whole-stage codegen") {
    val pages = CorpusSpark.pages(spark, 10L, 1, cfg.seed)
    val df = Fingerprints.fromPages(pages, cfg)
    df.collect() // AQE marks codegen regions only in the FINAL plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), plan.take(300))
    // the fingerprint project must sit INSIDE a codegen region (marked *(n))
    assert(plan.linesIterator.exists(l =>
      l.contains("page_fingerprint") && l.contains("*(")),
      plan.take(3000))
  }
}
