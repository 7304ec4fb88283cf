package graft.spark

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftConfig
import graft.data.CorpusSpark
import graft.functions.PageFingerprint
import graft.store.IcebergShaped

/** The signature row holds no full-document MinHash: only the per-slot band
  * and rescue keys derived from the slot MinHashes. Stores committed while
  * rows still carried a `minhash` column keep working under the same
  * config_fp: the live view drops the column at read. */
class SignatureSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val cfg = GraftConfig()

  private def tmpStore(): IcebergShaped.Table =
    IcebergShaped.table(Files.createTempDirectory("graft-store").toString)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("no minhash column: expression struct, fromPages, fromPagesTyped, committed snapshot") {
    val pages = CorpusSpark.pages(spark, 60L, 2, cfg.seed)
    assert(PageFingerprint.schema.fieldNames.length === 14)
    assert(!PageFingerprint.schema.fieldNames.contains("minhash"))
    assert(!Fingerprints.fromPages(pages, cfg).columns.contains("minhash"))
    assert(!Fingerprints.fromPagesTyped(pages, cfg).toDF().columns.contains("minhash"))
    // both payload schemas: mode-pruned (default) and full (exact verify)
    for (c <- Seq(cfg, cfg.copy(exactVerify = true))) {
      val store = tmpStore()
      Resume.incrementalFingerprints(pages, store, c)
      val cols = store.read(spark).columns
      assert(cols.contains("mh_bands_head"))
      assert(!cols.contains("minhash"), cols.mkString(", "))
    }
  }

  test("a store whose base snapshot carries minhash resumes like a fresh one") {
    val base = CorpusSpark.pages(spark, 400L, 4, cfg.seed)
    // the batch: new pages plus re-crawls of base pages (stale reps)
    val recrawls = base.filter(pmod(xxhash64(col("url")), lit(8)) === 0)
      .withColumn("warc_ts", timestamp_millis(unix_millis(col("warc_ts")) + lit(86400000L)))
    val batch = CorpusSpark.pages(spark, 560L, 4, cfg.seed).unionByName(recrawls)

    // the base snapshot in the earlier row schema: `minhash` (numPerm longs)
    // between simhash_tail and mh_bands_head, committed under the same
    // config_fp
    val legacy = tmpStore()
    val sigs = Fingerprints.pruneForMode(Fingerprints.fromPagesPreDeduped(
      Fingerprints.dropRecrawlDuplicateUrls(base), cfg), cfg)
    val withMinhash = sigs.select(sigs.columns.toSeq.flatMap { c =>
      if (c == "simhash_tail")
        Seq(col(c), array_repeat(xxhash64(col("url")), cfg.numPerm).as("minhash"))
      else Seq(col(c))
    }: _*)
    legacy.commit(withMinhash.repartition(col("part_id")), cfg.configFp, "overwrite")
    assert(legacy.read(spark).columns.contains("minhash"))

    val fresh = tmpStore()
    val (l1, linc1, ls1) = Pipeline.runIncrementalScoped(base, legacy, None, cfg)
    assert(linc1.newlyFingerprinted === 0L, "the legacy rows must satisfy the resume")
    val (f1, _, fs1) = Pipeline.runIncrementalScoped(base, fresh, None, cfg)
    val (l2, _, _) = Pipeline.runIncrementalScoped(batch, legacy, Some(ls1), cfg)
    val (f2, _, _) = Pipeline.runIncrementalScoped(batch, fresh, Some(fs1), cfg)

    for (live <- Seq(l1.signatures, l2.signatures))
      assert(!live.columns.contains("minhash"), live.columns.mkString(", "))
    assert(l1.signatures.columns.toSeq === f1.signatures.columns.toSeq)
    for ((l, f) <- Seq((l1, f1), (l2, f2))) {
      assert(sortedRows(l.pairs) === sortedRows(f.pairs))
      assert(sortedRows(l.clusters) === sortedRows(f.clusters))
    }
    assert(l2.pairs.filter(col("matched")).count() > 0)
  }
}
