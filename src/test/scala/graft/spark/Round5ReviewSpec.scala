package graft.spark

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftConfig
import graft.data.{PageRow, CorpusSpark, Render}
import graft.store.IcebergShaped

/** Pins for the round-5 inline-review batch over the incremental-dedup
  * commit: three-valued `via` handling in reverify, whole-row collapse
  * election, lazy rule-1 plan construction, and GC snap-name identity under
  * a poisoned table root. Each test fails on the pre-fix code. */
class Round5ReviewSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  test("reverify: null-via rows land in exactly one branch, never vanish") {
    val cfg = GraftConfig(exactVerify = true)
    val pages = CorpusSpark.pages(spark, 400L, parts = 4, seed = cfg.seed)
    val res = Pipeline.run(pages, cfg)
    // a mixed-schema store read surfaces absent columns as null — simulate
    // `via` coming back null on every row
    val pairsNullVia = res.pairs.withColumn("via", lit(null).cast("string"))
    // fixture sanity: the never-verified stratum whose rows the old
    // three-valued predicate dropped must exist at this corpus
    assert(pairsNullVia.filter(col("jaccard").isNull && col("sim_bits") >= 45)
      .count() > 0, "fixture must exercise the null-jaccard stratum")
    val sigs = res.signatures.filter(col("reject_reason").isNull)
    val rev = Pairs.reverify(pairsNullVia, sigs, cfg, newThreshold = 70)
    assert(rev.count() === res.pairs.count(),
      "a null via must not drop the row from both needVerify and untouched")
  }

  test("same-key collapse elects by EVERY non-key column: survivor invariant " +
    "across partitionings when copies differ only in lang") {
    import spark.implicits._
    val ts = new Timestamp(1700000000000L)
    val text = (0 until 200).map(i => f"word$i%04d").mkString(" ")
    val html = Render.html(text, 1L)
    // ill-formed ingest: four copies of one (url, warc_ts) capture that are
    // byte-identical in text/html but disagree in lang — the old election
    // (text/html hashes only) tied and the survivor was partition-dependent
    val copies = Seq("aa", "bb", "cc", "dd").map(l =>
      PageRow("http://x.test/p", ts, html, text, l))
    val other = PageRow("http://x.test/q", ts,
      Render.html("other words entirely", 2L), "other words entirely", "en")
    def survivors(parts: Int): Seq[(String, String)] =
      Fingerprints.dropRecrawlDuplicateUrls(
        spark.createDataset(copies :+ other).toDF().repartition(parts))
        .select("url", "lang").orderBy("url", "lang")
        .as[(String, String)].collect().toSeq
    val w1 = survivors(1)
    val w8 = survivors(8)
    assert(w1 === w8, "the elected copy must be a pure function of the data")
    assert(w1.count(_._1 == "http://x.test/p") === 1, "copies must collapse")
  }

  test("url dedup rules build lazily: no evaluation at plan-construction time") {
    import spark.implicits._
    val boom = udf((s: String) => {
      if (s != null) throw new RuntimeException("boom-at-execution"); s
    })
    val pages = spark.createDataset(Seq(
      PageRow("http://x.test/a", new Timestamp(0L), Array[Byte](1), "t", "en")))
      .toDF().withColumn("text", boom(col("text")))
    // the lazy dedup's no-job contract: building the dedup plan over a poisoned
    // input must NOT evaluate it (the old dupKeys.isEmpty probe did)
    val planned = Fingerprints.dropCaseDuplicateUrls(pages)
    intercept[Throwable](planned.collect())
  }

  test("gcOrphans: a snap- segment in the table ROOT cannot poison the " +
    "referenced set and delete live snapshots") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-gc-")
    val root = base.resolve("snap-archive").resolve("store")
    val store = IcebergShaped.table(root.toString)
    store.commit(Seq((1, "a"), (2, "b")).toDF("part_id", "v"), "fp")
    // crashed-commit debris beside the live snapshot
    val orphan = root.resolve("data").resolve("snap-999")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("junk.parquet"), "x")
    val removed = store.gcOrphans()
    assert(removed.map(p => java.nio.file.Paths.get(p).getFileName.toString)
      === List("snap-999"), "only the unreferenced dir may be removed")
    assert(store.read(spark).count() === 2, "the live snapshot must survive")
  }
}
