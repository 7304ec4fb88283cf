package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftConfig
import graft.data.CorpusSpark

/** `Candidates.bands` emits one row per (rep, band key). Two pins:
  *
  *  - parity: its rows equal, as a row set, the formulation it replaced —
  *    one `explode` over a literal array of one struct per band — kept here
  *    as the oracle, on a corpus with short-slot rescue rows and with the
  *    sampled-shingle family on;
  *  - JIT size: no generated method of the band plan exceeds 8,000 bytes of
  *    bytecode: HotSpot does not JIT-compile a larger method
  *    (`DontCompileHugeMethods`, on by default), so it stays interpreted.
  *    The struct-array form generated a ~27 KB method.
  */
class BandExplodeSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark
  private val cfg = GraftConfig(substringPass = true)

  /** Fingerprinted reps keyed by url, materialized like the pipeline's rep
    * projection, so the band plan is the explode alone. */
  private lazy val reps: DataFrame = Pipeline.leaf(spark, "graft: test reps") {
    Fingerprints.fromPages(CorpusSpark.pages(spark, 400L, 4, cfg.seed), cfg)
      .withColumn("id", col("url"))
  }

  /** The replaced formulation, verbatim. */
  private def structArrayBands(reps: DataFrame, cfg: GraftConfig): DataFrame = {
    def family(base: Int, arr: String, n: Int): Seq[Column] = (0 until n).map { b =>
      struct(lit(base + b).as("band_id"), get(col(arr), lit(b)).as("key"))
    }
    val half = cfg.numPerm / 2
    val all = family(100, "mh_bands_head", cfg.minhashBands) ++
      family(200, "mh_bands_tail", cfg.minhashBands) ++
      family(300, "mh_rescue_head", half) ++ family(300 + half, "mh_rescue_tail", half)
    val base = reps.select(col("id"), explode(array(all: _*)).as("b"))
      .select(col("id"), col("b.band_id").as("band_id"), col("b.key").as("key"))
      .filter(col("key").isNotNull)
    val sampled = reps.select(col("id"), explode(col("ss_keys")).as("key"))
      .select(col("id"), lit(1000).as("band_id"), col("key"))
    base.unionByName(sampled)
  }

  test("band rows equal the struct-array explode, rescue and sampled families included") {
    val got = Candidates.bands(reps, cfg)
    val want = structArrayBands(reps, cfg)
    val rescueRows = got.filter(col("band_id").between(300, 300 + cfg.numPerm - 1)).count()
    assert(rescueRows > 0, "the corpus must exercise the short-slot rescue family")
    assert(got.filter(col("band_id") === 1000).count() > 0)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("no generated method of the band plan exceeds 8,000 bytes") {
    val df = Candidates.bands(reps, cfg)
    df.collect() // AQE marks codegen regions only in the FINAL plan
    val stages = codegenStringSeq(df.queryExecution.executedPlan)
    assert(stages.nonEmpty)
    info(s"largest generated method: ${stages.map(_._3.maxMethodCodeSize).max} bytes")
    stages.foreach { case (subtree, _, stats) =>
      assert(stats.maxMethodCodeSize <= 8000,
        s"${stats.maxMethodCodeSize} bytes in\n${subtree.take(800)}")
    }
  }
}
