package graft.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Pipeline.leaf]] hands the planner the size it materialized: the leaf's
  * statistics carry its exact row count and the summed `UnsafeRow` bytes of
  * its rows, counted inside the one checkpoint job. */
class LeafSizeSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  /** Sum of the rows' `UnsafeRow` sizes, computed from `df`'s own plan. */
  private def unsafeBytes(df: DataFrame): Long = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      Iterator.single(it.map(r => proj(r).getSizeInBytes.toLong).sum)
    }.fold(0L)(_ + _)
  }

  private def check(name: String, source: => DataFrame): Unit = {
    val label = s"graft: leaf-size spec $name"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(j.properties.getProperty("spark.job.description")))
    }
    val sc = spark.sparkContext
    org.apache.spark.graftclock.TaskClock.drain(sc)
    sc.addSparkListener(listener)
    val leaf =
      try {
        val l = Pipeline.leaf(spark, label)(source)
        org.apache.spark.graftclock.TaskClock.drain(sc)
        l
      } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    assert(jobs.asScala.toSeq === Seq(label), s"$name: jobs of the leaf build")

    val rdds = leaf.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
    assert(rdds.length === 1 && rdds.head.isCheckpointed, s"$name: not a checkpoint leaf")
    val st = leaf.queryExecution.analyzed.stats
    val (rows, bytes) = Pipeline.leafSize(leaf)
    assert(st.rowCount === Some(BigInt(rows)) && st.sizeInBytes === BigInt(bytes))
    assert(rows === source.count(), s"$name: row count")
    assert(bytes === unsafeBytes(source), s"$name: UnsafeRow bytes")
    assert(leaf.count() === rows, s"$name: the leaf's own rows")
  }

  test("fixed-width leaf: row count and UnsafeRow bytes are exact, one labeled job") {
    check("fixed", spark.range(0, 1000, 1, 4)
      .select(col("id"), (col("id") * 3).as("x"), (col("id") % 7 === 0).as("b")))
  }

  test("leaf with string and array columns: variable-width rows are sized exactly") {
    check("varwidth", spark.range(0, 700, 1, 3).select(
      col("id"),
      repeat(lit("ab"), (col("id") % 50).cast("int")).as("s"),
      sequence(lit(0L), col("id") % 20).as("arr"),
      when(col("id") % 5 === 0, lit(null).cast("string")).otherwise(col("id").cast("string")).as("n")))
  }

  test("empty leaf: zero rows, zero bytes") {
    check("empty", spark.range(0, 100, 1, 2).filter(col("id") < 0).select(col("id"), lit("x").as("s")))
  }
}
