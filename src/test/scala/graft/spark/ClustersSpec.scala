package graft.spark

import org.scalatest.funsuite.AnyFunSuite
import graft.core.UnionFind

/** The distributed large-star/small-star rounds, forced (localFinishEdges=0)
  * so the hybrid shortcut cannot mask them — against the sequential
  * union-find on adversarial shapes (SURVEY §7.3: path graphs are the
  * worst case for min-propagation). */
class ClustersSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.spark

  // UnionFind's contract (Signatures.scala): pass Utf8Ordering wherever the
  // result must agree with Spark-side min(url) elections — the implicit
  // Ordering.String is UTF-16 and diverges on supplementary-plane chars.
  private implicit val urlOrd: Ordering[String] = graft.core.Utf8Ordering

  private def check(edges: Seq[(String, String)]): Unit = {
    import spark.implicits._
    val rows = Clusters.connectedComponents(
        edges.toDF("u", "v"), maxRounds = 50, localFinishEdges = 0L)
      .as[(String, String)].collect().toSeq
    // one row per node BEFORE collapsing to a map: a convergence bug that
    // emits a node twice with different roots must not be masked by toMap
    assert(rows.map(_._1).distinct.length === rows.length,
      s"duplicate node rows: ${rows.groupBy(_._1).filter(_._2.length > 1).keys.take(3)}")
    val got = rows.toMap
    val uf = new UnionFind[String]
    edges.foreach { case (a, b) => uf.union(a, b) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = uf.components(nodes)
    assert(got === expected)
  }

  test("path graph (1000 nodes) collapses to one component, min root") {
    val nodes = (0 until 1000).map(i => f"n$i%05d")
    check(nodes.sliding(2).map { case Seq(a, b) => (a, b) }.toSeq)
  }

  test("many small components stay separate") {
    val edges = (0 until 300).flatMap { c =>
      Seq((f"c$c%03d-a", f"c$c%03d-b"), (f"c$c%03d-b", f"c$c%03d-c"))
    }
    check(edges)
  }

  test("random graph matches sequential union-find") {
    val rng = new graft.data.Corpus.Rng(99L)
    val edges = (0 until 2000).map { _ =>
      (f"r${rng.nextInt(700)}%04d", f"r${rng.nextInt(700)}%04d")
    }.filter(e => e._1 != e._2)
    check(edges)
  }

  test("star collision: high-degree hub") {
    val edges = (1 until 500).map(i => ("hub", f"leaf$i%04d"))
    check(edges)
  }

  test("supplementary-plane node names: root election matches UTF8 binary " +
      "order (Java's UTF-16 ordering would elect a different root)") {
    val smiley = new String(Character.toChars(0x1F600)) // surrogate pair
    val pua = "\uE000" // private-use area: UTF-16 sorts it ABOVE the pair
    assert(Ordering.String.compare(pua, smiley) > 0)
    assert(graft.core.Utf8Ordering.compare(pua, smiley) < 0)
    check(Seq((smiley, pua), (smiley + "x", pua), ("za", "zb")))
  }

  test("local-finish gate is a BYTE budget: few edges with pathological url " +
      "lengths route through the distributed rounds, same answer") {
    import spark.implicits._
    // 40 edges x ~40 KB urls ~ 3.2 MB of strings: trivially under the edge
    // COUNT gate, far over a 1 MB byte budget — a row-count gate would
    // collect these onto the driver regardless of string width
    // (the budget counts UnsafeRow bytes: ~40 KB per edge row here)
    val fat = "x" * 20000
    val edges = (0 until 40).map(i => (s"$fat-${i}", s"$fat-${i + 1}"))
    // star rounds are the checkpoint jobs started from Clusters itself
    val starJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.stageInfos.exists(_.name.startsWith("localCheckpoint at Clusters")))
          starJobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val viaBytes =
      try {
        val out = Clusters.connectedComponents(
            edges.toDF("u", "v"), maxRounds = 50,
            localFinishEdges = 1000L, localFinishBytes = 1L << 20)
          .as[(String, String)].collect().toMap
        org.apache.spark.graftclock.TaskClock.drain(sc)
        out
      } finally sc.removeSparkListener(listener)
    assert(starJobs.get > 0, "the byte budget must route these edges through the star rounds")
    val uf = new UnionFind[String]
    edges.foreach { case (a, b) => uf.union(a, b) }
    val expected = uf.components(edges.flatMap(e => Seq(e._1, e._2)).distinct)
    assert(viaBytes === expected)
  }
}
